"""Round-10 probes: exact distributed isotonic calibration (the
minimax/PAVA monotone fit on a bounded quantized score axis) and
covariate-shift importance weighting (smoothed per-category density
ratios) — the two model-eval/curation gaps left after round 9.

Scale notes: isotonic's O(B²) minimax grid lives on a PROVABLY
bounded bucket axis (<= n_buckets+1 rows after one data-scale
aggregation), so the quadratic part is constant-size at any corpus
scale; importance weights are one (category, slice) histogram plus
1-row totals. All state is exact-integer until single final
divisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flytemosaic_spark.probes.registry import T, probe

# ---------------------------------------------------------------------------
# x217 — isotonic calibration curve (exact minimax PAVA)
# ---------------------------------------------------------------------------


@probe(
    "x217_isotonic_calibration",
    sql="""
        WITH pts AS (
            SELECT CAST(floor((l_quantity + l_discount * 100) / 70.0
                              * 1000 + 0.5) AS BIGINT) AS b,
                   count(*) AS w,
                   sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS s
            FROM lineitem GROUP BY 1
        ),
        c AS (
            SELECT b, w, s,
                   sum(w) OVER (ORDER BY b) AS cw,
                   sum(s) OVER (ORDER BY b) AS cs
            FROM pts
        ),
        grid AS (
            SELECT j.b AS bj, k.b AS bk,
                   (k.cs - (j.cs - j.s))
                       / CAST(k.cw - (j.cw - j.w) AS DOUBLE) AS a
            FROM c j JOIN c k ON j.b <= k.b
        ),
        suf AS (
            SELECT bj, bk,
                   min(a) OVER (PARTITION BY bj ORDER BY bk DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS m
            FROM grid
        ),
        fit AS (SELECT bk AS b, max(m) AS iso FROM suf GROUP BY 1)
        SELECT pts.b AS bucket,
               floor(pts.b / 1000.0 * 1e6 + 0.5) / 1e6 AS score_mid,
               CAST(pts.w AS BIGINT) AS n,
               floor(pts.s / CAST(pts.w AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS rate,
               floor(fit.iso * 1e6 + 0.5) / 1e6 AS iso_rate
        FROM pts JOIN fit USING (b)
        ORDER BY bucket
    """,
    note="exact distributed isotonic regression / monotone calibration "
    "curve (operators/metrics.py:isotonic_fit — Zadrozny & Elkan's "
    "isotonic calibration): fitted[i] = max_{j<=i} min_{k>=i} "
    "wavg(j..k), the minimax characterization, equivalence-tested "
    "against sequential PAVA. The score axis quantizes to <= 1001 "
    "buckets — a PROVABLY bounded axis — so after ONE data-scale "
    "aggregation the O(B²) grid (~1e6 cells max), the per-j "
    "suffix-min windows and the final max-groupBy are all "
    "constant-size regardless of corpus scale (the bounded crossJoin "
    "is whitelisted with this justification); integer (w, s) prefix "
    "sums make every grid average one exact-int division, min/max "
    "over identical IEEE doubles is engine-identical, output at 1e-6",
)
def x217_isotonic_calibration(spark: SparkSession, sf: str) -> DataFrame:
    from flytemosaic_spark.operators.metrics import isotonic_fit

    li = T(spark, sf, "lineitem")
    # noisy-monotone fixture: label is a quantity threshold, score is
    # quantity blurred by the (independent) discount column
    return isotonic_fit(
        li,
        (F.col("l_quantity") + F.col("l_discount") * 100) / 70.0,
        (F.col("l_quantity") > 25).cast("int"),
        n_buckets=1000,
    )


# ---------------------------------------------------------------------------
# x218 — covariate-shift importance weights (smoothed density ratio)
# ---------------------------------------------------------------------------


@probe(
    "x218_importance_weights",
    sql="""
        WITH base AS (
            SELECT o_orderpriority AS c, o_orderstatus AS s
            FROM orders WHERE o_orderstatus IN ('F', 'O')
        ),
        hist AS (
            SELECT c,
                   sum(CASE WHEN s = 'F' THEN 1 ELSE 0 END) AS n_source,
                   sum(CASE WHEN s = 'O' THEN 1 ELSE 0 END) AS n_target
            FROM base GROUP BY 1
        ),
        tot AS (SELECT sum(n_source) AS ns, sum(n_target) AS nt,
                       count(*) AS k FROM hist)
        SELECT c AS category,
               CAST(n_source AS BIGINT) AS n_source,
               CAST(n_target AS BIGINT) AS n_target,
               floor(least(greatest(
                   ((n_target + 1.0) / (nt + 1.0 * k))
                       / ((n_source + 1.0) / (ns + 1.0 * k)),
                   1.0 / 10.0), 10.0) * 1e6 + 0.5) / 1e6 AS weight
        FROM hist CROSS JOIN tot
    """,
    note="covariate-shift importance weights "
    "(operators/sampling.py:importance_weights — Shimodaira 2000 "
    "density-ratio reweighting, the curation knob that makes a source "
    "corpus LOOK like a target distribution without resampling): "
    "Laplace-smoothed per-category p_target/p_source, symmetric-"
    "clipped to [0.1, 10]; one (category, slice) histogram + 1-row "
    "totals broadcast back, exact-integer state to a single final "
    "division — category-scale output at any corpus size",
)
def x218_importance_weights(spark: SparkSession, sf: str) -> DataFrame:
    from flytemosaic_spark.operators.sampling import importance_weights

    orders = T(spark, sf, "orders")
    return importance_weights(
        orders,
        "o_orderpriority",
        "o_orderstatus",
        source_val="F",
        target_val="O",
        alpha=1.0,
        clip=10.0,
    )


# ---------------------------------------------------------------------------
# x219 — quantile (pinball) linear regression, unrolled subgradient GD
# ---------------------------------------------------------------------------

_QR_FEATS = """
            SELECT CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2')
                        THEN 1.0 ELSE 0.0 END AS urgent,
                   1.0 AS _bias,
                   o_totalprice / 1000000.0 AS y
            FROM orders"""

# one subgradient step at tau = 0.5: g = 0.5 if z >= y else -0.5,
# per-row contributions quantized to integer nano-units before the
# sum; new weight = round9(w - lr * ((g/1e9)/n)), lr = 0.2
_QR_STEP = """
        g{k} AS (
            SELECT count(*) AS n,
                   sum(CAST(floor(g * urgent * 1e9 + 0.5) AS BIGINT)) AS g1,
                   sum(CAST(floor(g * _bias * 1e9 + 0.5) AS BIGINT)) AS g2
            FROM (
                SELECT urgent, _bias,
                       CASE WHEN z >= y THEN 0.5 ELSE -0.5 END AS g
                FROM (SELECT d.*, wp.w1 * urgent + wp.w2 * _bias AS z
                      FROM d CROSS JOIN w{p} wp)
            )
        ),
        w{k} AS (
            SELECT floor((wp.w1 - 0.2 * ((CAST(g1 AS DOUBLE) / 1e9) / gg.n))
                         * 1e9 + 0.5) / 1e9 AS w1,
                   floor((wp.w2 - 0.2 * ((CAST(g2 AS DOUBLE) / 1e9) / gg.n))
                         * 1e9 + 0.5) / 1e9 AS w2,
                   gg.n AS n
            FROM g{k} gg CROSS JOIN w{p} wp
        )"""


@probe(
    "x219_quantile_reg",
    sql="WITH d AS ("
    + _QR_FEATS
    + """),
        w0 AS (SELECT 0.0 AS w1, 0.0 AS w2),"""
    + _QR_STEP.format(k=1, p=0)
    + ","
    + _QR_STEP.format(k=2, p=1)
    + ","
    + _QR_STEP.format(k=3, p=2)
    + """
        SELECT n, w1 AS w_urgent, w2 AS w_bias FROM w3
    """,
    note="in-engine QUANTILE regression training "
    "(operators/linear.py:quantile_reg_gd — Koenker & Bassett pinball "
    "loss, tau=0.5): 3 full-batch subgradient steps toward the "
    "conditional median of order value given urgency — the robust/"
    "SLO-model twin of x136's mean-style trainer. The subgradient is "
    "a BRANCH on z >= y (identical IEEE doubles both engines, z==y "
    "tie fixed to the right branch), per-row contributions quantize "
    "to integer nano-units before the sum, weights round at 1e-9 per "
    "step — the trajectory replays bit-identically and the oracle "
    "unrolls the same three steps. Each step = one scan of the "
    "cached feature table + one 1-row aggregate; corpus never moves",
)
def x219_quantile_reg(spark: SparkSession, sf: str) -> DataFrame:
    from flytemosaic_spark.operators.linear import quantile_reg_gd

    d = T(spark, sf, "orders").select(
        F.substring("o_orderpriority", 1, 1)
        .isin("1", "2")
        .cast("double")
        .alias("urgent"),
        (F.col("o_totalprice") / F.lit(1000000.0)).alias("y"),
    )
    return quantile_reg_gd(
        d, ["urgent"], label_col="y", tau=0.5, lr=0.2, iterations=3
    )


# ---------------------------------------------------------------------------
# x15c — full COG lifecycle on REAL GeoTIFF payloads (no GDAL)
# ---------------------------------------------------------------------------


@probe(
    "x15c_mosaic_geotiff_lifecycle",
    sql=None,
    note="the flagship workflow over REAL raster formats end-to-end "
    "(reference utils.py:123-126 reads scene COGs, scenes.py:235-249 "
    "writes feature COGs — both via GDAL; here via the r5 pure-stdlib "
    "codec sources/geotiff.py): scenes are materialized as "
    "tiled-DEFLATE GeoTIFF files, the fused kernel DECODES them "
    "(scene_reader seam), the store is exported back to per-chunk "
    "feature GeoTIFFs, and every exported COG is decoded and checked "
    "byte-equal to its store chunk. Driver smoke-checks the per-tile "
    "summary (rows-only — no SQL-expressible oracle for a codec "
    "lifecycle); the bit-identity vs the synthetic-source run is "
    "asserted in tests/test_geotiff.py.",
)
def x15c_mosaic_geotiff_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    import datetime as dt
    import os
    import tempfile

    import numpy as np

    from flytemosaic_spark.fixtures import tile_grid
    from flytemosaic_spark.pipeline import (
        build_mosaic,
        export_feature_geotiffs,
        synthetic_scene,
    )
    from flytemosaic_spark.sources.chunkstore import (
        read_chunk,
        read_template,
        write_atomic,
    )
    from flytemosaic_spark.sources.geotiff import (
        decode_geotiff,
        encode_geotiff,
    )

    tiles = tile_grid(spark, n=4)
    with tempfile.TemporaryDirectory() as d:
        scene_dir = os.path.join(d, "scenes")
        os.makedirs(scene_dir)

        def reader(tile_id, period, n_bands, tile_px):
            path = os.path.join(scene_dir, f"{tile_id}_{period}.tif")
            if not os.path.exists(path):
                arr = synthetic_scene(tile_id, period, n_bands, tile_px)
                write_atomic(path, encode_geotiff(np.moveaxis(arr, 0, -1), tile=16))
            px, _ = decode_geotiff(open(path, "rb").read())
            return np.moveaxis(px, -1, 0)

        store = os.path.join(d, "mosaic")
        layout = build_mosaic(
            spark,
            tiles,
            (0.0, 0.0, 3.0, 2.0),
            [dt.datetime(2020, 6, 1)],
            store,
            n_bands=4,
            tile_px=16,
            scene_reader=reader,
        )
        cogs = os.path.join(d, "cogs")
        exported = export_feature_geotiffs(spark, store, cogs).collect()
        meta = read_template(store)
        n_match = 0
        for r in exported:
            want = read_chunk(store, meta, (r.t, 0, r.yi, r.xi))[0]
            px, _ = decode_geotiff(open(r.file, "rb").read())
            if np.array_equal(np.moveaxis(px, -1, 0), want, equal_nan=True):
                n_match += 1
        rows = [
            (
                layout["n_chunks_written"],
                len(exported),
                sum(bool(r.ok) for r in exported),
                n_match,
            )
        ]
    return spark.createDataFrame(
        rows, "chunks_built int, cogs_exported int, cogs_ok int, cogs_match int"
    )
