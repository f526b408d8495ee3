"""End-to-end mosaic build — the reference's flagship workflow
(`build_dataset_mosaic_workflow`, reference flyte/build.py:179-228)
as ONE Spark job instead of a Flyte task DAG.

Stages (SURVEY §3.1, boundaries become shuffles instead of pods):

1. catalog planning — (bbox, times) → (tile, snapped-time) targets and
   their covering scene periods (reference flyte/scenes.py:29-57);
   pure column expressions, broadcast joins. Incremental skip (J4)
   anti-joins the store listing.
2. fused build — ``groupBy(tile, time).applyInPandas`` where each task
   loads its scene stack (the synthetic source stands in for a COG
   reader — same array contract, reference utils.py:99-151), runs the
   QA-masked mean/median composite (glad.py:259-282), and writes its
   disjoint store chunk (S10) — all inside one Python worker.

The ONLY shuffle moves metadata-scale manifest rows (tile, time,
period); pixel payloads never cross the Python/JVM boundary. This is
the reference's exact task granularity (one pod builds one (tile,
date) feature COG, scenes.py:235-249) and is what makes the design
hold at 100 TB: a staged formulation that shuffles payloads pays
Arrow + UnsafeRow serialization on every hop and caps out at tens of
MB/s per node; the fused kernel runs at memory bandwidth.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flytemosaic_spark.functions.temporal import clamp, date_to_period
from flytemosaic_spark.operators.catalog import EARLIEST, feature_targets
from flytemosaic_spark.operators.raster import QA_CLEAR
from flytemosaic_spark.sources.chunkstore import (
    chunk_files,
    read_chunk,
    read_template,
    write_atomic,
    write_chunk,
    write_template,
)


def synthetic_scene(tile_id: str, period: int, n_bands: int, size: int) -> np.ndarray:
    """Deterministic fake scene (bands, y, x); band ``n_bands`` is the
    QA flag. Stands in for a COG read — same array contract."""
    seed = (zlib.crc32(tile_id.encode()) & 0x7FFFFFFF) ^ period
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 4000, size=(n_bands, size, size)).astype("f4")
    arr[n_bands - 1] = rng.integers(0, 2, size=(size, size))
    return arr


def target_scene_periods(
    spark: SparkSession,
    tile_index: DataFrame,
    bbox: tuple[float, float, float, float],
    times: list[dt.datetime],
    window_days: int = 365,
    latest: str = "2026-01-01",
) -> DataFrame:
    """Stage 1 — (tile_id, time, period) for every scene feeding every
    (tile, snapped-time) composite target (J6 cross + J7 expansion)."""
    targets = feature_targets(spark, tile_index, bbox, times).select("tile_id", "time")
    lo = date_to_period(
        clamp(
            F.col("time") - F.expr(f"INTERVAL {window_days} DAYS"),
            F.lit(EARLIEST).cast("timestamp"),
            F.lit(latest).cast("timestamp"),
        )
    )
    hi = date_to_period(
        clamp(
            F.col("time"),
            F.lit(EARLIEST).cast("timestamp"),
            F.lit(latest).cast("timestamp"),
        )
    )
    return targets.select(
        "tile_id", "time", F.explode(F.sequence(lo, hi)).alias("period")
    )


def build_mosaic(
    spark: SparkSession,
    tile_index: DataFrame,
    bbox: tuple[float, float, float, float],
    times: list[dt.datetime],
    store_path: str,
    n_bands: int = 4,
    tile_px: int = 32,
    reducer: str = "mean",
    window_days: int = 365,
    skip_existing: bool = False,
    resample_factor: int = 1,
    scene_reader=None,
) -> dict:
    """Run the full §3.1 lifecycle into ``store_path``. Returns the
    store layout (shape/chunks/tile origins/time order) for readers.

    ``scene_reader`` is the COG seam made injectable: a callable
    ``(tile_id, period, n_bands, tile_px) -> np.ndarray`` run INSIDE
    each fused task (default: the deterministic synthetic source). A
    real deployment passes a reader that fetches + decodes the scene
    COG — ``sources/geotiff.decode_geotiff`` handles the
    tiled-DEFLATE baseline without GDAL, and the pipeline test proves
    the kernel is bit-identical over real GeoTIFF payloads.

    The store is (time, band, y, x): value bands only (QA consumed by
    the composite), chunks = one tile slab — tile-aligned writes are
    chunk-aligned by construction, so region writes never contend.

    ``resample_factor`` is the reference's caller-chosen target
    resolution (build.py:184 ``resolution``, GTI ``RESAMPLING=average``
    metadata, mosaics.py:85-111): the composite is assembled at native
    tile_px and block-averaged (nan-aware, matching GDAL average over
    nodata) down by the factor INSIDE the fused kernel — the store
    holds tile_px/factor chunks, so the downsample costs zero extra
    shuffle and the written bytes shrink by factor² before they ever
    leave the task.
    """
    if resample_factor < 1:
        raise ValueError(f"resample_factor must be >= 1, got {resample_factor}")
    if tile_px % resample_factor:
        raise ValueError(
            f"tile_px={tile_px} not divisible by resample_factor={resample_factor}"
        )
    out_px = tile_px // resample_factor
    scene_periods = target_scene_periods(
        spark, tile_index, bbox, times, window_days=window_days
    )

    # deterministic global layout (driver-side metadata, tiny)
    tiles = sorted(
        (r.tile_id, r.minx, r.miny)
        for r in tile_index.join(
            scene_periods.select("tile_id").distinct(), "tile_id", "left_semi"
        )
        .select("tile_id", "minx", "miny")
        .collect()
    )
    xs = sorted({t[1] for t in tiles})
    ys = sorted({t[2] for t in tiles})
    origin = {
        tid: (ys.index(miny) * out_px, xs.index(minx) * out_px)
        for tid, minx, miny in tiles
    }
    t_order = [
        r.time
        for r in scene_periods.select("time").distinct().orderBy("time").collect()
    ]
    t_index = {t: i for i, t in enumerate(t_order)}

    shape = (len(t_order), n_bands - 1, len(ys) * out_px, len(xs) * out_px)
    chunks = (1, n_bands - 1, out_px, out_px)
    write_template(
        store_path,
        shape,
        chunks,
        attrs={
            "dims": ["time", "band", "y", "x"],
            "times": [str(t) for t in t_order],
            "bands": [f"b{i+1}" for i in range(n_bands - 1)],
            "resample_factor": resample_factor,
        },
    )

    # Incremental skip (J4): drop targets whose chunk already exists in
    # the store — the reference's rerun-and-skip core (scenes.py:219-232)
    # applied at the mosaic layer. The listing is metadata-scale.
    if skip_existing:
        existing = chunk_files(store_path)
        if existing:
            done = spark.createDataFrame(
                [(t, y * out_px, x * out_px) for t, _, y, x in existing],
                "t int, oy int, ox int",
            )
            done_targets = (
                done.join(
                    F.broadcast(
                        spark.createDataFrame(
                            [
                                (tid, y0, x0, t_index[t])
                                for tid, (y0, x0) in origin.items()
                                for t in t_order
                            ],
                            "tile_id string, oy int, ox int, t int",
                        )
                    ),
                    ["t", "oy", "ox"],
                )
                .select("tile_id", F.lit(True).alias("_done"), "t")
            )
            time_lookup = spark.createDataFrame(
                [(t, i) for t, i in t_index.items()], "time timestamp, t int"
            )
            scene_periods = (
                scene_periods.join(F.broadcast(time_lookup), "time")
                .join(done_targets, ["tile_id", "t"], "left_anti")
                .drop("t")
            )

    # Stages 2-5, FUSED — one grouped-map task per (tile, time) loads
    # its scenes, composites, and writes its disjoint store chunk, all
    # inside the Python worker. Only the metadata-scale manifest rows
    # (tile, time, period) ever shuffle; pixel payloads NEVER cross the
    # Python/JVM boundary. This is the reference's exact task shape
    # (build_tile_date_feature_cog_task loads scenes and writes the COG
    # inside the task, flyte/scenes.py:235-249, protocols.py:298-316)
    # and the difference between ~0.02 and ~1 GiB/s per node: a staged
    # formulation pays Arrow/UnsafeRow serialization on every hop.
    meta = read_template(store_path)
    stats_schema = "tile_id string, time timestamp, n_chunks int"

    reader = scene_reader or synthetic_scene

    def load_composite_write(pdf: pd.DataFrame) -> pd.DataFrame:
        tile = pdf["tile_id"].iloc[0]
        time = pdf["time"].iloc[0]
        if reducer == "mean":
            # streaming accumulation: one scene resident at a time, so
            # peak memory is (1 scene + 2 accumulators) instead of the
            # whole stack + nanmean temporaries — the difference between
            # bandwidth-bound thrashing and cache-friendly accumulation
            # when 32 tasks share one node (reference spills to local
            # zarr for the same reason, utils.py:128-131 / D7)
            acc = np.zeros((n_bands - 1, tile_px, tile_px), "f8")
            cnt = np.zeros((tile_px, tile_px), "i4")
            for p in pdf["period"]:
                s = reader(tile, int(p), n_bands, tile_px)
                ok = s[n_bands - 1] == QA_CLEAR
                np.add(acc, s[: n_bands - 1], out=acc, where=ok[None, :, :])
                cnt += ok
            with np.errstate(invalid="ignore", divide="ignore"):
                comp = (acc / cnt).astype("f4")
            comp[:, cnt == 0] = np.nan
        else:
            stack = np.stack(
                [
                    reader(tile, int(p), n_bands, tile_px)
                    for p in pdf["period"]
                ]
            )
            qa = stack[:, n_bands - 1 : n_bands]
            vals = np.where(qa == QA_CLEAR, stack[:, : n_bands - 1], np.nan)
            with np.errstate(invalid="ignore"):
                comp = np.nanmedian(vals, axis=0).astype("f4")
        if resample_factor > 1:
            # A9 block-average downsample, fused: nan-aware mean over
            # factor x factor blocks (GDAL 'average' semantics — nodata
            # excluded, all-nodata block stays nodata)
            fctr = resample_factor
            blocks = comp.reshape(n_bands - 1, out_px, fctr, out_px, fctr)
            with np.errstate(invalid="ignore"):
                comp = np.nanmean(blocks, axis=(2, 4)).astype("f4")
        # S10 region write, task-local: (t, 0, y0, x0) is chunk-aligned
        # by construction (chunk == one tile slab)
        y0, x0 = origin[tile]
        ti = t_index[pd.Timestamp(time).to_pydatetime()]
        write_chunk(store_path, meta, (ti, 0, y0 // out_px, x0 // out_px), comp)
        return pd.DataFrame(
            {"tile_id": [tile], "time": [time], "n_chunks": [1]}
        )

    stats = scene_periods.groupBy("tile_id", "time").applyInPandas(
        load_composite_write, stats_schema
    )
    n_chunks = int(stats.agg(F.sum("n_chunks")).first()[0] or 0)
    return {
        "path": store_path,
        "shape": shape,
        "chunks": chunks,
        "origins": origin,
        "times": t_order,
        "n_chunks_written": n_chunks,
    }


def export_feature_geotiffs(
    spark: SparkSession,
    store_path: str,
    out_dir: str,
    pixel_scale: tuple[float, float, float] = (1.0, 1.0, 0.0),
    overviews: list[int] | None = None,
    nodata: float | None | str = "auto",
    compress: bool | str = True,
    jpeg_quality: int = 90,
) -> DataFrame:
    """S8 feature-COG export — the reference's per-(tile, date) GeoTIFF
    output (``build_tile_date_feature_cog_task`` writes one COG per
    tile/date, reference flyte/scenes.py:235-249, glad.py:140-151)
    over the engine's chunk store: every store chunk (one tile slab
    per time step) becomes one REAL tiled GeoTIFF via
    ``sources/geotiff.encode_geotiff`` (``compress``: True/'deflate'
    (default), 'lzw', 'jpeg' for uint8 visual-band stores, or False),
    georeferenced by the chunk's
    pixel origin (tiepoint places raster (0,0) at world
    (x0·sx, -y0·sy) — swap ``pixel_scale`` for the deployment's CRS
    grid).

    Distributed shape: the chunk listing (``chunk_files``, metadata-scale)
    is spread over executors; each task reads its chunks
    (``read_chunk``), encodes, and writes each .tif atomically
    (``write_atomic``, idempotent retries) — pixel payloads
    never cross the JVM boundary, the same fused-task granularity as
    the build itself. Returns (file, t, yi, xi, ok) per exported COG.
    """
    from flytemosaic_spark.sources.geotiff import encode_geotiff

    meta = read_template(store_path)
    zdtype, zchunks = meta["dtype"], meta["chunks"]
    if nodata == "auto":
        # NaN is only representable in float sample types; an integer
        # store gets no nodata tag unless the caller names a real value
        nodata = float("nan") if np.dtype(zdtype).kind == "f" else None
    manifest = spark.createDataFrame(
        chunk_files(store_path), "t int, b int, yi int, xi int"
    )
    os.makedirs(out_dir, exist_ok=True)
    schema = "file string, t int, yi int, xi int, ok boolean"

    def export(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out = []
            for t, b, yi, xi in zip(pdf["t"], pdf["b"], pdf["yi"], pdf["xi"]):
                dst = os.path.join(out_dir, f"t{t}_y{yi}_x{xi}.tif")
                if os.path.exists(dst):  # rerun-is-cheap recheck
                    out.append((dst, t, yi, xi, True))
                    continue
                arr = read_chunk(store_path, meta, (t, b, yi, xi))[0]
                ny = zchunks[2]
                tif = encode_geotiff(
                    np.moveaxis(arr, 0, -1),  # (b, y, x) -> chunky
                    tile=max(16, ((zchunks[2] + 15) // 16) * 16),
                    compress=compress,
                    jpeg_quality=jpeg_quality,
                    overviews=overviews,
                    nodata=nodata,
                    pixel_scale=pixel_scale,
                    tiepoint=(
                        0.0,
                        0.0,
                        0.0,
                        float(xi * zchunks[3]) * pixel_scale[0],
                        -float(yi * ny) * pixel_scale[1],
                        0.0,
                    ),
                )
                write_atomic(dst, tif)
                out.append((dst, t, yi, xi, True))
            yield pd.DataFrame(
                out, columns=["file", "t", "yi", "xi", "ok"]
            )

    return manifest.mapInPandas(export, schema)
