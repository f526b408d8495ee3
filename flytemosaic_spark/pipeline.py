"""End-to-end mosaic build — the reference's flagship workflow
(`build_dataset_mosaic_workflow`, reference flyte/build.py:179-228)
as ONE Spark job instead of a Flyte task DAG.

Stages (SURVEY §3.1):

1. catalog planning, on the driver — (bbox, times) → (tile,
   snapped-time) targets and their covering scene periods (reference
   flyte/scenes.py:29-57 plans the same layout in GeoPandas on one
   pod). One collect of the bbox-pruned tile index; everything else
   is plain Python. Incremental skip (J4) is a set difference against
   the store listing.
2. fused build — one ``mapInPandas`` over the manifest (one row per
   output chunk, its scene periods inside the row): each row loads
   its scene stack (the synthetic source stands in for a COG reader —
   same array contract, reference utils.py:99-151), runs the
   QA-masked mean/median composite (``operators/raster.composite``,
   reference glad.py:259-282), and writes its
   disjoint store chunk (S10) — all inside one Python worker.

Nothing shuffles: manifest rows are distinct by construction, and
pixel payloads never cross the Python/JVM boundary. This is the
reference's exact task granularity (one pod builds one (tile, date)
feature COG, scenes.py:235-249) and is what makes the design hold at
100 TB: a staged formulation that shuffles payloads pays Arrow +
UnsafeRow serialization on every hop and caps out at tens of MB/s per
node; the fused kernel runs at memory bandwidth.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from flytemosaic_spark.functions.temporal import period_window
from flytemosaic_spark.operators.catalog import tiles_for_bbox
from flytemosaic_spark.operators.raster import REDUCERS, coarsen, composite
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


def plan_targets(
    tile_index: DataFrame,
    bbox: tuple[float, float, float, float],
    times: list[dt.datetime],
    window_days: int = 365,
    latest: str = "2026-01-01",
) -> tuple[list[tuple[str, float, float]], list[dt.datetime], list[range]]:
    """Stage 1 on the driver — the sorted ``(tile_id, minx, miny)`` of
    every tile overlapping ``bbox``, the sorted snapped times (naive
    year starts) and each time's scene-period window.

    Costs one collect of the pruned tile index (none without times);
    the rest is Python over a handful of literals. The reference's
    real index is 19k tiles, so the layout and the build manifest
    (tiles × times) are tens of thousands of rows at most."""
    snapped = sorted({dt.datetime(t.year, 1, 1) for t in times})
    windows = [period_window(t, window_days, latest) for t in snapped]
    pruned = tiles_for_bbox(tile_index, bbox).select("tile_id", "minx", "miny")
    tiles = sorted(tuple(r) for r in pruned.collect()) if snapped else []
    return tiles, snapped, windows


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

    Planning runs on the driver (:func:`plan_targets`): one collect of
    the bbox-pruned tile index, then plain Python builds a manifest
    with one row per output chunk, ``(tile_id, t, yi, xi, periods)``,
    and drops the chunks ``skip_existing`` finds in the store. The
    driver-side bound is the tile count: the reference's real index
    has 19k tiles, so its manifest is tens of thousands of rows. The
    kernel then runs as ONE ``mapInPandas`` job over the manifest (the
    local relation's default slicing: one partition per core), and the
    driver sums its per-batch chunk counts. No stage shuffles.

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
    if reducer not in REDUCERS:
        raise ValueError(f"unknown reducer: {reducer!r}, expected one of {REDUCERS}")
    if resample_factor < 1:
        raise ValueError(f"resample_factor must be >= 1, got {resample_factor}")
    if tile_px % resample_factor:
        raise ValueError(
            f"tile_px={tile_px} not divisible by resample_factor={resample_factor}"
        )
    out_px = tile_px // resample_factor
    tiles, t_order, windows = plan_targets(tile_index, bbox, times, window_days)

    # deterministic global layout (driver-side metadata, tiny)
    xs = sorted({t[1] for t in tiles})
    ys = sorted({t[2] for t in tiles})
    origin = {
        tid: (ys.index(miny) * out_px, xs.index(minx) * out_px)
        for tid, minx, miny in tiles
    }

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
    done = (
        {(t, yi, xi) for t, _, yi, xi in chunk_files(store_path)}
        if skip_existing
        else set()
    )
    manifest = [
        (tid, t, y0 // out_px, x0 // out_px, list(window))
        for tid, (y0, x0) in origin.items()
        for t, window in enumerate(windows)
        if (t, y0 // out_px, x0 // out_px) not in done
    ]

    # Stages 2-5, FUSED — each manifest row loads its scenes,
    # composites, and writes its disjoint store chunk, all inside the
    # Python worker; pixel payloads NEVER cross the Python/JVM
    # boundary. This is the reference's exact task shape
    # (build_tile_date_feature_cog_task loads scenes and writes the COG
    # inside the task, flyte/scenes.py:235-249, protocols.py:298-316)
    # and the difference between ~0.02 and ~1 GiB/s per node: a staged
    # formulation pays Arrow/UnsafeRow serialization on every hop.
    meta = read_template(store_path)
    reader = scene_reader or synthetic_scene

    def load_composite_write(batches):
        for pdf in batches:
            for tile, t, yi, xi, periods in zip(
                pdf["tile_id"], pdf["t"], pdf["yi"], pdf["xi"], pdf["periods"]
            ):
                comp = composite(
                    (reader(tile, int(p), n_bands, tile_px) for p in periods),
                    reducer,
                )
                if resample_factor > 1:
                    comp = coarsen(comp, resample_factor)
                # S10 region write, task-local: (t, 0, yi, xi) is
                # chunk-aligned by construction (chunk == one tile slab)
                write_chunk(store_path, meta, (int(t), 0, int(yi), int(xi)), comp)
            yield pd.DataFrame({"n_chunks": [len(pdf)]})

    n_chunks = 0
    if manifest:
        counts = spark.createDataFrame(
            manifest, "tile_id string, t int, yi int, xi int, periods array<int>"
        ).mapInPandas(load_composite_write, "n_chunks long")
        n_chunks = sum(r.n_chunks for r in counts.collect())
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
