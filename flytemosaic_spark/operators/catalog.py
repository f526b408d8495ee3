"""Catalog planning operators — the reference's scene-planning queries
re-expressed as one declarative DataFrame pipeline (SURVEY §3.2).

The reference enumerates required scenes by spatially pruning a tile
index against a query bbox, snapping query times to the temporal
grid, expanding each (tile, time) to its covering 16-day periods, and
templating urls (reference: flyte/scenes.py:29-57 calling
flytemosaic/datasets/glad.py:236-257). Here that is:

    tiles ⋈_bbox query  ×  periods  ▷ url ▷ distinct

All joins broadcast the small side (the real tile index is 19k rows);
the periods are computed on the driver from the query times, so there
is nothing to prune — exactly the keys needed are produced (SURVEY §4).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flytemosaic_spark.functions.temporal import (
    period_to_date,
    period_window,
    snap_to_year,
)

URL_TEMPLATE = "s3://scenes/%s/%s/%d.tif"  # feature / tile / period


def tiles_for_bbox(
    tile_index: DataFrame,
    bbox: tuple[float, float, float, float],
    bbox_crs: str | None = None,
    index_crs: str = "EPSG:4326",
) -> DataFrame:
    """J1 — spatial prune: tiles overlapping the query bbox.

    Axis-aligned bbox overlap is *exact* for the reference's
    rectangular tiles; for general polygons this is the prefilter and
    an exact-intersects refine (shapely in a pandas UDF) would follow
    (reference: glad.py:236-239). The bbox predicate is sargable, so a
    tile index partitioned/sorted on (minx, miny) gets parquet min/max
    row-group skipping for free.

    A query bbox in a different CRS (``bbox_crs``, e.g. EPSG:3857 — the
    reference's ``to_crs`` path, mosaics.py:73) is reprojected
    PLAN-TIME into the index CRS, so the predicate stays a literal
    comparison against the index columns and pushdown survives —
    reprojecting the index instead would defeat min/max skipping.
    """
    if bbox_crs is not None and bbox_crs != index_crs:
        from flytemosaic_spark.functions.crs import reproject_bbox

        bbox = reproject_bbox(bbox, bbox_crs, index_crs)
    minx, miny, maxx, maxy = bbox
    return tile_index.where(
        (F.col("minx") < maxx)
        & (F.col("maxx") > minx)
        & (F.col("miny") < maxy)
        & (F.col("maxy") > miny)
    )


def required_scenes(
    spark: SparkSession,
    tile_index: DataFrame,
    bbox: tuple[float, float, float, float],
    times: list[dt.datetime],
    feature: str = "annual_means",
    window_days: int = 365,
    latest: str = "2026-01-01",
    query_wkb: bytes | None = None,
    query_crs: str = "EPSG:4326",
    index_crs: str = "EPSG:4326",
) -> DataFrame:
    """The §3.2 planning query: full required-scene catalog for a
    (bbox, times, feature) request.

    - snap request times to the yearly grid and dedupe (F8, A2)
    - spatial prune tiles (J1, broadcast — the tile subset is small)
    - per snapped time: periods covering [t − window, t] clamped to
      [EARLIEST_DATE, latest] (J7/F6/F9; reference
      glad.py:163-186,245-257)
    - template urls (F3/F5, glad.py:25) and distinct (A2)

    The snapped times and their period windows are a handful of
    literals, so they are computed on the driver
    (``temporal.period_window``); only the tile prune and the url
    expansion run in Spark.

    ``latest`` is a *pinned* plan-time bound — the reference's
    ``now() − 14d`` (glad.py:213-215) made plans non-reproducible;
    determinism pin per FIXTURES.md B6.

    ``query_crs`` mirrors the reference's caller-chosen CRS
    (build.py:183 / mosaics.py:73 ``to_crs``): a bbox and query
    geometry given in EPSG:3857 are reprojected plan-time into the
    tile index's CRS (functions/crs.py column-free math), so the prune
    and the exact refine run unchanged and pushdown survives.
    """
    snapped = {dt.datetime(t.year, 1, 1) for t in times}
    periods = sorted(
        set().union(*(period_window(t, window_days, latest) for t in snapped))
    )
    tiles = tiles_for_bbox(tile_index, bbox, query_crs, index_crs).select(
        "tile_id", "minx", "miny", "maxx", "maxy"
    )
    if query_wkb is not None:
        # phase 2 of J1: exact intersects refine over bbox survivors
        # (reference glad.py:236-239 does both phases in GeoPandas)
        from flytemosaic_spark.functions.crs import reproject_wkb
        from flytemosaic_spark.functions.geometry import refine_intersects

        if query_crs != index_crs:
            query_wkb = reproject_wkb(query_wkb, query_crs, index_crs)
        tiles = refine_intersects(tiles, query_wkb)

    scenes = (
        spark.createDataFrame([(p,) for p in periods], "period bigint")
        .crossJoin(F.broadcast(tiles))
        .select(
            period_to_date(F.col("period")).cast("timestamp").alias("datetime"),
            F.format_string(
                URL_TEMPLATE, F.lit(feature), F.col("tile_id"), F.col("period")
            ).alias("url"),
            "tile_id",
            F.lit(feature).alias("feature"),
            "minx",
            "miny",
            "maxx",
            "maxy",
        )
        .distinct()
    )
    return scenes


def feature_targets(
    spark: SparkSession,
    tile_index: DataFrame,
    bbox: tuple[float, float, float, float],
    times: list[dt.datetime],
    feature: str = "annual_means",
) -> DataFrame:
    """§3.3 step 1 — deterministic (tile, snapped-time) → output-url
    targets (J6 cross join; reference flyte/scenes.py:204-216,
    protocols.py:318-333)."""
    times_df = (
        spark.createDataFrame([(t,) for t in times], "t timestamp")
        .select(snap_to_year(F.col("t")).alias("time"))
        .distinct()
    )
    tiles = tiles_for_bbox(tile_index, bbox).select("tile_id")
    return (
        tiles.crossJoin(times_df)
        .select(
            "tile_id",
            "time",
            F.format_string(
                "s3://features/%s/%s/%s.tif",
                F.lit(feature),
                F.col("tile_id"),
                F.date_format("time", "yyyyMMdd"),
            ).alias("url"),
            F.lit(feature).alias("feature"),
        )
    )
