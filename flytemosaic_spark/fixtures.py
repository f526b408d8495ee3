"""Deterministic synthetic fixtures (seed 42) mirroring the reference's
data structures — see /root/repo/FIXTURES.md part B. Pure functions of
(seed, scale); every generator returns a Spark DataFrame with a
declared schema from :mod:`flytemosaic_spark.schemas`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flytemosaic_spark.schemas import TILE_INDEX


def tile_grid(spark: SparkSession, n: int = 20, origin: tuple[float, float] = (0.0, 0.0)) -> DataFrame:
    """B1 — an n×n grid of 1°×1° tiles (reference tile ids look like
    "105E_13N"; lat token is the last '_' field, glad.py:52)."""
    ox, oy = origin
    rows = []
    for iy in range(n):
        for ix in range(n):
            minx, miny = ox + ix, oy + iy
            lon_tok = f"{int(abs(minx)):03d}{'E' if minx >= 0 else 'W'}"
            lat_tok = f"{int(abs(miny)):02d}{'N' if miny >= 0 else 'S'}"
            rows.append(
                (
                    f"{lon_tok}_{lat_tok}",
                    minx + 0.5,
                    miny + 0.5,
                    None,  # WKB omitted: tiles are axis-aligned rects, bbox is exact
                    float(minx),
                    float(miny),
                    float(minx + 1),
                    float(miny + 1),
                )
            )
    return spark.createDataFrame(rows, TILE_INDEX)
