"""Declared schemas for the engine's catalog and media tables
(SURVEY §1.1). Schemas are fixed/declared, never inferred —
mirroring the reference, where band names, dtype and nodata come from
the dataset protocol (reference: flytemosaic/datasets/protocols.py:139-170).
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# B1 — tile index (reference: checked-in 19,132-row parquet,
# flytemosaic/datasets/glad.py:39-47). Geometry is WKB plus derived
# bbox columns so planning predicates never need a geometry lib.
TILE_INDEX = StructType(
    [
        StructField("tile_id", StringType(), False),
        StructField("x_coord", DoubleType(), False),
        StructField("y_coord", DoubleType(), False),
        StructField("geometry", BinaryType(), True),
        StructField("minx", DoubleType(), False),
        StructField("miny", DoubleType(), False),
        StructField("maxx", DoubleType(), False),
        StructField("maxy", DoubleType(), False),
    ]
)

# B2 — scene catalog (reference contract: protocols.py:185-190; the
# `feature` column is added at flyte/scenes.py:49).
SCENE_CATALOG = StructType(
    [
        StructField("datetime", TimestampType(), False),
        StructField("url", StringType(), False),
        StructField("tile_id", StringType(), False),
        StructField("feature", StringType(), False),
        StructField("minx", DoubleType(), True),
        StructField("miny", DoubleType(), True),
        StructField("maxx", DoubleType(), True),
        StructField("maxy", DoubleType(), True),
    ]
)

# Multimodal media table: opaque binary payload + typed metadata.
MEDIA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("payload", BinaryType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
    ]
)
