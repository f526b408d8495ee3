"""Declared schemas for the engine's catalog and array models
(SURVEY §1.1-§1.2). Schemas are fixed/declared, never inferred —
mirroring the reference, where band names, dtype and nodata come from
the dataset protocol (reference: flytemosaic/datasets/protocols.py:139-170).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
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

# B3 — long/tall raster model: one row per pixel sample. Enables pure
# DataFrame expression of every array op (SURVEY §1.2 model 2).
RASTER_LONG = StructType(
    [
        StructField("tile_id", StringType(), False),
        StructField("time", TimestampType(), False),
        StructField("band", IntegerType(), False),
        StructField("y", IntegerType(), False),
        StructField("x", IntegerType(), False),
        StructField("value", FloatType(), True),
    ]
)

# B4 — chunk-table model: one row per (time, chunk) with the pixel
# block as a payload array (SURVEY §1.2 model 1; chunk geometry is the
# unit of parallelism, reference: flytemosaic/mosaics.py:232-303).
RASTER_CHUNKS = StructType(
    [
        StructField("tile_id", StringType(), False),
        StructField("time", TimestampType(), False),
        StructField("y0", IntegerType(), False),
        StructField("x0", IntegerType(), False),
        StructField("shape", ArrayType(IntegerType(), False), False),
        StructField("payload", ArrayType(FloatType(), True), False),
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
