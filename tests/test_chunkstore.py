"""Chunk-store sink/scan: template + disjoint region-parallel writes
round-trip bit-exactly, and the end-to-end mini-mosaic (planner ->
parallel region writes -> full-array read) reproduces the numpy
oracle — the reference lifecycle §3.1 steps 5-7 in miniature."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from flytemosaic_spark.plans.partitioner import plan_partitions
from flytemosaic_spark.sources.chunkstore import (
    read_array,
    read_store,
    read_template,
    write_region_chunks,
    write_template,
)

SHAPE = (2, 3, 40, 50)  # (time, band, y, x)
CHUNKS = (1, 3, 16, 16)


def _cube(seed=7):
    rng = np.random.default_rng(seed)
    return rng.standard_normal(SHAPE).astype("f4")


def _chunk_rows(cube, plan_rows):
    rows = []
    for r in plan_rows:
        block = cube[r.t, r.band0 : r.band1, r.y0 : r.y1, r.x0 : r.x1]
        rows.append(
            (
                int(r.t),
                int(r.band0),
                int(r.y0),
                int(r.x0),
                list(block.shape),
                block.ravel().tolist(),
            )
        )
    return rows


def test_template_roundtrip(tmp_path):
    path = str(tmp_path / "store")
    write_template(path, SHAPE, CHUNKS, attrs={"bands": ["b1", "b2", "b3"]})
    meta = read_template(path)
    assert meta["shape"] == list(SHAPE) and meta["chunks"] == list(CHUNKS)


def test_mini_mosaic_end_to_end(spark, tmp_path):
    """planner -> region writes (executor-parallel) -> read == oracle."""
    path = str(tmp_path / "store")
    cube = _cube()
    write_template(path, SHAPE, CHUNKS)

    plan = plan_partitions(
        spark,
        n_time=SHAPE[0],
        bands=[0, 1, 2],
        ny=SHAPE[2],
        nx=SHAPE[3],
        chunk_y=CHUNKS[2],
        chunk_x=CHUNKS[3],
        budget_bytes=4 * CHUNKS[2] * CHUNKS[3] * 3 * 4,
        shuffle_seed=3,
    ).collect()

    rows = _chunk_rows(cube, plan)
    df = spark.createDataFrame(
        rows, "t int, b0 int, y0 int, x0 int, shape array<int>, payload array<float>"
    ).repartition(8)
    write_region_chunks(df, path)

    got = read_array(path)
    np.testing.assert_array_equal(got, cube)


def test_write_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "store")
    cube = _cube(11)
    write_template(path, SHAPE, CHUNKS)
    plan = plan_partitions(
        spark, SHAPE[0], [0, 1, 2], SHAPE[2], SHAPE[3], CHUNKS[2], CHUNKS[3]
    ).collect()
    df = spark.createDataFrame(
        _chunk_rows(cube, plan),
        "t int, b0 int, y0 int, x0 int, shape array<int>, payload array<float>",
    )
    write_region_chunks(df, path)
    write_region_chunks(df, path)  # retry: identical bytes, no corruption
    np.testing.assert_array_equal(read_array(path), cube)


def test_read_store_scan(spark, tmp_path):
    path = str(tmp_path / "store")
    cube = _cube(13)
    write_template(path, SHAPE, CHUNKS)
    plan = plan_partitions(
        spark, SHAPE[0], [0, 1, 2], SHAPE[2], SHAPE[3], CHUNKS[2], CHUNKS[3]
    ).collect()
    df = spark.createDataFrame(
        _chunk_rows(cube, plan),
        "t int, b0 int, y0 int, x0 int, shape array<int>, payload array<float>",
    )
    write_region_chunks(df, path)

    scan = read_store(spark, path)
    # the filter is pushed into the scan's chunk listing: only the
    # time-slice-1 chunks are decoded
    sub = scan.where("t = 1").toPandas()
    assert (sub["t"] == 1).all()
    # reassemble t=1 and compare (edge chunks are fill-padded)
    got = np.full(SHAPE[1:], np.nan, "f4")
    for row in sub.itertuples(index=False):
        nb, ny, nx = row.shape
        block = np.asarray(row.payload, "f4").reshape(nb, ny, nx)
        ys, xs = min(ny, SHAPE[2] - row.y0), min(nx, SHAPE[3] - row.x0)
        got[row.b0 : row.b0 + nb, row.y0 : row.y0 + ys, row.x0 : row.x0 + xs] = block[
            :, :ys, :xs
        ]
    np.testing.assert_array_equal(got, cube[1])
    assert not math.isnan(got.sum())


def test_compressed_store_roundtrip(spark, tmp_path):
    """zlib-compressed chunks (Zarr v2 codec) round-trip bit-exactly
    and actually shrink the store for smooth data."""
    import os

    path = str(tmp_path / "store_z")
    cube = np.tile(np.linspace(0, 1, SHAPE[3], dtype="f4"), (*SHAPE[:3], 1))
    write_template(path, SHAPE, CHUNKS, compression_level=1)
    plan = plan_partitions(
        spark, SHAPE[0], [0, 1, 2], SHAPE[2], SHAPE[3], CHUNKS[2], CHUNKS[3]
    ).collect()
    df = spark.createDataFrame(
        _chunk_rows(cube, plan),
        "t int, b0 int, y0 int, x0 int, shape array<int>, payload array<float>",
    )
    write_region_chunks(df, path)
    np.testing.assert_array_equal(read_array(path), cube)

    raw_bytes = int(np.prod(SHAPE)) * 4
    stored = sum(
        os.path.getsize(os.path.join(path, n))
        for n in os.listdir(path)
        if not n.startswith(".")
    )
    assert stored < raw_bytes / 2  # smooth data compresses well

    # the distributed scan decompresses too
    sub = read_store(spark, path).where("t = 0")
    assert sub.count() > 0


def test_store_roundtrip_property_random_shapes(spark):
    """Property (the reference's exactly-once idea, taken through the
    store): for random cube shapes and chunk geometries, planner-driven
    region writes followed by a full read reproduce the cube exactly —
    edge chunks fill-padded, every element written exactly once."""
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        ny=st.integers(5, 70),
        nx=st.integers(5, 70),
        cy=st.integers(4, 32),
        cx=st.integers(4, 32),
        n_time=st.integers(1, 3),
        n_bands=st.integers(1, 4),
    )
    def run(ny, nx, cy, cx, n_time, n_bands):
        shape = (n_time, n_bands, ny, nx)
        chunks = (1, n_bands, cy, cx)
        rng = np.random.default_rng(ny * 1000 + nx)
        cube = rng.standard_normal(shape).astype("f4")
        with tempfile.TemporaryDirectory() as d:
            path = d + "/s"
            write_template(path, shape, chunks)
            plan = plan_partitions(
                spark, n_time, list(range(n_bands)), ny, nx, cy, cx,
                budget_bytes=4 * cy * cx * n_bands * 4,
            ).collect()
            rows = _chunk_rows(cube, plan)
            df = spark.createDataFrame(
                rows,
                "t int, b0 int, y0 int, x0 int, shape array<int>, payload array<float>",
            )
            write_region_chunks(df, path)
            np.testing.assert_array_equal(read_array(path), cube)

    run()


def test_chunk_writes_use_unique_temp_names(tmp_path, monkeypatch):
    """Two attempts at the same chunk (a task retry, a second host)
    stage their bytes under distinct temp names, and neither a
    finished nor a failed write leaves a temp file behind."""
    import os

    from flytemosaic_spark.sources.chunkstore import chunk_files, write_chunk

    path = str(tmp_path / "store")
    write_template(path, SHAPE, CHUNKS)
    meta = read_template(path)
    chunk = np.zeros(CHUNKS, "f4")
    real_replace, staged = os.replace, []

    def recording_replace(src, dst):
        staged.append(src)
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", recording_replace)
    write_chunk(path, meta, (0, 0, 1, 2), chunk)
    write_chunk(path, meta, (0, 0, 1, 2), chunk + 1)
    assert len(staged) == 2 and staged[0] != staged[1]
    assert all(os.path.basename(s).startswith("0.0.1.2.tmp-") for s in staged)

    def failing_replace(src, dst):
        raise OSError("injected")

    monkeypatch.setattr(os, "replace", failing_replace)
    try:
        write_chunk(path, meta, (1, 0, 0, 0), chunk)
    except OSError:
        pass
    assert sorted(n for n in os.listdir(path) if not n.startswith(".")) == ["0.0.1.2"]
    assert chunk_files(path) == [(0, 0, 1, 2)]
    np.testing.assert_array_equal(read_array(path)[0, :, 16:32, 32:48], chunk[0] + 1)
