"""Custom DataSource (`format("chunkstore")`): read/write round-trip,
file-pruning filter pushdown, and interop with the functional API."""

from __future__ import annotations

import os

import numpy as np
import pytest

from flytemosaic_spark.plans.partitioner import plan_partitions
from flytemosaic_spark.sources.chunkstore import (
    chunk_files,
    chunk_name,
    read_array,
    read_store,
    write_region_chunks,
    write_template,
)
from flytemosaic_spark.sources.chunkstore_v2 import register

SHAPE = (2, 3, 40, 50)
CHUNKS = (1, 3, 16, 16)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def _store(spark, tmp_path, compression=None, seed=7):
    path = str(tmp_path / "store")
    rng = np.random.default_rng(seed)
    cube = rng.standard_normal(SHAPE).astype("f4")
    write_template(path, SHAPE, CHUNKS, compression_level=compression)
    plan = plan_partitions(
        spark, SHAPE[0], [0, 1, 2], SHAPE[2], SHAPE[3], CHUNKS[2], CHUNKS[3]
    ).collect()
    rows = []
    for r in plan:
        block = cube[r.t, r.band0 : r.band1, r.y0 : r.y1, r.x0 : r.x1]
        rows.append(
            (int(r.t), int(r.band0), int(r.y0), int(r.x0),
             list(block.shape), block.ravel().tolist())
        )
    df = spark.createDataFrame(
        rows, "t int, b0 int, y0 int, x0 int, shape array<int>, payload array<float>"
    )
    return path, cube, df


def test_datasource_write_then_functional_read(spark, tmp_path):
    path, cube, df = _store(spark, tmp_path)
    df.write.format("chunkstore").option("path", path).mode("append").save()
    np.testing.assert_array_equal(read_array(path), cube)


def test_datasource_read_roundtrip(spark, tmp_path):
    path, cube, df = _store(spark, tmp_path, compression=1)
    write_region_chunks(df, path)
    got = spark.read.format("chunkstore").option("path", path).load()
    # reassemble from scan rows
    out = np.full(SHAPE, np.nan, "f4")
    for r in got.collect():
        nb, ny, nx = r.shape
        block = np.asarray(r.payload, "f4").reshape(nb, ny, nx)
        ys = min(ny, SHAPE[2] - r.y0)
        xs = min(nx, SHAPE[3] - r.x0)
        out[r.t, r.b0 : r.b0 + nb, r.y0 : r.y0 + ys, r.x0 : r.x0 + xs] = block[
            :, :ys, :xs
        ]
    np.testing.assert_array_equal(out, cube)


def test_filter_pushdown_prunes_files(spark, tmp_path):
    path, cube, df = _store(spark, tmp_path)
    write_region_chunks(df, path)
    def fresh():
        return spark.read.format("chunkstore").option("path", path).load()

    rows = fresh().where("t = 1 AND y0 >= 16").collect()
    assert rows and all(r.t == 1 and r.y0 >= 16 for r in rows)
    # pruned scan returns fewer chunk rows than the full scan
    assert len(rows) < fresh().count()


def test_empty_result_when_filter_excludes_all(spark, tmp_path):
    path, cube, df = _store(spark, tmp_path)
    write_region_chunks(df, path)
    scan = spark.read.format("chunkstore").option("path", path).load()
    assert scan.where("t = 99").count() == 0


def test_stream_reader_tails_new_chunks(spark, tmp_path):
    """spark.readStream.format("chunkstore"): the first availableNow
    run drains the existing chunks; after more chunks land, a second
    run from the same checkpoint reads ONLY the new ones (the
    streaming twin of the S6/J4 incremental listing)."""
    path, cube, df = _store(spark, tmp_path)
    # seed the store with the t=0 slab only; the t=1 chunks arrive later
    write_region_chunks(df.where("t = 0"), path)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("chunkstore")
            .option("path", path)
            .load()
            .drop("payload", "shape")  # origins are what we assert on
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    first = drain()
    batch = spark.read.format("chunkstore").option("path", path).load()
    assert first.count() == batch.count()
    # origins match the batch scan exactly
    key = ["t", "b0", "y0", "x0"]
    assert sorted(map(tuple, first.select(*key).collect())) == sorted(
        map(tuple, batch.select(*key).collect())
    )

    # the t=1 slab lands later; a second drain from the same
    # checkpoint must read ONLY those files
    import os as _os

    before = set(_os.listdir(path))
    write_region_chunks(df.where("t = 1"), path)
    new_files = {n for n in set(_os.listdir(path)) - before if not n.startswith(".")}
    assert new_files  # the appended slab produced fresh chunk files
    n_first = first.count()
    total = drain()
    assert total.count() == n_first + len(new_files)
    new_rows = sorted(map(tuple, total.select(*key).collect()))
    old_rows = sorted(map(tuple, first.select(*key).collect()))
    added = [r for r in new_rows if r not in old_rows]
    assert added and all(r[0] == 1 for r in added)  # all from the t=1 slab


def test_in_flight_tmp_files_are_invisible(spark, tmp_path):
    """A writer's in-flight '<t>.<b>.<y>.<x>.tmp-<pid>' must be
    skipped by BOTH the batch partition listing and the stream
    reader's seen-set — a micro-batch that lists mid-write would
    otherwise crash on map(int, name.split('.'))."""
    path, cube, df = _store(spark, tmp_path)
    write_region_chunks(df, path)
    batch = spark.read.format("chunkstore").option("path", path).load()
    n = batch.count()

    # simulate a writer mid-write: the tmp name a parallel region
    # writer actually uses (chunkstore_v2 writer line ~193)
    with open(os.path.join(path, "9.9.9.9.tmp-12345"), "wb") as f:
        f.write(b"partial")

    again = spark.read.format("chunkstore").option("path", path).load()
    assert again.count() == n  # batch listing unaffected

    from flytemosaic_spark.sources.chunkstore_v2 import (
        ChunkStoreStreamReader,
    )

    r = ChunkStoreStreamReader({"path": path})
    assert all(".tmp-" not in name for name in r._chunk_files())
    rows, off = r.read(r.initialOffset())
    assert len(list(rows)) == n


def test_read_store_decodes_only_pushed_chunks(spark, tmp_path):
    """`read_store` plans from chunk names: a filter on t/b0/y0/x0 is
    pushed into the listing and pruned chunks are never opened. Every
    chunk outside the filter is overwritten with undecodable bytes, so
    the number of non-matching chunks the scan decodes must be zero —
    one decode would raise."""
    import shutil

    path, cube, df = _store(spark, tmp_path)
    write_region_chunks(df, path)
    cols = ("t", "b0", "y0", "x0")
    cases = {
        "t = 1": lambda o: o["t"] == 1,
        "b0 = 0 AND y0 >= 16": lambda o: o["b0"] == 0 and o["y0"] >= 16,
        "x0 IN (0, 32)": lambda o: o["x0"] in (0, 32),
        "t = 0 AND y0 = 16 AND x0 = 32": lambda o: (o["t"], o["y0"], o["x0"]) == (0, 16, 32),
    }
    for k, (where, keep) in enumerate(cases.items()):
        copy = str(tmp_path / f"pruned{k}")
        shutil.copytree(path, copy)
        want = set()
        for idx in chunk_files(copy):
            origin = dict(zip(cols, np.multiply(idx, CHUNKS).tolist()))
            if keep(origin):
                want.add(tuple(origin.values()))
            else:
                with open(os.path.join(copy, chunk_name(idx)), "wb") as f:
                    f.write(b"not a chunk")
        rows = read_store(spark, copy).where(where).collect()
        assert {(r.t, r.b0, r.y0, r.x0) for r in rows} == want, where
        for r in rows:
            block = np.asarray(r.payload, "f4").reshape(r.shape)
            ys, xs = min(r.shape[1], SHAPE[2] - r.y0), min(r.shape[2], SHAPE[3] - r.x0)
            np.testing.assert_array_equal(
                block[:, :ys, :xs], cube[r.t, :, r.y0 : r.y0 + ys, r.x0 : r.x0 + xs]
            )
    # the corruption is real: an unfiltered scan of the last copy fails
    with pytest.raises(Exception, match="cannot reshape|buffer size"):
        read_store(spark, copy).collect()


def test_reused_read_store_plans_every_query(spark, tmp_path):
    """Spark keeps a relation's last pushdown result; a query on the
    same `read_store` DataFrame that filters on no origin column must
    still list every chunk, not the previous query's pruned list."""
    path, cube, df = _store(spark, tmp_path)
    write_region_chunks(df, path)
    scan = read_store(spark, path)
    n = len(chunk_files(path))
    assert scan.where("t = 1").count() == n // 2
    assert scan.count() == n
    assert scan.where("x0 = 0").count() == n // 4
    assert scan.where("shape[0] = 3").count() == n
    assert read_store(spark, path).count() == n
