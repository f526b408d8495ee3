"""The two mosaic workloads: ``mosaic_build`` (write path) and
``mosaic_serve`` (read path) over seeded scene COGs.

Inputs are a function of the seed alone: a ``GRID_N`` x ``GRID_N``
tile index at a seeded origin, a seeded ``BLOCK`` x ``BLOCK`` tile
block inside it, two seeded years, and one tiled-DEFLATE 4-band uint16
scene COG per (tile, 16-day period) that the block's composites need.
Band 4 is the QA flag (1 = clear). The engine only ever sees these
files and the tile index.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
import warnings
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from flytemosaic_spark.fixtures import tile_grid
from flytemosaic_spark.operators.catalog import required_scenes
from flytemosaic_spark.pipeline import build_mosaic, export_feature_geotiffs
from flytemosaic_spark.sources.chunkstore import read_store, read_template
from flytemosaic_spark.sources.codecs import decompress_chunk
from flytemosaic_spark.sources.geotiff import (
    decode_geotiff,
    decode_geotiff_ranged,
    file_range_reader,
)

from perfbench.tracing import mean, percentile

N_BANDS = 4  # three value bands + the QA flag
QA_CLEAR = 1
SCENE_PX = 128
COG_TILE = 64
SCENE_BYTES = SCENE_PX * SCENE_PX * N_BANDS * 2  # decoded uint16 scene
CHUNK_BYTES = (N_BANDS - 1) * SCENE_PX * SCENE_PX * 4  # one float32 store chunk
GRID_N = 12  # tile index is GRID_N x GRID_N 1-degree tiles
BLOCK = 4  # the built / served block is BLOCK x BLOCK tiles
WINDOW_PX = 64  # serve windows: one COG tile's size at a random offset
BUILD_CHECK_SAMPLE = 4  # composite-checked chunks per build
EARLIEST = dt.date(1997, 1, 1)
LATEST = dt.date(2026, 1, 1)


# -- period grid (reference formula, independent of the engine) -------


def period_of(d: dt.date) -> int:
    return 392 + 23 * (d.year - 1997) + (d - dt.date(d.year, 1, 1)).days // 16


def period_start(p: int) -> dt.date:
    years, k = divmod(p - 392, 23)
    return dt.date(1997 + years, 1, 1) + dt.timedelta(days=16 * k)


def periods_for(year: int, window_days: int = 365) -> list[int]:
    """Periods covering [Jan 1 of ``year`` - window, Jan 1 of ``year``],
    clamped to the catalog's time range."""
    t = dt.date(year, 1, 1)
    lo = min(max(t - dt.timedelta(days=window_days), EARLIEST), LATEST)
    hi = min(max(t, EARLIEST), LATEST)
    return list(range(period_of(lo), period_of(hi) + 1))


# -- scenes ------------------------------------------------------------


def scene_array(seed: int, tile_id: str, period: int) -> np.ndarray:
    """The (y, x, band) uint16 scene a COG on disk holds."""
    rng = np.random.default_rng([seed, zlib.crc32(tile_id.encode()), period])
    arr = rng.integers(0, 4000, size=(SCENE_PX, SCENE_PX, N_BANDS), dtype=np.uint16)
    arr[:, :, N_BANDS - 1] = rng.integers(0, 2, size=(SCENE_PX, SCENE_PX))
    return arr


def scene_path(scene_dir: str, tile_id: str, period: int) -> str:
    return os.path.join(scene_dir, tile_id, f"{period}.tif")


def composite(seed: int, tile_id: str, periods: list[int]) -> np.ndarray:
    """Numpy oracle for one store chunk: the QA-masked temporal mean of
    the scenes, (band, y, x) float32."""
    stack = np.stack([scene_array(seed, tile_id, p) for p in periods]).astype("f4")
    vals = np.where(stack[..., N_BANDS - 1 :] == QA_CLEAR, stack[..., : N_BANDS - 1], np.nan)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # all-cloudy pixel -> NaN
        comp = np.nanmean(vals, axis=0).astype("f4")
    return np.moveaxis(comp, -1, 0)


def write_scenes(spark, seed: int, scene_dir: str, keys: list[tuple[str, int]]) -> None:
    """Encode every scene COG in parallel Spark tasks (one partition per
    core), so input generation stays a small share of set-up."""
    for tile_id in {t for t, _ in keys}:
        os.makedirs(os.path.join(scene_dir, tile_id), exist_ok=True)

    def encode(batches):
        from flytemosaic_spark.sources.geotiff import encode_geotiff

        for pdf in batches:
            for tile_id, period in zip(pdf["tile_id"], pdf["period"]):
                data = encode_geotiff(
                    scene_array(seed, tile_id, int(period)), tile=COG_TILE, compress=True
                )
                with open(scene_path(scene_dir, tile_id, int(period)), "wb") as fh:
                    fh.write(data)
            yield pd.DataFrame({"n": [len(pdf)]})

    par = spark.sparkContext.defaultParallelism
    written = (
        spark.createDataFrame(keys, "tile_id string, period long")
        .repartition(par)
        .mapInPandas(encode, "n long")
        .agg(F.sum("n"))
        .first()[0]
    )
    if written != len(keys):
        raise RuntimeError(f"wrote {written} of {len(keys)} scene COGs")


def scene_reader(scene_dir: str, spool_dir: str | None = None):
    """The ``build_mosaic`` scene seam: read the scene COG and decode it
    with ``decode_geotiff``. With a spool dir, each call appends its busy
    seconds and decoded bytes to a per-worker-process spool file."""

    def read(tile_id, period, n_bands, tile_px):
        start = time.perf_counter()
        with open(scene_path(scene_dir, tile_id, period), "rb") as fh:
            payload = fh.read()
        arr, _ = decode_geotiff(payload)
        if arr.shape != (tile_px, tile_px, n_bands):
            raise ValueError(f"scene {tile_id}/{period} has shape {arr.shape}")
        out = np.moveaxis(arr, -1, 0).astype("f4")
        if spool_dir is not None:
            with open(os.path.join(spool_dir, f"{os.getpid()}.tsv"), "a") as fh:
                fh.write(f"{time.perf_counter() - start}\t{arr.nbytes}\n")
        return out

    return read


def read_spool(spool_dir: str) -> tuple[int, float, int]:
    """(calls, busy seconds, decoded bytes) summed over worker spools."""
    calls, busy, nbytes = 0, 0.0, 0
    for name in os.listdir(spool_dir):
        with open(os.path.join(spool_dir, name)) as fh:
            for line in fh:
                s, b = line.split("\t")
                calls += 1
                busy += float(s)
                nbytes += int(b)
    return calls, busy, nbytes


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, n)) for n in os.listdir(path) if not n.startswith(".")
    )


def read_chunk(store: str, idx: tuple[int, int, int, int]) -> np.ndarray:
    meta = read_template(store)
    with open(os.path.join(store, ".".join(map(str, idx))), "rb") as fh:
        raw = decompress_chunk(fh.read(), meta.get("compressor"))
    return np.frombuffer(raw, dtype=meta["dtype"]).reshape(meta["chunks"][1:])


# -- shared inputs -----------------------------------------------------


class MosaicInputs:
    """Seeded grid origin, block, bbox and years; the scene COGs and the
    composite oracle cache."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 17])
        self.origin = (int(rng.integers(-60, 60)), int(rng.integers(-60, 48)))
        self.block = (int(rng.integers(0, GRID_N - BLOCK + 1)), int(rng.integers(0, GRID_N - BLOCK + 1)))
        y1 = int(rng.integers(2001, 2013))
        y2 = int(rng.integers(y1 + 2, 2026))
        self.times = [
            dt.datetime(y, int(rng.integers(1, 13)), int(rng.integers(1, 29))) for y in (y1, y2)
        ]
        self.periods = {ti: periods_for(t.year) for ti, t in enumerate(self.times)}
        ox, oy = self.origin
        c0, r0 = self.block
        self.bbox = (ox + c0 + 0.25, oy + r0 + 0.25, ox + c0 + BLOCK - 0.25, oy + r0 + BLOCK - 0.25)
        self._composites: dict[tuple[str, int], np.ndarray] = {}

    def prepare(self, spark, workdir: str) -> None:
        self.tile_index = tile_grid(spark, n=GRID_N, origin=self.origin)
        self.tile_rows = self.tile_index.select("tile_id", "minx", "miny", "maxx", "maxy").collect()
        ox, oy = self.origin
        c0, r0 = self.block
        # tile -> (yi, xi): the block's chunk position in the store
        self.tiles = {
            r.tile_id: (int(r.miny) - oy - r0, int(r.minx) - ox - c0)
            for r in self.tile_rows
            if 0 <= int(r.minx) - ox - c0 < BLOCK and 0 <= int(r.miny) - oy - r0 < BLOCK
        }
        self.targets = [(tile, ti) for tile in sorted(self.tiles) for ti in self.periods]
        self.scene_keys = sorted(
            {(tile, p) for tile, ti in self.targets for p in self.periods[ti]}
        )
        self.scene_reads = sum(len(self.periods[ti]) for _, ti in self.targets)
        self.scene_dir = os.path.join(workdir, "scenes")
        write_scenes(spark, self.seed, self.scene_dir, self.scene_keys)

    def composite(self, tile: str, ti: int) -> np.ndarray:
        key = (tile, ti)
        if key not in self._composites:
            self._composites[key] = composite(self.seed, tile, self.periods[ti])
        return self._composites[key]

    def check_chunk(self, chunk: np.ndarray, tile: str, ti: int) -> bool:
        return np.allclose(chunk, self.composite(tile, ti), rtol=1e-6, atol=0, equal_nan=True)

    def build(self, spark, store: str, spool_dir: str | None = None) -> dict:
        return build_mosaic(
            spark, self.tile_index, self.bbox, self.times, store,
            n_bands=N_BANDS, tile_px=SCENE_PX,
            scene_reader=scene_reader(self.scene_dir, spool_dir),
        )


# -- mosaic_build ------------------------------------------------------


class MosaicBuild:
    """Closed loop, one client: each operation builds a fresh store from
    the scene COGs, then exports one feature COG per store chunk."""

    name = "mosaic_build"

    def __init__(self, seed: int, tracer, cores: int):
        self.inputs = MosaicInputs(seed)
        self.tracer = tracer
        self.cores = cores
        self.rng = np.random.default_rng([seed, 23])
        self._n = 0
        self.stats = {"chunks": [], "calls": [], "busy": [], "decoded": [],
                      "store": [], "store_logical": [], "cogs": []}

    def prepare(self, spark, workdir: str) -> None:
        self.spark, self.workdir = spark, workdir
        self.inputs.prepare(spark, workdir)

    def prepare_checks(self) -> None:
        pass  # composites are computed on first use, outside timing

    def warmup(self):
        return self.op_build()

    def round(self) -> list:
        return [("build", self.op_build)]

    def op_build(self):
        i = self._n
        self._n += 1
        store = os.path.join(self.workdir, f"store-{i}")
        cogs = os.path.join(self.workdir, f"cogs-{i}")
        spool = None
        if self.tracer.active:
            spool = os.path.join(self.workdir, f"spool-{i}")
            os.makedirs(spool)
        with self.tracer.span("pipeline.build_mosaic"):
            layout = self.inputs.build(self.spark, store, spool)
        with self.tracer.span("pipeline.export_feature_geotiffs"):
            exported = export_feature_geotiffs(self.spark, store, cogs).collect()
        nbytes = self.inputs.scene_reads * SCENE_BYTES
        return nbytes, lambda: self._check(store, cogs, spool, layout, exported)

    def _check(self, store, cogs, spool, layout, exported) -> bool:
        try:
            inp = self.inputs
            n = len(inp.targets)
            ok = (
                layout["n_chunks_written"] == n
                and tuple(layout["shape"]) == (2, N_BANDS - 1, BLOCK * SCENE_PX, BLOCK * SCENE_PX)
                and len(exported) == n
                and all(r.ok for r in exported)
            )
            pick = self.rng.choice(n, size=min(BUILD_CHECK_SAMPLE, n), replace=False)
            for k in pick:
                tile, ti = inp.targets[k]
                yi, xi = inp.tiles[tile]
                ok = ok and inp.check_chunk(read_chunk(store, (ti, 0, yi, xi)), tile, ti)
            for r in exported:
                with open(r.file, "rb") as fh:
                    arr, _ = decode_geotiff(fh.read())
                want = read_chunk(store, (r.t, 0, r.yi, r.xi))
                ok = ok and np.array_equal(np.moveaxis(arr, -1, 0), want, equal_nan=True)
            if self.tracer.active:
                self._record(store, cogs, spool, layout)
            return bool(ok)
        finally:
            for path in (store, cogs, spool):
                if path is not None:
                    shutil.rmtree(path, ignore_errors=True)

    def _record(self, store, cogs, spool, layout) -> None:
        calls, busy, decoded = read_spool(spool)
        s = self.stats
        s["chunks"].append(layout["n_chunks_written"])
        s["calls"].append(calls)
        s["busy"].append(busy)
        s["decoded"].append(decoded)
        s["store"].append(dir_bytes(store))
        s["store_logical"].append(layout["n_chunks_written"] * CHUNK_BYTES)
        s["cogs"].append(dir_bytes(cogs))

    def layer_metrics(self) -> dict[str, float]:
        s, tr = self.stats, self.tracer
        build_s = tr.durations("pipeline.build_mosaic")
        busy = sum(s["busy"])
        return {
            "pipeline.build_mosaic_s": percentile(build_s, 50),
            "pipeline.export_feature_geotiffs_s": percentile(
                tr.durations("pipeline.export_feature_geotiffs"), 50
            ),
            "pipeline.chunks_written": mean(s["chunks"]),
            "pipeline.worker_busy_frac": busy / (sum(build_s) * self.cores) if build_s else 0.0,
            "sources.geotiff.decode_calls": mean(s["calls"]),
            "sources.geotiff.decode_busy_s": mean(s["busy"]),
            "sources.geotiff.decode_mb_per_core_s": sum(s["decoded"]) / 1e6 / busy if busy else 0.0,
            "sources.geotiff.cog_bytes_per_store_byte": (
                sum(s["cogs"]) / sum(s["store"]) if s["store"] else 0.0
            ),
            "sources.chunkstore.bytes_written_per_output_byte": (
                sum(s["store"]) / sum(s["store_logical"]) if s["store"] else 0.0
            ),
        }


# -- mosaic_serve ------------------------------------------------------

# One round of the seeded operation mix. Fixed proportions keep each
# percentile inside one latency mode on every seed: stack windows
# (~10 ms) fill the bottom 60 %, so op_s.p50 follows the ranged-read
# codec path; catalog queries and chunk reads (both ~0.3 s Spark jobs)
# share the top 40 %, so op_s.p90 follows small-query latency.
SERVE_ROUND = ["window"] * 6 + ["catalog"] * 2 + ["chunk"] * 2


class MosaicServe:
    """Closed loop, one client, over a store built during set-up and the
    scene COGs it was built from."""

    name = "mosaic_serve"

    def __init__(self, seed: int, tracer, cores: int):
        self.inputs = MosaicInputs(seed)
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, 29])
        self.catalog_rows: list[int] = []
        self.fetched = 0
        self.window_bytes = 0

    def prepare(self, spark, workdir: str) -> None:
        self.spark = spark
        self.inputs.prepare(spark, workdir)
        self.store = os.path.join(workdir, "store")
        layout = self.inputs.build(spark, self.store)
        if layout["n_chunks_written"] != len(self.inputs.targets):
            raise RuntimeError(f"serve store has {layout['n_chunks_written']} chunks")

    def prepare_checks(self) -> None:
        for tile, ti in self.inputs.targets:
            self.inputs.composite(tile, ti)

    def warmup(self):
        return self.op_chunk()  # starts the Python workers (mapInPandas)

    def round(self) -> list:
        ops = {"window": self.op_window, "catalog": self.op_catalog, "chunk": self.op_chunk}
        return [(kind, ops[kind]) for kind in self.rng.permutation(SERVE_ROUND)]

    def op_catalog(self):
        ox, oy = self.inputs.origin
        x0 = ox + self.rng.uniform(0, GRID_N - 4)
        y0 = oy + self.rng.uniform(0, GRID_N - 4)
        bbox = (x0, y0, x0 + self.rng.uniform(0.5, 3.5), y0 + self.rng.uniform(0.5, 3.5))
        times = [
            dt.datetime(int(self.rng.integers(2000, 2026)), int(self.rng.integers(1, 13)), 1)
            for _ in range(int(self.rng.integers(1, 3)))
        ]
        with self.tracer.span("operators.catalog.required_scenes"):
            rows = required_scenes(self.spark, self.inputs.tile_index, bbox, times).collect()
        if self.tracer.active:
            self.catalog_rows.append(len(rows))
        return 0, lambda: self._check_catalog(rows, bbox, times)

    def _check_catalog(self, rows, bbox, times) -> bool:
        minx, miny, maxx, maxy = bbox
        tiles = [
            r.tile_id for r in self.inputs.tile_rows
            if r.minx < maxx and r.maxx > minx and r.miny < maxy and r.maxy > miny
        ]
        periods = set().union(*(periods_for(t.year) for t in times))
        want = {(tile, period_start(p)) for tile in tiles for p in periods}
        got = {(r.tile_id, r.datetime.date()) for r in rows}
        return len(rows) == len(want) and got == want

    def op_window(self):
        """One window of one target's whole scene stack (every period
        that feeds the composite), one ranged read per scene COG."""
        tile, ti = self.inputs.targets[self.rng.integers(len(self.inputs.targets))]
        r0, c0 = (int(v) for v in self.rng.integers(0, SCENE_PX - WINDOW_PX + 1, size=2))
        window = (r0, c0, WINDOW_PX, WINDOW_PX)
        got = []
        for period in self.inputs.periods[ti]:
            fetch = file_range_reader(scene_path(self.inputs.scene_dir, tile, period))
            if self.tracer.active:
                fetch = self._counting(fetch)
            with self.tracer.span("sources.geotiff.decode_geotiff_ranged"):
                arr, _ = decode_geotiff_ranged(fetch, window)
            got.append((period, arr))
        nbytes = sum(arr.nbytes for _, arr in got)
        if self.tracer.active:
            self.window_bytes += nbytes
        return nbytes, lambda: all(
            np.array_equal(
                arr,
                scene_array(self.inputs.seed, tile, p)[r0 : r0 + WINDOW_PX, c0 : c0 + WINDOW_PX],
            )
            for p, arr in got
        )

    def _counting(self, fetch):
        def counted(offset, size):
            data = fetch(offset, size)
            self.fetched += len(data)
            return data

        return counted

    def op_chunk(self):
        tile, ti = self.inputs.targets[self.rng.integers(len(self.inputs.targets))]
        yi, xi = self.inputs.tiles[tile]
        with self.tracer.span("sources.chunkstore.read_store"):
            rows = (
                read_store(self.spark, self.store)
                .where(
                    (F.col("t") == ti)
                    & (F.col("y0") == yi * SCENE_PX)
                    & (F.col("x0") == xi * SCENE_PX)
                )
                .collect()
            )
        nbytes = sum(len(r.payload) * 4 for r in rows)
        return nbytes, lambda: len(rows) == 1 and self.inputs.check_chunk(
            np.asarray(rows[0].payload, "f4").reshape(N_BANDS - 1, SCENE_PX, SCENE_PX), tile, ti
        )

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tracer
        cat = tr.durations("operators.catalog.required_scenes")
        return {
            "operators.catalog.required_scenes_s.p50": percentile(cat, 50),
            "operators.catalog.required_scenes_s.p90": percentile(cat, 90),
            "operators.catalog.rows_per_call": mean(self.catalog_rows),
            "sources.geotiff.window_s.p50": percentile(
                tr.durations("sources.geotiff.decode_geotiff_ranged"), 50
            ),
            "sources.geotiff.fetch_bytes_per_window_byte": (
                self.fetched / self.window_bytes if self.window_bytes else 0.0
            ),
            "sources.chunkstore.read_store_s.p50": percentile(
                tr.durations("sources.chunkstore.read_store"), 50
            ),
        }
