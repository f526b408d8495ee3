"""End-to-end mosaic golden test: the full §3.1 lifecycle (catalog →
scenes → composite → placement → region-parallel store writes) must
reproduce a plain-numpy oracle computed from the same deterministic
scene source, bit-comparable at float32."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import subprocess
import sys
import uuid

import numpy as np
import pytest

from flytemosaic_spark.fixtures import tile_grid
from flytemosaic_spark.functions.temporal import period_window
from flytemosaic_spark.operators.raster import QA_CLEAR
from flytemosaic_spark.pipeline import (
    build_mosaic,
    export_feature_geotiffs,
    synthetic_scene,
)
from flytemosaic_spark.sources.chunkstore import (
    chunk_files,
    chunk_name,
    read_array,
    read_store,
)

N_BANDS, TILE_PX = 4, 16
BBOX = (0.2, 0.2, 2.8, 1.8)  # x tiles {0,1,2} x y tiles {0,1} = 6 tiles
TIMES = [dt.datetime(2020, 6, 1), dt.datetime(2021, 2, 1)]


def _periods_by_target(layout):
    """Each (tile, snapped time) target's scene periods, from the
    build's own layout and the default 365-day window."""
    return {
        (tile_id, t): list(period_window(t, 365, "2026-01-01"))
        for tile_id in layout["origins"]
        for t in layout["times"]
    }


def _oracle(layout, periods_by_target, reducer="mean"):
    shape = layout["shape"]
    cube = np.full(shape, np.nan, "f4")
    for (tile_id, time), periods in periods_by_target.items():
        stack = np.stack(
            [synthetic_scene(tile_id, p, N_BANDS, TILE_PX) for p in periods]
        )
        qa = stack[:, N_BANDS - 1 : N_BANDS]
        vals = np.where(qa == QA_CLEAR, stack[:, : N_BANDS - 1], np.nan)
        with np.errstate(invalid="ignore"):
            comp = (np.nanmean if reducer == "mean" else np.nanmedian)(
                vals, axis=0
            ).astype("f4")
        ti = layout["times"].index(time)
        y0, x0 = layout["origins"][tile_id]
        cube[ti, :, y0 : y0 + TILE_PX, x0 : x0 + TILE_PX] = comp
    return cube


@pytest.mark.parametrize("reducer", ["mean", "median"])
def test_mosaic_matches_numpy_oracle(spark, tmp_path, reducer):
    tiles = tile_grid(spark, n=6)
    store = str(tmp_path / f"mosaic_{reducer}")
    layout = build_mosaic(
        spark, tiles, BBOX, TIMES, store, n_bands=N_BANDS, tile_px=TILE_PX,
        reducer=reducer,
    )
    assert layout["shape"][0] == 2  # two snapped years
    assert layout["shape"][1] == N_BANDS - 1
    assert layout["shape"][2:] == (2 * TILE_PX, 3 * TILE_PX)
    # 6 tiles x 2 times, one chunk per (tile, time)
    assert layout["n_chunks_written"] == 12

    got = read_array(store)
    want = _oracle(layout, _periods_by_target(layout), reducer)
    np.testing.assert_allclose(got, want, rtol=1e-6, equal_nan=True)
    assert not np.isnan(got).all()


@pytest.mark.parametrize("factor", [2, 4])
def test_mosaic_resample_matches_numpy_oracle(spark, tmp_path, factor):
    """build.py:184 resolution parity: assembling at a coarser target
    resolution must equal the native-resolution oracle block-averaged
    (nan-aware) by the same factor."""
    tiles = tile_grid(spark, n=6)
    store = str(tmp_path / f"mosaic_rs{factor}")
    layout = build_mosaic(
        spark, tiles, BBOX, TIMES, store, n_bands=N_BANDS, tile_px=TILE_PX,
        resample_factor=factor,
    )
    out_px = TILE_PX // factor
    assert layout["shape"][2:] == (2 * out_px, 3 * out_px)
    assert layout["chunks"][2:] == (out_px, out_px)

    native_layout = dict(layout)
    native_layout["shape"] = (
        layout["shape"][0], layout["shape"][1],
        layout["shape"][2] * factor, layout["shape"][3] * factor,
    )
    native_layout["origins"] = {
        k: (y * factor, x * factor) for k, (y, x) in layout["origins"].items()
    }
    native = _oracle(native_layout, _periods_by_target(layout))
    t, b, h, w = native.shape
    blocks = native.reshape(t, b, h // factor, factor, w // factor, factor)
    with np.errstate(invalid="ignore"):
        want = np.nanmean(blocks, axis=(3, 5)).astype("f4")
    got = read_array(store)
    np.testing.assert_allclose(got, want, rtol=1e-6, equal_nan=True)
    assert not np.isnan(got).all()


def test_unknown_reducer_is_rejected_before_the_store_exists(spark, tmp_path):
    """A reducer other than mean/median fails on the driver, before
    the store template is written (it used to build a median mosaic)."""
    store = tmp_path / "mosaic_max"
    with pytest.raises(ValueError, match="unknown reducer"):
        build_mosaic(spark, tile_grid(spark, n=4), SMALL_BBOX, TIMES, str(store),
                     n_bands=N_BANDS, tile_px=TILE_PX, reducer="max")
    assert not store.exists()


def test_mosaic_rerun_is_idempotent(spark, tmp_path):
    tiles = tile_grid(spark, n=4)
    store = str(tmp_path / "mosaic")
    a = build_mosaic(spark, tiles, (0, 0, 2, 1), [TIMES[0]], store,
                     n_bands=N_BANDS, tile_px=TILE_PX)
    first = read_array(store).copy()
    b = build_mosaic(spark, tiles, (0, 0, 2, 1), [TIMES[0]], store,
                     n_bands=N_BANDS, tile_px=TILE_PX)
    np.testing.assert_array_equal(read_array(store), first)
    assert a["shape"] == b["shape"]


def test_mosaic_skip_existing(spark, tmp_path):
    """Rerun with skip_existing writes nothing; extending the time
    range writes only the new chunks (the J4 incremental contract at
    the mosaic layer)."""
    tiles = tile_grid(spark, n=4)
    store = str(tmp_path / "mosaic")
    a = build_mosaic(spark, tiles, (0, 0, 2, 1), TIMES, store,
                     n_bands=N_BANDS, tile_px=TILE_PX)
    assert a["n_chunks_written"] == 2 * 2  # 2 tiles x 2 times
    before = read_array(store).copy()
    b = build_mosaic(spark, tiles, (0, 0, 2, 1), TIMES, store,
                     n_bands=N_BANDS, tile_px=TILE_PX, skip_existing=True)
    assert b["n_chunks_written"] == 0
    np.testing.assert_array_equal(read_array(store), before)


SMALL_BBOX = (0, 0, 2, 1)  # 2 tiles; with TIMES, 4 chunks


@pytest.fixture(scope="module")
def small_store(spark, tmp_path_factory):
    """One clean build of the small 2-tile x 2-time layout; tests copy
    it instead of rebuilding."""
    store = str(tmp_path_factory.mktemp("small") / "mosaic")
    build_mosaic(spark, tile_grid(spark, n=4), SMALL_BBOX, TIMES, store,
                 n_bands=N_BANDS, tile_px=TILE_PX)
    return store, read_array(store).copy()


def _plant_leftover_temp(store):
    """What a writer killed between write and rename leaves behind."""
    with open(os.path.join(store, "0.0.0.0.tmp-123"), "wb") as f:
        f.write(b"partial")


def test_leftover_temp_file_is_invisible(spark, tmp_path, small_store):
    """Every store reader lists chunks through one name rule, so a
    killed writer's temp file breaks none of them (it used to raise
    ValueError parsing 'tmp-123' as an int)."""
    clean_store, clean = small_store
    store = str(tmp_path / "mosaic")
    shutil.copytree(clean_store, store)

    _plant_leftover_temp(store)
    np.testing.assert_array_equal(read_array(store), clean)

    _plant_leftover_temp(store)
    assert read_store(spark, store).count() == 4

    _plant_leftover_temp(store)
    exported = export_feature_geotiffs(spark, store, str(tmp_path / "cogs")).collect()
    assert len(exported) == 4 and all(r.ok for r in exported)

    _plant_leftover_temp(store)
    b = build_mosaic(spark, tile_grid(spark, n=4), SMALL_BBOX, TIMES, store,
                     n_bands=N_BANDS, tile_px=TILE_PX, skip_existing=True)
    assert b["n_chunks_written"] == 0
    np.testing.assert_array_equal(read_array(store), clean)


def test_partial_store_rerun_equals_clean_build(spark, tmp_path, small_store):
    """The rerun-after-crash path: half the chunks gone and a leftover
    temp file; skip_existing rebuilds exactly the missing chunks and
    the store reads back equal to a clean build."""
    clean_store, clean = small_store
    store = str(tmp_path / "mosaic")
    shutil.copytree(clean_store, store)
    for idx in chunk_files(store)[::2]:
        os.remove(os.path.join(store, chunk_name(idx)))
    _plant_leftover_temp(store)

    b = build_mosaic(spark, tile_grid(spark, n=4), SMALL_BBOX, TIMES, store,
                     n_bands=N_BANDS, tile_px=TILE_PX, skip_existing=True)
    assert b["n_chunks_written"] == 2
    assert len(chunk_files(store)) == 4
    np.testing.assert_array_equal(read_array(store), clean)


def _store_bytes(store):
    out = {}
    for name in sorted(os.listdir(store)):
        with open(os.path.join(store, name), "rb") as f:
            out[name] = f.read()
    return out


# Builds the small layout on a driver in America/New_York, under
# local[2,2] (task retries on), with a scene reader that fails exactly
# once across all tasks (the marker file is created atomically).
_NON_UTC_RETRY_BUILD = """
import datetime as dt, os, sys
from flytemosaic_spark.fixtures import tile_grid
from flytemosaic_spark.pipeline import build_mosaic, synthetic_scene
from flytemosaic_spark.session import get_spark

store, marker = sys.argv[1:3]


def fails_once(tile_id, period, n_bands, tile_px):
    try:
        os.close(os.open(marker, os.O_CREAT | os.O_EXCL))
    except FileExistsError:
        return synthetic_scene(tile_id, period, n_bands, tile_px)
    raise RuntimeError("injected scene read failure")


spark = get_spark("non-utc-retry", cpus=2, shuffle_partitions=2, driver_memory="1g",
                  extra_conf={"spark.master": "local[2,2]"})
spark.sparkContext.setLogLevel("ERROR")
build_mosaic(spark, tile_grid(spark, n=4), (0, 0, 2, 1),
             [dt.datetime(2020, 6, 1), dt.datetime(2021, 2, 1)], store,
             n_bands=4, tile_px=16, scene_reader=fails_once)
spark.stop()
"""


def test_non_utc_driver_with_task_retry_equals_clean_build(tmp_path, small_store):
    """A driver outside UTC plans the same layout (snapped times are
    naive year starts, the kernel sees integer time indices), and a
    task retried after a failed scene read rewrites its chunks
    atomically: the store is byte-equal to a clean UTC build."""
    clean_store, _ = small_store
    store, marker = str(tmp_path / "mosaic"), str(tmp_path / "failed-once")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TZ="America/New_York")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, env.get("PYTHONPATH")]))
    proc = subprocess.run(
        [sys.executable, "-c", _NON_UTC_RETRY_BUILD, store, marker],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert os.path.exists(marker)  # the injected failure did fire
    assert _store_bytes(store) == _store_bytes(clean_store)


def _jobs_run_by(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4()}"
    sc.setJobGroup(group, "build_mosaic job-count guard")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_build_job_count(spark, tmp_path):
    """Planning is driver-side: a clean build is the tile-index collect
    plus one kernel job, and a rerun that finds every chunk runs no
    kernel job at all."""
    tiles = tile_grid(spark, n=4)
    store = str(tmp_path / "mosaic")
    layouts = []

    def build(skip_existing):
        layouts.append(build_mosaic(
            spark, tiles, SMALL_BBOX, TIMES, store, n_bands=N_BANDS,
            tile_px=TILE_PX, skip_existing=skip_existing,
        ))

    assert _jobs_run_by(spark, lambda: build(False)) <= 2
    assert _jobs_run_by(spark, lambda: build(True)) <= 1
    assert [a["n_chunks_written"] for a in layouts] == [4, 0]
