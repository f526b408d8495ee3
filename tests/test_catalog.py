"""Catalog planning queries (§3.2/§3.3): spatial prune, period
expansion, url templating — checked against straightforward Python
oracles on the deterministic tile-grid fixture."""

from __future__ import annotations

import datetime as dt

from flytemosaic_spark.fixtures import tile_grid
from flytemosaic_spark.operators.catalog import required_scenes, tiles_for_bbox


def test_bbox_prune_exact(spark):
    tiles = tile_grid(spark, n=10)
    got = sorted(r.tile_id for r in tiles_for_bbox(tiles, (2.5, 3.5, 4.5, 5.5)).collect())
    # overlapping 1-degree tiles: x in {2,3,4}, y in {3,4,5}
    want = sorted(
        f"{x:03d}E_{y:02d}N" for x in (2, 3, 4) for y in (3, 4, 5)
    )
    assert got == want


def test_required_scenes_shape_and_determinism(spark):
    tiles = tile_grid(spark, n=6)
    times = [dt.datetime(2020, 6, 1), dt.datetime(2020, 8, 1), dt.datetime(2021, 2, 1)]
    df = required_scenes(spark, tiles, (0.2, 0.2, 2.8, 1.8), times)
    rows = df.collect()
    # snapped times: 2020 + 2021 -> 2 distinct years; window = 365d
    # each year-start t covers periods in [t-365d, t] => 24 periods
    # (23/year grid + both endpoints) but the consecutive windows share
    # the boundary period, deduped by distinct => 47 distinct periods;
    # tiles: x in {0,1,2} y in {0,1} = 6
    n_tiles = 6
    assert len(rows) == 47 * n_tiles
    assert len({r.url for r in rows}) == len(rows)  # distinct urls
    again = required_scenes(spark, tiles, (0.2, 0.2, 2.8, 1.8), times).collect()
    assert sorted(r.url for r in rows) == sorted(r.url for r in again)


def test_required_scenes_clamps_to_earliest(spark):
    tiles = tile_grid(spark, n=2)
    df = required_scenes(
        spark, tiles, (0, 0, 2, 2), [dt.datetime(1997, 3, 1)], window_days=3650
    )
    periods = [int(r.url.rsplit("/", 1)[-1].removesuffix(".tif")) for r in df.collect()]
    assert min(periods) == 392  # 1997-01-01 = period base, nothing earlier
