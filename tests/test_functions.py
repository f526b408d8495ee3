"""Temporal-grid functions: property tests for the 16-day period
quantization (reference glad.py:28-36) — round-trip, monotonicity,
and grid alignment."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flytemosaic_spark.functions.temporal import (
    PERIOD_BASE,
    clamp,
    date_to_period,
    period_to_date,
    period_window,
    snap_to_year,
)


def _period_py(d: dt.date) -> int:
    return 392 + 23 * (d.year - 1997) + (d.timetuple().tm_yday - 1) // 16


@settings(max_examples=20, deadline=None)
@given(st.dates(min_value=dt.date(1997, 1, 1), max_value=dt.date(2030, 12, 31)))
def test_date_to_period_matches_reference_formula(spark, d):
    got = (
        spark.createDataFrame([(d,)], "d date")
        .select(date_to_period(F.col("d")).alias("p"))
        .first()
        .p
    )
    assert got == _period_py(d)


def test_period_roundtrip_grid(spark):
    # period -> date -> period is the identity on the grid
    df = spark.range(PERIOD_BASE, PERIOD_BASE + 23 * 30).select(
        F.col("id").alias("p"),
        date_to_period(period_to_date(F.col("id"))).alias("p2"),
    )
    assert df.where("p != p2").count() == 0


def test_snap_and_clamp(spark):
    row = (
        spark.createDataFrame([(dt.datetime(2020, 7, 15, 13, 45),)], "t timestamp")
        .select(
            snap_to_year(F.col("t")).alias("y"),
            clamp(
                F.col("t"),
                F.lit("2020-07-20").cast("timestamp"),
                F.lit("2020-12-31").cast("timestamp"),
            ).alias("lo"),
            clamp(
                F.col("t"),
                F.lit("2020-01-01").cast("timestamp"),
                F.lit("2020-06-30").cast("timestamp"),
            ).alias("hi"),
        )
        .first()
    )
    assert row.y == dt.datetime(2020, 1, 1)
    assert row.lo == dt.datetime(2020, 7, 20)
    assert row.hi == dt.datetime(2020, 6, 30)


def test_period_window_matches_column_expression(spark):
    """The driver-side window equals date_to_period(clamp(...)) per end
    over a date sweep with leap days, dates before EARLIEST_DATE and
    dates after ``latest``."""
    latest = "2026-01-01"
    days = [dt.date(1994, 6, 1) + dt.timedelta(days=5 * i) for i in range(2500)]
    days += [dt.date(y, 2, 29) for y in (2000, 2004, 2020, 2024)]
    days += [dt.date(y, 12, 31) for y in (1996, 2000, 2020, 2025, 2026)]
    rows = [(d.isoformat(), w) for d in days for w in (0, 16, 365, 3650)]
    lo_b, hi_b = F.lit("1997-01-01").cast("timestamp"), F.lit(latest).cast("timestamp")
    t = F.col("s").cast("timestamp")
    got = spark.createDataFrame(rows, "s string, w int").select(
        "s",
        "w",
        date_to_period(clamp(t - F.make_dt_interval(F.col("w")), lo_b, hi_b)).alias("lo"),
        date_to_period(clamp(t, lo_b, hi_b)).alias("hi"),
    )
    for r in got.collect():
        window = period_window(dt.datetime.fromisoformat(r.s), r.w, latest)
        assert (window.start, window.stop - 1) == (r.lo, r.hi), (r.s, r.w)
