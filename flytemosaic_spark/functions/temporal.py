"""Temporal-grid column expressions (SURVEY §1.3, §2.7 F6-F11).

The reference quantizes time onto a 16-day period grid:
``period = 392 + 23*(year-1997) + (day_of_year_delta // 16)``
(reference: flytemosaic/datasets/glad.py:28-36) and snaps derived
features to a yearly grid with clamped look-back windows
(glad.py:210-234). All of it is expressible as pure Catalyst column
expressions — no Python UDFs — so these functions stay inside
whole-stage codegen and cost nothing at 100 TB scale.

Planning a request needs the same grid for a handful of query times,
so :func:`period_window` computes a time's clamped look-back window
in plain Python on the driver.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column
from pyspark.sql import functions as F

PERIOD_EPOCH_YEAR = 1997
PERIODS_PER_YEAR = 23
PERIOD_BASE = 392
PERIOD_DAYS = 16
EARLIEST_DATE = "1997-01-01"


def date_to_period(t: Column) -> Column:
    """F6 — date → 16-day period index.

    ``392 + 23*(year-1997) + datediff(t, trunc(t,'year')) // 16``
    (reference: glad.py:34-36 uses the day-delta from Jan 1).
    """
    day_delta = F.datediff(F.to_date(t), F.trunc(F.to_date(t), "year"))
    return (
        F.lit(PERIOD_BASE)
        + F.lit(PERIODS_PER_YEAR) * (F.year(t) - F.lit(PERIOD_EPOCH_YEAR))
        + F.floor(day_delta / F.lit(PERIOD_DAYS))
    ).cast("bigint")


def period_to_date(p: Column) -> Column:
    """F7 — period index → date (inverse of :func:`date_to_period`).

    ``date(1997 + (p-392)//23, 1, 1) + 16*((p-392) mod 23) days``
    (reference: glad.py:28-31). Floor division (not truncation) so
    pre-1997 periods round correctly.
    """
    off = p - F.lit(PERIOD_BASE)
    years = F.floor(off / F.lit(PERIODS_PER_YEAR)).cast("int")
    k = (off - F.lit(PERIODS_PER_YEAR) * years).cast("int")
    jan1 = F.make_date(F.lit(PERIOD_EPOCH_YEAR) + years, F.lit(1), F.lit(1))
    return F.date_add(jan1, k * F.lit(PERIOD_DAYS))


def snap_to_year(t: Column) -> Column:
    """F8 — snap a timestamp to its year start (reference: glad.py:233-234)."""
    return F.date_trunc("year", t)


def clamp(t: Column, lo: Column, hi: Column) -> Column:
    """F9 — clamp into [lo, hi] via greatest/least (reference: glad.py:182-185)."""
    return F.least(F.greatest(t, lo), hi)


def period_window(t: dt.datetime, window_days: int, latest: str) -> range:
    """The periods covering ``[t - window_days, t]``, both ends clamped
    to ``[EARLIEST_DATE, latest]`` (F9 then F6 per end; reference
    glad.py:163-186,245-257).

    Plain Python for driver-side planning: equal to
    ``date_to_period(clamp(...))`` on a naive (UTC-session) timestamp.
    """
    lo_bound = dt.datetime.fromisoformat(EARLIEST_DATE)
    hi_bound = dt.datetime.fromisoformat(latest)

    def period(d: dt.datetime) -> int:
        d = min(max(d, lo_bound), hi_bound)
        day_delta = (d.date() - dt.date(d.year, 1, 1)).days
        return (
            PERIOD_BASE
            + PERIODS_PER_YEAR * (d.year - PERIOD_EPOCH_YEAR)
            + day_delta // PERIOD_DAYS
        )

    return range(period(t - dt.timedelta(days=window_days)), period(t) + 1)
