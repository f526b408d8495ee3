from flytemosaic_spark.functions.temporal import (
    EARLIEST_DATE,
    PERIOD_EPOCH_YEAR,
    PERIODS_PER_YEAR,
    clamp,
    date_to_period,
    period_to_date,
    period_window,
    snap_to_year,
)
from flytemosaic_spark.functions.paths import (
    path_join,
    relative_to,
    url_template,
    vsi_rewrite,
)

__all__ = [
    "EARLIEST_DATE",
    "PERIOD_EPOCH_YEAR",
    "PERIODS_PER_YEAR",
    "clamp",
    "date_to_period",
    "period_to_date",
    "period_window",
    "snap_to_year",
    "path_join",
    "relative_to",
    "url_template",
    "vsi_rewrite",
]
