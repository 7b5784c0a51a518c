"""Temporal scalar functions.

Re-expresses the reference's pandas datetime idioms as Spark column
expressions (reference: 实习一/实习一代码/test.py:64-65 12-hour parse +
tz-localize; lab2 nb cell 7 feature extraction; test.py:216 pandas
``dt.dayofweek`` Monday=0 convention).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference parses NYC 311 timestamps with '%m/%d/%Y %I:%M:%S %p'
# (test.py:64); Spark's pattern equivalent:
US_12H_FORMAT = "M/d/yyyy h:mm:ss a"


def parse_us_12h(col) -> Column:
    """Parse '03/14/2024 05:32:10 PM' style strings to timestamp."""
    return F.to_timestamp(F.col(col) if isinstance(col, str) else col, US_12H_FORMAT)


def to_tz(col) -> Column:
    """Interpret a (session-TZ) timestamp as wall-clock in
    America/New_York.

    Matches pandas ``tz_localize("America/New_York")`` semantics for the
    engine's UTC-session default: the stored instant is shifted so that
    the wall-clock fields match what a New York observer would see.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.from_utc_timestamp(c, "America/New_York")


def dayofweek_monday0(col) -> Column:
    """pandas ``dt.dayofweek`` convention: Monday=0 … Sunday=6.

    Spark's ``dayofweek`` is Sunday=1 … Saturday=7; the off-by-one here is
    correctness-critical for every weekday aggregate (SURVEY §7.3).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.dayofweek(c) + F.lit(5)) % 7


def is_weekend(col) -> Column:
    """1 if Saturday/Sunday else 0 (reference: lx_lightgbmTest.py:21)."""
    return (dayofweek_monday0(col) >= 5).cast("int")


def time_interval_bucket(ts_col) -> Column:
    """Rule-based time-of-day bucket (lab2 nb cell 7 ``get_time_interval``).

    morning_peak 7-9, evening_peak 17-19 (weekdays), day 6-22
    otherwise, night else. Unlike the reference, holidays are not
    special-cased: no query carries a holiday flag.
    """
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    h = F.hour(c)
    weekday = dayofweek_monday0(c) < 5
    return (
        F.when(weekday & h.between(7, 9), F.lit("morning_peak"))
        .when(weekday & h.between(17, 19), F.lit("evening_peak"))
        .when(h.between(6, 22), F.lit("day"))
        .otherwise(F.lit("night"))
    )
