"""Average speed per hour × vehicle segment, today vs trailing 30 days.

Reference: ``getAverageSpeed`` (src/TrafficStatistics.scala:29-31 ->
src/AverageSpeed.scala:19-225).  Two branches unioned:

- **history** (time_point=0): trailing-30-day window, half-open per-month
  ranges tiling ``[start, end+1d)`` (src/AverageSpeed.scala:202) + UNION
  DISTINCT across months (:139) -> here a single range predicate +
  ``distinct()``; start clamped to 2016-06-01 when earlier (:120-121, D5).
- **today** (time_point=1): the query month's file filtered by calendar
  equality — with the reference's bug preserved in ``mode="parity"``:
  day/month/year are taken from ``start = date - 30d`` but applied to the
  query month's data (src/AverageSpeed.scala:24-27 vs :101, quirk §2.10.4),
  so for most dates the branch matches zero rows. ``mode="fixed"`` filters on
  the query date itself.  No distinct in this branch (no union in reference).

Four AVG aggregates per branch (src/AverageSpeed.scala:112-115,218-221)
-> one CASE WHEN ``car_type`` grouped aggregate per branch (no speed
threshold here, unlike overspeed).

Output: (time_point int, car_type string, time_period int,
avg_carspeed double).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trafficbigdatasearch_spark.queries._core import (
    CAR_TYPE_SQL,
    BBox,
    months_in_range,
    date_millis,
    join_stations,
    join_toll_class,
    parse_date,
    station_guids,
)

#: Data availability floor (src/AverageSpeed.scala:120-121).
CLAMP_MONTH_START = dt.date(2016, 6, 1)


def _segment_avg(classed: DataFrame, time_point: int) -> DataFrame:
    return (
        classed.selectExpr("*", f"{CAR_TYPE_SQL} AS car_type")
        .filter("car_type IS NOT NULL")
        .groupBy("car_type", "hour")
        .agg(F.expr("avg(speed) AS avg_carspeed"))
        .selectExpr(
            f"{int(time_point)} AS time_point",
            "car_type",
            "hour AS time_period",
            "avg_carspeed",
        )
    )


def average_speed(
    speed_base: DataFrame,
    speed_data: DataFrame,
    fee_data: DataFrame,
    bbox: BBox,
    date: str,
    speed_data_today: DataFrame,
    fee_data_today: DataFrame,
    tz: dt.tzinfo = dt.timezone.utc,
    mode: str = "parity",
) -> DataFrame:
    """``speed_data_today``/``fee_data_today`` are the query month's tables,
    selected by file month exactly as the reference's per-file reads do
    (src/AverageSpeed.scala:33-34).

    ``tz`` MUST match the Spark session timezone (boundaries use ``tz``,
    month keys and row parsing use the session zone — ``TrafficEngine``
    aligns both; direct callers must too, SURVEY §2.10.7).
    """
    end = parse_date(date)
    start = end - dt.timedelta(days=30)

    guids = station_guids(speed_base, bbox)

    # --- today branch (query month's data only, src/AverageSpeed.scala:31-34)
    today_src = start if mode == "parity" else end  # quirk §2.10.4
    today_obs = speed_data_today.filter(
        f"WZSJDayOfMonth = {today_src.day} AND WZSMonthOfYear = {today_src.month}"
        f" AND WZSJYear = {today_src.year}"
    )
    # The reference's today interval-join uses only the query month's toll
    # file (src/AverageSpeed.scala:108).
    today = _segment_avg(
        join_toll_class(
            join_stations(today_obs, guids), fee_data_today, month_key=(mode == "parity")
        ),
        time_point=1,
    )

    # --- history branch (trailing 30 days, clamped)
    hist_start = max(start, CLAMP_MONTH_START)
    start_ms = date_millis(hist_start, tz)
    end_ms = date_millis(end + dt.timedelta(days=1), tz)
    hist_obs = speed_data.filter(f"WZSJMillis >= {start_ms} AND WZSJMillis < {end_ms}")
    classed = join_toll_class(
        join_stations(hist_obs, guids), fee_data, month_key=(mode == "parity")
    )
    n_months = months_in_range(hist_start, end)
    if mode == "parity" and n_months > 1:
        # UNION DISTINCT across months (§2.10.1); a single-month window builds
        # no ``union`` in the reference (src/AverageSpeed.scala:139) -> no dedup.
        classed = classed.distinct()
    history = _segment_avg(classed, time_point=0)

    return history.unionByName(today)
