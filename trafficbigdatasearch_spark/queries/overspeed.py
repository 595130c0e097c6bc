"""Over-speed violation counts per hour × vehicle segment.

Reference: ``getOverSpeedCount`` (src/TrafficStatistics.scala:25-27 ->
src/OverSpeedCount.scala:18-139).

The reference's structure — a driver loop registering per-month temp tables,
closed per-month time ranges whose boundaries touch (quirk §2.10.2), a
string-built ``UNION`` (= UNION **DISTINCT**, quirk §2.10.1), then four
near-identical filtered aggregates over the union — collapses into one plan:

- The per-month closed ranges exactly tile ``[start, end+1d]`` (closed); the
  records double-counted at month boundaries produce identical
  (speed, hour, class, type) tuples which UNION DISTINCT collapses again.
  Hence: one range predicate over the whole window + ``distinct()`` is
  row-for-row identical to the reference's loop (``mode="parity"``).
  Crucially the dedup only happens when the range spans >1 month — a
  single-month range builds no ``union`` keyword at all
  (src/OverSpeedCount.scala:54 only fires from the second month on), so
  intra-month duplicate tuples are *kept* there; the distinct is conditional
  on the month count.
- ``mode="fixed"`` keeps every observation (UNION ALL semantics, half-open
  range) — the statistically-intended answer.
- The four segment aggregates (src/OverSpeedCount.scala:133-136) become one
  CASE WHEN ``car_type`` + per-segment speed threshold (cars > 120, heavy
  trucks > 100) + a single groupBy — one shuffle instead of four scans.

Output: (car_type string, time_period int, speed_limit_num bigint).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trafficbigdatasearch_spark.queries._core import (
    months_in_range,
    next_month,
    CAR_TYPE_SQL,
    OVERSPEED_THRESHOLD_SQL,
    BBox,
    date_millis,
    join_stations,
    join_toll_class,
    parse_date,
    station_guids,
)


def overspeed_count(
    speed_base: DataFrame,
    speed_data: DataFrame,
    fee_data: DataFrame,
    bbox: BBox,
    start_date: str,
    end_date: str,
    tz: dt.tzinfo = dt.timezone.utc,
    mode: str = "parity",
) -> DataFrame:
    """``tz`` MUST match the Spark session timezone: range boundaries use
    ``tz`` in Python while the parity month key (``join_toll_class``) and
    row-timestamp parsing use the SESSION zone — ``TrafficEngine`` pins both
    to the same zone; direct callers are responsible for the same alignment
    (SURVEY §2.10.7)."""
    start_d, end_d = parse_date(start_date), parse_date(end_date)
    start_ms = date_millis(start_d, tz)
    end_ms = date_millis(end_d + dt.timedelta(days=1), tz)
    n_months = months_in_range(start_d, end_d)

    if mode == "parity":
        # Closed BETWEEN (quirk §2.10.3) — but the loop never reads past the
        # end month's file, so the instant ``end+1d 00:00`` only counts when
        # it still falls inside the end month; records in the next month's
        # file are out of scope even at the exact boundary.
        cutoff_ms = date_millis(next_month(end_d), tz)
        time_pred = (
            f"(WZSJMillis >= {start_ms} AND WZSJMillis <= {end_ms})"
            f" AND WZSJMillis < {cutoff_ms}"
        )
    else:
        time_pred = f"WZSJMillis >= {start_ms} AND WZSJMillis < {end_ms}"

    obs = speed_data.filter(time_pred)
    speed = join_stations(obs, station_guids(speed_base, bbox))
    classed = join_toll_class(speed, fee_data, month_key=(mode == "parity"))

    if mode == "parity" and n_months > 1:
        # UNION DISTINCT across the reference's monthly tables ≡ distinct over
        # the whole window; single-month queries have no union -> no dedup
        # (see module docstring).
        classed = classed.distinct()

    return (
        classed.selectExpr("*", f"{CAR_TYPE_SQL} AS car_type")
        .filter(f"car_type IS NOT NULL AND speed > {OVERSPEED_THRESHOLD_SQL}")
        .groupBy("car_type", "hour")
        .agg(F.expr("count(*) AS speed_limit_num"))
        .withColumnRenamed("hour", "time_period")
    )
