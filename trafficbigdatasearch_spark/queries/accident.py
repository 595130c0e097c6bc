"""Accident counts per hour inside a bbox/date range.

Reference: ``getAccidentCount`` (src/TrafficStatistics.scala:33-35 ->
src/AccidentStatistics.scala:53-108).  Semantics reproduced exactly:

- end date is extended by one day and the range is CLOSED — the instant
  ``end+1d 00:00:00.000`` itself is included (quirk §2.10.3),
- bbox closed on all edges,
- sentinel-dated rows (unparseable CASEDATE -> epoch millis) are kept and
  simply fail the time predicate (quirk §2.10.9),
- output: (time_period int, accident_num bigint) per distinct hour
  (src/AccidentStatistics.scala:105).

Whereas the reference materializes the filtered table (``cache table`` +
count, job #1) and then aggregates (job #2), this is ONE declarative plan:
scan -> filter (pushed to the source) -> partial/final hash aggregate.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trafficbigdatasearch_spark.queries._core import BBox, date_millis, parse_date


def accident_count(
    accident: DataFrame,
    bbox: BBox,
    start_date: str,
    end_date: str,
    tz: dt.tzinfo = dt.timezone.utc,
) -> DataFrame:
    start = parse_date(start_date)
    end = parse_date(end_date) + dt.timedelta(days=1)
    lo, hi = date_millis(start, tz), date_millis(end, tz)
    in_bbox = bbox.sql("CASELONGITUDE", "CASELATITUDE")
    return (
        accident.filter(f"(`timestamp` >= {lo} AND `timestamp` <= {hi}) AND ({in_bbox})")
        .groupBy("hour")
        .agg(F.expr("count(*) AS accident_num"))
        .withColumnRenamed("hour", "time_period")
    )
