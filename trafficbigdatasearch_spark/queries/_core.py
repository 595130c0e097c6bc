"""Shared traffic-query building blocks (station filter, interval join,
segment classification) used by all three entry points.

Design notes for 100 TB scale:

- The station dimension after a bbox filter is thousands of rows -> always a
  broadcast hash join (no shuffle of the fact side), hinted explicitly.
- The observation⋈toll interval join is an equi join on plate with the time
  containment as a residual predicate — Catalyst plans hash/SMJ on the plate
  key; plate keys are skewed in real traffic data, so AQE skew-join splitting
  (enabled in session.py) is the mitigation.
- The reference runs four near-identical aggregates over the same cached join
  output (src/OverSpeedCount.scala:133-136) — here one CASE WHEN derived
  ``car_type`` turns that into a single grouped aggregate: one shuffle, one
  pass, identical result set.

Expressions are SQL text handed to string-taking DataFrame methods
(``filter(str)``, ``selectExpr``, ``groupBy(str)``, ``hint``), not trees of
PySpark ``Column`` calls: PySpark wraps every ``Column``/``functions`` call
in call-site capture, about a dozen py4j round trips each, which made plan
building cost more than Catalyst's own phases.  ``F.expr`` appears only
where the API needs a ``Column`` (join conditions, aggregates).  Only numbers
enter the text: integers via ``int()`` and doubles via :func:`sql_double`.
"""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: The 4-segment classification the reference runs as 4 separate scans
#: (src/OverSpeedCount.scala:133-136, src/AverageSpeed.scala:112-115):
#: class=1/type=0 -> 01, class>1/type=0 -> 02, class=1/type=1 -> 03,
#: class>1/type=1 -> 04.  DOUBLE comparison of the string columns matches the
#: reference SQL's implicit numeric promotion (an int cast would reject
#: decimal-formatted values like "2.0" that the reference accepts); rows that
#: fit no segment -> NULL.
CAR_TYPE_SQL = (
    "CASE"
    " WHEN try_cast(`class` AS DOUBLE) = 1 AND try_cast(`type` AS DOUBLE) = 0 THEN '01'"
    " WHEN try_cast(`class` AS DOUBLE) > 1 AND try_cast(`type` AS DOUBLE) = 0 THEN '02'"
    " WHEN try_cast(`class` AS DOUBLE) = 1 AND try_cast(`type` AS DOUBLE) = 1 THEN '03'"
    " WHEN try_cast(`class` AS DOUBLE) > 1 AND try_cast(`type` AS DOUBLE) = 1 THEN '04'"
    " END"
)

#: Per-segment speed limit (src/OverSpeedCount.scala:133-136): heavy trucks
#: (car_type 04) 100, everything else 120.
OVERSPEED_THRESHOLD_SQL = "CASE WHEN car_type = '04' THEN 100 ELSE 120 END"


def sql_double(x) -> str:
    """``x`` as a Spark SQL DOUBLE literal — the one way a caller-supplied
    non-integer value enters the facade's SQL text.  ``float(x)`` raises
    ``ValueError`` on anything that is not a number, so no caller string is
    ever interpolated."""
    v = float(x)
    if math.isfinite(v):
        return repr(v) + "D"
    name = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


class BBox:
    """Spatial bounding box (closed on all edges, P1)."""

    def __init__(self, lon_lower: float, lon_upper: float, lat_lower: float, lat_upper: float):
        self.lon_lower = lon_lower
        self.lon_upper = lon_upper
        self.lat_lower = lat_lower
        self.lat_upper = lat_upper

    def sql(self, lon: str, lat: str) -> str:
        """Containment predicate over the columns ``lon``/``lat`` as SQL
        text; raises ``ValueError`` when an edge is not a number."""
        lon_lo, lon_hi, lat_lo, lat_hi = (
            sql_double(v)
            for v in (self.lon_lower, self.lon_upper, self.lat_lower, self.lat_upper)
        )
        return (
            f"({lon} >= {lon_lo} AND {lon} <= {lon_hi})"
            f" AND ({lat} >= {lat_lo} AND {lat} <= {lat_hi})"
        )


def parse_date(s: str) -> dt.date:
    """Query-parameter date parse, ``yyyy-MM-dd`` (F1)."""
    return dt.datetime.strptime(s, "%Y-%m-%d").date()


def date_millis(d: dt.date, tz: dt.tzinfo) -> int:
    """Midnight of ``d`` in the engine timezone -> epoch millis, matching the
    reference's ``DateTime.parse(date).getMillis`` in the JVM zone
    (SURVEY.md §2.10.7)."""
    local = dt.datetime(d.year, d.month, d.day, tzinfo=tz)
    return int(local.timestamp() * 1000)


def station_guids(speed_base: DataFrame, bbox: BBox) -> DataFrame:
    """Stations inside the bbox, GUID only
    (src/OverSpeedCount.scala:36-38 / src/AverageSpeed.scala:97-99).

    The 1-column projection keeps the broadcast tiny; dedup is NOT applied —
    the reference joins the raw GUID list, so duplicate station rows would
    fan out, exactly as in the reference.
    """
    return speed_base.filter(bbox.sql("LON", "LAT")).select("GDCSYBM")


def join_stations(speed: DataFrame, guids: DataFrame) -> DataFrame:
    """Fact ⋈ broadcast station list (J1, src/OverSpeedCount.scala:119).

    Output shape = the reference's ``speed_YYYYMM`` tables:
    (guid, plate, time, speed, hour).
    """
    return speed.join(
        guids.hint("broadcast"), F.expr("SITE_GUID = GDCSYBM"), "inner"
    ).selectExpr(
        "SITE_GUID AS guid",
        "HPHM AS plate",
        "WZSJMillis AS time",
        "CLSD AS speed",
        "WZSJHourOfDay AS hour",
    )


def next_month(d: dt.date) -> dt.date:
    """First day of the month after ``d`` — ONE home for the parity-critical
    next-calendar-month idiom used by range cutoffs and today-slice bounds."""
    return (d.replace(day=1) + dt.timedelta(days=32)).replace(day=1)


def months_in_range(start: dt.date, end: dt.date) -> int:
    """Calendar months touched by [start, end] inclusive — the quirk-2.10.1
    trigger: the reference's UNION (and thus parity dedup) only exists from
    the second month on."""
    return (end.year - start.year) * 12 + (end.month - start.month) + 1


def join_toll_class(
    speed: DataFrame,
    fee: DataFrame,
    month_key: bool = True,
    carry: list[str] | None = None,
) -> DataFrame:
    """Interval join (J2, src/OverSpeedCount.scala:123): enrich each camera
    observation with the vehicle class/truck-flag of the toll trip containing
    it in time.  Equi key ``plate = ENVEHPLATE`` with the BETWEEN band as a
    residual filter -> hash/SMJ, never a nested loop.

    ``month_key=True`` adds the reference's *implicit* month equi-key: the
    reference joins month *m*'s observations only against month *m*'s toll
    FILE (src/OverSpeedCount.scala:123 references the per-month temp tables),
    so a trip spanning a month boundary never matches observations from the
    following month.  With month-consistent files (each record in its
    timestamp's month file — the reference's layout contract) this equals an
    equi condition on the derived calendar month — which also tightens the
    join's hash key, shrinking per-key build sides.  ``month_key=False`` is
    the "fixed" semantics: pure time containment across month edges.

    Quirk §2.10.5 preserved: only the *entry* plate is matched (the reference
    abandoned the OR-key variant at :122 because an OR key forces BNLJ).
    Output = the reference's ``speed_class_time`` shape:
    (speed, hour, class, type) plus any ``carry`` columns from the speed side
    (e.g. the event-time column the streaming pipeline windows on).
    """
    cond = "plate = ENVEHPLATE AND (`time` >= ENTIMEMillis AND `time` <= EXTIMEMillis)"
    if month_key:
        # calendar month of epoch millis, in the session timezone
        cond = (
            f"({cond}) AND date_format(timestamp_millis(`time`), 'yyyyMM')"
            " = date_format(timestamp_millis(ENTIMEMillis), 'yyyyMM')"
        )
    return speed.join(fee, F.expr(cond), "inner").selectExpr(
        "speed",
        "hour",
        "EXVEHCLASS AS class",
        "EXTRUCKFLAG AS type",
        *[f"`{c}`" for c in carry or []],
    )


def overspeed_threshold() -> Column:
    """:data:`OVERSPEED_THRESHOLD_SQL` as a Column.  ONE home for the
    thresholds — batch and streaming pipelines must agree."""
    return F.expr(OVERSPEED_THRESHOLD_SQL)


def car_type_col() -> Column:
    """:data:`CAR_TYPE_SQL` as a Column, over the ``class``/``type`` columns
    of :func:`join_toll_class`'s output."""
    return F.expr(CAR_TYPE_SQL)
