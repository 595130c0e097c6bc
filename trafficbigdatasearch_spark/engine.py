"""Public facade — parity surface with ``TrafficStatistics``
(src/TrafficStatistics.scala:15-41): three typed entry points returning JSON
row lists, plus DataFrame-returning variants for composition.

Two storage layouts:

- ``layout="reference_csv"``: the reference's on-disk contract —
  ``speed_base.csv`` + per-month ``YYYYMM/YYYYMM{CSYDATA,SFZDATA}.csv``
  (src/OverSpeedCount.scala:47-48). Month enumeration happens once, driver
  side, purely to build the glob of paths (thin compat for D4); all cleaning
  and querying is one Spark plan.
- ``layout="parquet"``: the engine-native month-partitioned Parquet written by
  ``sources.parquet.write_month_partitioned`` — month selection is Catalyst
  partition pruning, no driver enumeration at all.

Parquet tables are opened once: an engine lists each table's files and reads
its schema at the table's first use, and every later call plans on that
handle, so building a facade plan launches no Spark job.  A month appended
later (a new ``month=YYYYMM`` directory) is picked up by reopening the table
the first time a call asks for it; a month rewritten in place is not seen
until a new engine is constructed.
"""

from __future__ import annotations

import datetime as dt
import os
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession

from trafficbigdatasearch_spark.queries import (
    accident_count,
    average_speed,
    overspeed_count,
)
from trafficbigdatasearch_spark.queries._core import BBox, parse_date
from trafficbigdatasearch_spark.session import stop_spark
from trafficbigdatasearch_spark.sources import (
    read_accident_csv,
    read_fee_csv,
    read_speed_base_csv,
    read_speed_csv,
    to_json_rows,
)

ACCIDENT_FILE = "TF_ZFZD_CASESPECIFICATION.csv"


def months_between(start: dt.date, end: dt.date) -> list[str]:
    """``YYYYMM`` strings from start's month through end's month inclusive
    (the reference's while-loop, src/OverSpeedCount.scala:42-128)."""
    out = []
    y, m = start.year, start.month
    while (y, m) <= (end.year, end.month):
        out.append(f"{y:04d}{m:02d}")
        m += 1
        if m == 13:
            y, m = y + 1, 1
    return out


class TrafficEngine:
    """Session + data-path holder exposing the reference's query surface.

    SESSION-WIDE side effect: construction (and every query) pins
    ``spark.sql.session.timeZone`` to this engine's ``timezone`` on the
    SHARED session (see ``_pin_timezone`` for why the reference's
    epoch-millis semantics force this), and loading the testdata ``events``
    table via ``catalog.load_table`` likewise pins UTC + parquet
    ``nanosAsLong``.  Unrelated queries on the same session inherit those
    timestamp semantics; collect results before interleaving engines or
    zones.

    On the parquet layout each table is opened (files listed, schema read)
    once, at first use, and reused by every later call.  A call that asks for
    a month the handle does not know, and whose ``month=`` directory now
    exists, reopens that table; any other change (a month rewritten in
    place, a re-ingest into the same directory) needs a new engine."""

    def __init__(
        self,
        spark: SparkSession,
        data_path_base: str,
        layout: str = "reference_csv",
        mode: str = "parity",
        timezone: str = "UTC",
    ):
        self.spark = spark
        self.base = data_path_base
        self.layout = layout
        self.mode = mode
        self.timezone = timezone
        self.tz = ZoneInfo(timezone) if timezone != "UTC" else dt.timezone.utc
        # parquet table name -> (handle, the ``month=`` values it was opened with)
        self._tables: dict[str, tuple[DataFrame, set[str]]] = {}
        self._pin_timezone()
        if layout == "parquet":
            self._check_ingest_mode()

    def _pin_timezone(self) -> None:
        """The reference's epoch-millis values are JVM-default-timezone
        dependent (SURVEY §2.10.7).  Query boundaries are computed with
        ``self.tz`` driver-side while row timestamps parse in the SESSION
        timezone, so the session is pinned to the engine zone at construction
        AND before each query plan is built (engines with different zones on
        one session must not interleave lazy DataFrames with queries —
        collect before switching).  Traffic data is wall-clock; pass
        ``timezone="Asia/Shanghai"`` for reference parity."""
        self.spark.conf.set("spark.sql.session.timeZone", self.timezone)

    def _check_ingest_mode(self) -> None:
        """The parquet layout is parsed with a cleaning mode at ingest
        (sources/parquet.ingest_reference_layout writes a ``_mode`` marker);
        querying it with a different mode silently mixes semantics, so raise
        on a detectable mismatch.  (Marker check is local-filesystem only —
        object stores skip it.)"""
        marker = os.path.join(self.base, "_mode")
        try:
            with open(marker) as f:
                ingest_mode = f.read().strip()
        except OSError:
            return
        if ingest_mode != self.mode:
            raise ValueError(
                f"parquet layout at {self.base} was ingested with "
                f"mode={ingest_mode!r} but the engine was constructed with "
                f"mode={self.mode!r} — re-ingest or match the modes"
            )

    # --- table loading -------------------------------------------------------

    def _parquet(self, name: str) -> DataFrame:
        """The parquet table ``name``, opened on first use and reused after:
        ``spark.read.parquet`` lists the directory and runs a schema
        inference job, which would otherwise repeat on every read.  Lazy, so
        a layout without ``accident/`` still serves the other entry points.

        The table's ``month=`` directories are listed (a file-system call,
        no Spark job) before the open, so the recorded set never names a
        month the handle lacks."""
        if name not in self._tables:
            path = os.path.join(self.base, name)
            months = {
                p.rsplit("=", 1)[1] for p in _glob(self.spark, os.path.join(path, "month=*"))
            }
            self._tables[name] = (self.spark.read.parquet(path), months)
        return self._tables[name][0]

    def accident(self) -> DataFrame:
        if self.layout == "parquet":
            return self._parquet("accident")
        return read_accident_csv(
            self.spark, os.path.join(self.base, ACCIDENT_FILE), mode=self.mode
        )

    def speed_base(self) -> DataFrame:
        if self.layout == "parquet":
            return self._parquet("speed_base")
        return read_speed_base_csv(
            self.spark, os.path.join(self.base, "speed_base.csv")
        )

    def _month_paths(self, months: list[str], suffix: str) -> list[str]:
        return [os.path.join(self.base, mm, f"{mm}{suffix}.csv") for mm in months]

    def _pruned(self, name: str, months: list[str] | None) -> DataFrame:
        """Partitioned read with month selection as a partition-column filter
        — Catalyst prunes the scan to the requested months at planning time,
        replacing the reference's driver-side path loop (D4).  ``None`` means
        every month; ``[]`` selects none, as on the CSV layout.

        A requested month the handle does not know, whose directory exists
        now, was appended after the open: the table is reopened (one schema
        inference job, only when the data changed)."""
        df = self._parquet(name)
        if months is None:
            return df.drop("month")
        wanted = [int(m) for m in months]
        unknown = {str(m) for m in wanted} - self._tables[name][1]
        if any(
            _path_exists(self.spark, os.path.join(self.base, name, f"month={m}"))
            for m in unknown
        ):
            del self._tables[name]
            df = self._parquet(name)
        # SQL text has no empty IN list; ``false`` keeps no row, as ``IN ()`` would
        cond = f"month IN ({', '.join(map(str, wanted))})" if wanted else "false"
        return df.filter(cond).drop("month")

    def _csv_paths(self, months: list[str] | None, suffix: str) -> list[str]:
        """Existing per-month file paths; ``months=None`` means EVERY month
        on disk (matching the parquet layout's unfiltered read) — discovered
        via a Hadoop glob so both layouts share the 'None = full table'
        contract."""
        if months is None:
            return _glob(self.spark, os.path.join(self.base, "*", f"*{suffix}.csv"))
        paths = self._month_paths(months, suffix)
        return [p for p in paths if _path_exists(self.spark, p)]

    def speed_data(self, months: list[str] | None = None) -> DataFrame:
        if self.layout == "parquet":
            return self._pruned("speed_data", months)
        return read_speed_csv(self.spark, self._csv_paths(months, "CSYDATA"))

    def fee_data(self, months: list[str] | None = None) -> DataFrame:
        if self.layout == "parquet":
            return self._pruned("fee_data", months)
        return read_fee_csv(self.spark, self._csv_paths(months, "SFZDATA"))

    # --- DataFrame-returning query surface ----------------------------------

    def accident_count_df(
        self, lon_upper, lon_lower, lat_upper, lat_lower, start_date, end_date
    ) -> DataFrame:
        self._pin_timezone()
        bbox = BBox(lon_lower, lon_upper, lat_lower, lat_upper)
        return accident_count(
            self.accident(), bbox, start_date, end_date, tz=self.tz
        )

    def overspeed_count_df(
        self, lon_upper, lon_lower, lat_upper, lat_lower, start_date, end_date
    ) -> DataFrame:
        self._pin_timezone()
        bbox = BBox(lon_lower, lon_upper, lat_lower, lat_upper)
        months = months_between(parse_date(start_date), parse_date(end_date))
        return overspeed_count(
            self.speed_base(),
            self.speed_data(months),
            self.fee_data(months),
            bbox,
            start_date,
            end_date,
            tz=self.tz,
            mode=self.mode,
        )

    def average_speed_df(
        self, lon_upper, lon_lower, lat_upper, lat_lower, date: str
    ) -> DataFrame:
        self._pin_timezone()
        bbox = BBox(lon_lower, lon_upper, lat_lower, lat_upper)
        end = parse_date(date)
        start = max(end - dt.timedelta(days=30), dt.date(2016, 6, 1))
        months = months_between(start, end)
        today_month = [f"{end.year:04d}{end.month:02d}"]
        # Both layouts select the "today" slice by FILE month (CSV: the
        # month's files; parquet: the month partition, which ingest tags from
        # the source directory) — a timestamp-derived month filter would
        # diverge for toll trips whose interval crosses the month boundary.
        return average_speed(
            self.speed_base(),
            self.speed_data(months),
            self.fee_data(months),
            bbox,
            date,
            speed_data_today=self.speed_data(today_month),
            fee_data_today=self.fee_data(today_month),
            tz=self.tz,
            mode=self.mode,
        )

    # --- JSON surface (reference parity, src/TrafficStatistics.scala:25-35) --

    def get_accident_count(self, *args) -> list[str]:
        return to_json_rows(self.accident_count_df(*args))

    def get_overspeed_count(self, *args) -> list[str]:
        return to_json_rows(self.overspeed_count_df(*args))

    def get_average_speed(self, *args) -> list[str]:
        return to_json_rows(self.average_speed_df(*args))

    def stop(self) -> None:
        """Teardown (src/TrafficStatistics.scala:37-40)."""
        stop_spark(self.spark)


def _path_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def _glob(spark: SparkSession, pattern: str) -> list[str]:
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(pattern)
    statuses = p.getFileSystem(conf).globStatus(p)
    if statuses is None:
        return []
    return [s.getPath().toString() for s in statuses]
