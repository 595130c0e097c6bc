"""Explicit schemas for the traffic tables and the event stream (SURVEY.md
§1.2).  The driver's Parquet testdata tables have none here: ``catalog``
reads them with the schema Spark infers from the files.

The reference declares schemas as Scala case classes
(src/AccidentStatistics.scala:12-33, src/OverSpeedCount.scala:12-14,
src/AverageSpeed.scala:14-16); here they are ``StructType``s so the scan layer
is schema-ful (vectorized readers, no inference pass, pushdown-friendly).

Raw ("_RAW") variants are all-string: the lenient-parse semantics of the
reference (0/0.0 defaults, epoch sentinel timestamps — SURVEY §2.10) are
applied as *column expressions* in sources/csv_traffic.py, never per-row
Python, so Catalyst sees through the whole cleaning stage.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _struct(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


# --- A. Traffic domain (reference parity) -----------------------------------

#: TF_ZFZD_CASESPECIFICATION.csv — 20 source columns
#: (src/AccidentStatistics.scala:12-33). Every field arrives quoted.
ACCIDENT_COLUMNS = [
    ("ACCIDENTCLASS", IntegerType()),
    ("LOSSMONEY", IntegerType()),
    ("CASEID", StringType()),
    ("CASEDATE", StringType()),
    ("CASELEVEL", IntegerType()),
    ("CASELOCROADID", IntegerType()),
    ("CASELOCROAD", StringType()),
    ("CASELOCORADPART", StringType()),
    ("CASELOCDIRECTION", StringType()),
    ("CASELOCKILO", StringType()),
    ("CASELOCMETER", IntegerType()),
    ("CASELONGITUDE", DoubleType()),
    ("CASELATITUDE", DoubleType()),
    ("ACCIDENTTYPE", StringType()),
    ("DEATHNUM", IntegerType()),
    ("GREVIOUSINJURYNUM", IntegerType()),
    ("SLIGHTINJURYNUM", IntegerType()),
    ("CRASHEDMOTORVEHICLENUM", IntegerType()),
    ("LANDFORM", StringType()),
    ("WEATHER", StringType()),
]

ACCIDENT_RAW = _struct(*[(n, StringType()) for n, _ in ACCIDENT_COLUMNS])

#: Typed accident table incl. derived hour/timestamp
#: (src/AccidentStatistics.scala:92-93).
ACCIDENT = _struct(
    *ACCIDENT_COLUMNS, ("hour", IntegerType()), ("timestamp", LongType())
)

#: speed_base.csv — station dimension, 8 fields
#: (src/OverSpeedCount.scala:12; src/AverageSpeed.scala:14).
SPEED_BASE_RAW = _struct(
    ("LXBM", StringType()),
    ("GDCSYZH", StringType()),
    ("GDCSYBM", StringType()),
    ("CSFX", StringType()),
    ("CSYMC", StringType()),
    ("JDZBS", StringType()),
    ("LON", StringType()),
    ("LAT", StringType()),
)

SPEED_BASE = _struct(
    ("LXBM", StringType()),
    ("GDCSYZH", StringType()),
    ("GDCSYBM", StringType()),
    ("CSFX", StringType()),
    ("CSYMC", StringType()),
    ("JDZBS", StringType()),
    ("LON", DoubleType()),
    ("LAT", DoubleType()),
)

#: YYYYMMCSYDATA.csv — camera observations, 5 fields
#: (src/OverSpeedCount.scala:13,66-81).
SPEED_DATA_RAW = _struct(
    ("SITE_GUID", StringType()),
    ("HPHM", StringType()),
    ("WZSJ", StringType()),
    ("CLSD", StringType()),
    ("ISOVERSPEED", StringType()),
)

#: Typed camera observations with the full derived-calendar variant
#: (src/AverageSpeed.scala:15 — superset of src/OverSpeedCount.scala:13).
SPEED_DATA = _struct(
    ("SITE_GUID", StringType()),
    ("HPHM", StringType()),
    ("WZSJMillis", LongType()),
    ("WZSJHourOfDay", IntegerType()),
    ("WZSJDayOfMonth", IntegerType()),
    ("WZSMonthOfYear", IntegerType()),
    ("WZSJYear", IntegerType()),
    ("CLSD", IntegerType()),
    ("ISOVERSPEED", IntegerType()),
)

#: YYYYMMSFZDATA.csv — toll trips, 8 fields
#: (src/OverSpeedCount.scala:14,83-105).
FEE_DATA_RAW = _struct(
    ("EXSTATION", StringType()),
    ("EXTIME", StringType()),
    ("ENSTATION", StringType()),
    ("ENTIME", StringType()),
    ("EXVEHCLASS", StringType()),
    ("ENVEHPLATE", StringType()),
    ("EXVEHPLATE", StringType()),
    ("EXTRUCKFLAG", StringType()),
)

FEE_DATA = _struct(
    ("EXSTATION", StringType()),
    ("EXTIMEMillis", LongType()),
    ("ENSTATION", StringType()),
    ("ENTIMEMillis", LongType()),
    ("EXVEHCLASS", StringType()),
    ("ENVEHPLATE", StringType()),
    ("EXVEHPLATE", StringType()),
    ("EXTRUCKFLAG", StringType()),
)


# --- B. Event stream contract ------------------------------------------------

#: The schema ``streaming/events.read_event_stream`` imposes on an event
#: stream.  It is the stream contract, not the testdata ``events.parquet``
#: file schema: batch and registry code read the testdata tables with the
#: schema Spark infers from the files (``catalog.file_schema``).
EVENTS = _struct(
    ("event_id", LongType()),
    ("ts", TimestampType()),
    ("user_id", LongType()),
    ("event_type", StringType()),
    ("value", DoubleType()),
    ("props", StringType()),
)
