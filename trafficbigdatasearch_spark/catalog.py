"""Testdata catalog: load the driver's parquet tables as DataFrames.

Replaces the reference's per-query ``registerTempTable`` churn
(src/OverSpeedCount.scala:33-35,109-114) with one logical DataFrame per table;
temp views are created only by the SQL facade when a caller wants ``spark.sql``.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import functions as F

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: session confs that change the schema Spark infers from Parquet footers
#: (``ParquetToSparkSchemaConverter``'s inputs, plus ``mergeSchema`` for
#: directory tables); their values are part of every memo key
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

#: per session: memo key -> the ``StructType`` Spark inferred for that key
_schemas: weakref.WeakKeyDictionary[SparkSession, dict[tuple, StructType]] = (
    weakref.WeakKeyDictionary()
)


def _file_version(path: str) -> tuple:
    """``(size, mtime_ns)`` of a file, or the sorted ``(relpath, size,
    mtime_ns)`` of every file under a directory table.  A driver-side
    listing: it runs no Spark job."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    files = []
    for root, _, names in os.walk(path):
        for n in names:
            full = os.path.join(root, n)
            st = os.stat(full)
            files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def file_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the Parquet table at ``path`` (one file,
    or a directory of part files), inferred once per session per file
    version.

    The memo key is the absolute path, the file version (size and mtime of
    the file, or of every file under the directory) and the session's values
    of :data:`_INFERENCE_CONFS`, so a rewritten or extended table, or a
    flipped inference conf, infers again; a hit runs no Spark job.  Only the
    ``StructType`` is kept, never a DataFrame: every caller builds its own
    relation, with its own attribute IDs."""
    path = os.path.abspath(path)
    key = (path, _file_version(path)) + tuple(
        spark.conf.get(c) for c in _INFERENCE_CONFS
    )
    memo = _schemas.setdefault(spark, {})
    schema = memo.get(key)
    if schema is None:
        schema = memo[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one testdata table (vectorized reader, pushdown on).

    The table's schema is inferred once per session per file version
    (:func:`file_schema`); later calls read with that schema and launch no
    Spark job.  Each call returns a new DataFrame, so a table loaded twice
    (a self-join) gets distinct attribute IDs on each side.

    ``events.ts`` is ``timestamp[us]`` with no UTC flag in the testdata
    files, which Spark reads as ``timestamp_ntz``; it is cast to
    ``timestamp`` below.  A TIMESTAMP(NANOS) file surfaces as int64 through
    ``spark.sql.legacy.parquet.nanosAsLong`` and is converted here to a
    microsecond timestamp (truncating, exactly like DuckDB's native read of
    the same file).

    Both confs below are runtime-settable, so this works on any caller's
    session — including a vanilla ``SparkSession`` that never went through
    :func:`session.build_spark` (whose session-level pinning lives at
    session.py).  Without ``nanosAsLong`` a vanilla session throws
    ``PARQUET_TYPE_ILLEGAL`` on the events table before any query logic runs;
    without a UTC session zone, ``hour(ts)`` / ``CAST(ts AS DATE)`` would be
    skewed vs DuckDB's naive timestamps on machines in other zones.

    NOTE: loading ``events`` mutates the CALLER'S SESSION (both confs stay
    set for every later query on it — deliberate, so driver/oracle timestamp
    semantics agree; see also TrafficEngine's docstring for the facade-level
    contract)."""
    if name == "events":
        from pyspark.errors import AnalysisException

        for conf, value in (
            ("spark.sql.legacy.parquet.nanosAsLong", "true"),
            ("spark.sql.session.timeZone", "UTC"),
        ):
            try:
                spark.conf.set(conf, value)
            except AnalysisException:
                # CANNOT_MODIFY_CONFIG / unknown legacy conf on an
                # older/newer Spark: fall through to the read, which throws
                # its own PARQUET_TYPE_ILLEGAL if the conf truly mattered
                pass
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(file_schema(spark, path)).parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) file surfaced as int64 via nanosAsLong
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # timestamp[us] file without isAdjustedToUTC reads as NTZ; with
            # the session zone pinned UTC above, the cast is wall-clock
            # identity and matches DuckDB's naive read of the same file.
            # Strict-typed functions (unix_millis, window) need TIMESTAMP.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Expose the tables to ``spark.sql`` under their canonical names."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
