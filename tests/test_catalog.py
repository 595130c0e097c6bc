"""The catalog's per-session schema memo (``catalog.file_schema``).

A table's schema is inferred once per session per file version: a repeated
load runs no Spark job, while a rewritten file, an added part file or a
flipped inference conf is seen on the same session.  Only the schema is
kept, never a DataFrame, so a table loaded twice gets distinct attribute
IDs on each side.
"""

from __future__ import annotations

import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from trafficbigdatasearch_spark import catalog

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
MERGE = "spark.sql.parquet.mergeSchema"


def _jobs(spark, fn, *args):
    """``(fn(*args), number of Spark jobs the call launched)``."""
    sc = spark.sparkContext
    group = f"test-catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc._jsc.clearJobGroup()
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def conf(spark):
    """Set session confs for one test; restore them afterwards."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        spark.conf.set(key, value)


def test_repeated_load_runs_no_job_and_rewrite_is_seen(spark, tmp_path):
    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    _, first = _jobs(spark, catalog.load_table, spark, str(tmp_path), "orders")
    df, again = _jobs(spark, catalog.load_table, spark, str(tmp_path), "orders")
    assert (first, again) == (1, 0)
    assert _rows(df) == [(1, "x"), (2, "y")]

    # rewrite in place with an extra column: a new file version
    pq.write_table(pa.table({"a": [3], "b": ["z"], "c": [1.5]}), path)
    df = catalog.load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["a", "b", "c"]
    assert _rows(df) == [(3, "z", 1.5)]


def test_directory_table_sees_added_part_file(spark, tmp_path, conf):
    # without mergeSchema Spark takes a directory's schema from one part
    # file; merging is what makes a new column in an added file visible
    conf(MERGE, "true")
    table = tmp_path / "orders.parquet"
    table.mkdir()
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), table / "part-000.parquet")
    _, first = _jobs(spark, catalog.load_table, spark, str(tmp_path), "orders")
    df, again = _jobs(spark, catalog.load_table, spark, str(tmp_path), "orders")
    assert first >= 1 and again == 0
    assert df.columns == ["a", "b"]

    pq.write_table(pa.table({"a": [3], "b": ["z"], "c": [1.5]}), table / "part-001.parquet")
    df = catalog.load_table(spark, str(tmp_path), "orders")
    assert df.schema == spark.read.parquet(str(table)).schema
    assert df.columns == ["a", "b", "c"]
    assert _rows(df) == [(1, "x", None), (2, "y", None), (3, "z", 1.5)]


def test_nanos_as_long_flip_matches_fresh_read(spark, tmp_path, conf):
    """``events.ts`` stored as TIMESTAMP(NANOS): with ``nanosAsLong`` it
    infers as bigint, without it inference fails.  A schema memoized under
    one value must not answer for the other: a read with the bigint schema
    would succeed where a fresh read raises."""
    path = str(tmp_path / "events.parquet")
    ns = [1_000_000_001_999, 2_000_000_002_999]
    pq.write_table(pa.table({"ts": pa.array(ns, pa.timestamp("ns"))}), path)

    conf(NANOS, "false")
    # load_table pins nanosAsLong for events, then converts ns -> us
    events = catalog.load_table(spark, str(tmp_path), "events")
    assert spark.conf.get(NANOS) == "true"
    assert dict(events.dtypes)["ts"] == "timestamp"
    assert _rows(events.select(F.unix_micros("ts"))) == [(1_000_000_001,), (2_000_000_002,)]
    assert catalog.file_schema(spark, path) == spark.read.parquet(path).schema
    assert dict(spark.read.parquet(path).dtypes)["ts"] == "bigint"

    spark.conf.set(NANOS, "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(path)
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        catalog.file_schema(spark, path)

    # back on: the memoized schema answers again, with no job
    _, jobs = _jobs(spark, catalog.load_table, spark, str(tmp_path), "events")
    assert jobs == 0


def _attribute_ids(df) -> set[str]:
    out = df._jdf.queryExecution().analyzed().output().toString()
    return set(re.findall(r"#(\d+)", out))


def test_self_join_gets_distinct_attribute_ids(spark, sf_dir, duck):
    """The memo keeps the schema, not the handle: two loads of one table
    are two relations, and a SQL-text self-join over them is answered right."""
    a = catalog.load_table(spark, sf_dir, "orders")
    b = catalog.load_table(spark, sf_dir, "orders")
    assert _attribute_ids(a) and not _attribute_ids(a) & _attribute_ids(b)
    got = (
        a.alias("a")
        .join(b.alias("b"), F.expr("a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey"))
        .count()
    )
    want = duck.execute(
        "SELECT count(*) FROM orders a JOIN orders b"
        " ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey"
    ).fetchone()[0]
    assert got == want > 0
