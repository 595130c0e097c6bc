"""Focused pins for partitioning.py (r13): the compute-width spread must
actually defeat AQE's byte-model coalescing, and the conditional variant
must be an identity exactly when it promises to be."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trafficbigdatasearch_spark import partitioning as P


@pytest.fixture(scope="module")
def narrow(spark):
    # single-partition source — the local single-row-group-scan shape
    return spark.range(0, 10_000, 1, 1).select(
        F.col("id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )


@pytest.fixture()
def aqe_coalesce_pinned(spark):
    """Pin the AQE coalescing posture the bare-repartition assertion depends
    on (ADVICE r13: the coalesce precondition must be explicit, not
    inherited from version defaults)."""
    keys = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
    }
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    yield
    for k, v in prev.items():
        spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_spread_pins_session_width(spark, narrow, aqe_coalesce_pinned):
    """spread() yields exactly the configured shuffle width, and AQE does
    not coalesce it back (the whole point: a bare repartition(col) on the
    same frame IS coalesced below the width at these byte sizes)."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spread_parts = P.spread(narrow, "id").rdd.getNumPartitions()
    assert spread_parts == width
    bare_parts = narrow.repartition(F.col("id")).rdd.getNumPartitions()
    assert bare_parts < width  # AQE's byte model collapses the bare form


def test_spread_honors_deployment_cap(spark, narrow):
    """spark.tbds.spread.maxPartitions bounds the explicit exchange width —
    the at-scale guard (VERDICT r13 #6) for clusters whose global shuffle
    width far exceeds a spread frame's useful parallelism."""
    spark.conf.set(P.SPREAD_CAP_CONF, "4")
    try:
        assert P.spread(narrow, "id").rdd.getNumPartitions() == 4
    finally:
        spark.conf.unset(P.SPREAD_CAP_CONF)


def test_compute_width_non_numeric_conf_falls_back(spark):
    """'auto' (vendor AQE auto-tuning, not settable through vanilla Spark's
    validated conf) must not crash plan construction — compute_width falls
    back to the cluster default parallelism.  Exercised through a stub
    session because apache Spark rejects the value at set() time."""

    class _Conf:
        def get(self, key):
            return "auto"

    class _Session:
        conf = _Conf()
        sparkContext = spark.sparkContext

    class _DF:
        sparkSession = _Session()

    assert P.compute_width(_DF()) == spark.sparkContext.defaultParallelism


def test_ensure_compute_width_passthrough_on_exchange_bearing_plan(spark, narrow):
    """A plan with an upstream aggregate/join is passed through UNPROBED:
    under AQE the .rdd probe would finalize and eagerly execute its shuffle
    stages as real jobs, recomputed at action time (ADVICE r13), and such
    an exchange already starts at the session width pre-AQE."""
    agg = narrow.groupBy("id").count()
    assert P.ensure_compute_width(agg, "id") is agg
    joined = narrow.join(narrow.select("id"), "id")
    assert P.ensure_compute_width(joined, "id") is joined


def test_ensure_compute_width_widens_narrow_input(spark, narrow):
    out = P.ensure_compute_width(narrow, "id")
    assert out.rdd.getNumPartitions() == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_ensure_compute_width_identity_on_wide_input(spark):
    """At-scale contract: an input already at/above the session width is
    returned untouched — no exchange is added to a wide scan."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = spark.range(0, 10_000, 1, width + 4)
    out = P.ensure_compute_width(wide, "id")
    assert out is wide


def test_ensure_compute_width_bucketed_table_passthrough(spark, tmp_path):
    """A bucketed table is returned untouched even when its file-split
    count is below the session width: the bare scan reports one split per
    bucket file, and a repartition above it would switch the bucketed scan
    off, bringing back the exchanges the layout removes."""
    from trafficbigdatasearch_spark.sources.parquet import write_bucketed

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_buckets = max(1, width // 2)
    table = "tbds_test_bucketed_passthrough"
    src = spark.range(0, 1_000).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).alias("v")
    )
    write_bucketed(
        src.coalesce(1), table, ["user_id"], n_buckets,
        path=str(tmp_path / "bkt"),
    )
    try:
        bucketed = spark.table(table)
        assert bucketed.rdd.getNumPartitions() < width
        assert P.ensure_compute_width(bucketed, "user_id") is bucketed
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ensure_compute_width_streaming_passthrough(spark, tmp_path):
    """Streaming frames pass through (the .rdd partition probe is illegal
    on a stream) — pinned by the stream_gopher_gate incident (r13)."""
    src_dir = tmp_path / "stream_src"
    spark.range(5).write.parquet(str(src_dir))
    stream = spark.readStream.schema("id bigint").parquet(str(src_dir))
    out = P.ensure_compute_width(stream, "id")
    assert out is stream


def test_spread_is_value_neutral(spark, narrow):
    a = sorted(r["id"] for r in narrow.collect())
    b = sorted(r["id"] for r in P.spread(narrow, "id").collect())
    assert a == b
