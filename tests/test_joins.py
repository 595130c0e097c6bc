"""Operator-level join tests: salting must not change results, and the
salted plan must actually spread the key space."""

from __future__ import annotations

from pyspark.sql import functions as F

from trafficbigdatasearch_spark.catalog import load_table
from trafficbigdatasearch_spark.operators import joins as J

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, (tuple(r) for r in df.collect())))


def test_salted_join_equals_plain_inner(spark):
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_orderstatus")
    plain = li.join(o.withColumnRenamed("o_orderkey", "l_orderkey"), ["l_orderkey"])
    salted = J.salted_equi_join(
        li, o.withColumnRenamed("o_orderkey", "l_orderkey"), ["l_orderkey"], n_salts=4
    )
    assert _rows(salted) == _rows(plain)


def test_salted_join_equals_plain_left(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_linenumber")
    # restrict right side so some left rows have no match
    o = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    )
    plain = li.join(o, ["l_orderkey"], "left")
    salted = J.salted_equi_join(li, o, ["l_orderkey"], n_salts=4, how="left")
    assert _rows(salted) == _rows(plain)


def test_salted_join_shuffles_on_salt(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_linenumber")
    o = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    # disable auto-broadcast so the equi join actually shuffles on its keys
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        salted = J.salted_equi_join(li, o, ["l_orderkey"], n_salts=4)
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "_salt" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_interval_join_equals_plain(spark):
    """Time-bucketed interval join must produce exactly the rows of the
    keyless containment join, while planning a hash join (scalable) instead
    of a nested loop."""
    ev = load_table(spark, SF, "events").select(
        "event_id", F.unix_millis("ts").alias("t")
    ).limit(500)
    # derive intervals from orders: [o_ms, o_ms + 6h]
    o = load_table(spark, SF, "orders").select(
        "o_orderkey",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("lo"),
    ).withColumn("hi", F.col("lo") + 6 * 3600 * 1000).limit(200)
    plain = J.interval_join(ev, o, None, "t", "lo", "hi")
    bucketed = J.bucketed_interval_join(ev, o, "t", "lo", "hi", 3600 * 1000)
    cols = ["event_id", "o_orderkey"]
    assert _rows(bucketed.select(*cols)) == _rows(plain.select(*cols))
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


# ---------------------------------------------------------------------------
# blocked_levenshtein_join
# ---------------------------------------------------------------------------


def _names(spark, col, names):
    return spark.createDataFrame([(n,) for n in names], f"{col}: string")


def test_fuzzy_join_finds_within_distance(spark):
    a = _names(spark, "na", ["red bolt", "blue bolt", "red ring"])
    b = _names(spark, "nb", ["rad bolt", "blue belt", "red rings"])
    out = J.blocked_levenshtein_join(
        a, b, "na", "nb",
        F.split(F.col("na"), " ")[1], F.split(F.col("nb"), " ")[1], 2,
    )
    got = {(r.na, r.nb, r.edit_distance) for r in out.collect()}
    # same-noun blocks only: 'blue belt' (noun belt) matches nothing;
    # 'red rings' (noun rings) matches nothing despite distance 1 to
    # 'red ring' — the documented blocking recall trade.  'blue bolt' vs
    # 'rad bolt' shares the block but is distance 4 — residual rejects it.
    assert got == {("red bolt", "rad bolt", 1)}


def test_fuzzy_join_null_blocks_never_match(spark):
    a = spark.createDataFrame([("one",), (None,)], "na: string")
    b = spark.createDataFrame([("one",), ("ona",)], "nb: string")
    out = J.blocked_levenshtein_join(
        a, b, "na", "nb", F.substring("na", 1, 1), F.substring("nb", 1, 1), 1
    )
    assert {(r.na, r.nb) for r in out.collect()} == {("one", "one"), ("one", "ona")}


def test_fuzzy_join_plan_is_equi_join(spark):
    a = _names(spark, "na", ["aa bb"] * 5)
    b = _names(spark, "nb", ["aa bc"] * 5)
    plan = J.blocked_levenshtein_join(
        a, b, "na", "nb",
        F.split(F.col("na"), " ")[1], F.split(F.col("nb"), " ")[1], 2,
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# interval_overlap_join
# ---------------------------------------------------------------------------


def _ivals(spark, prefix, ivals):
    return spark.createDataFrame(
        [(f"{prefix}{i}", lo, hi) for i, (lo, hi) in enumerate(ivals)],
        f"{prefix}id: string, {prefix}lo: long, {prefix}hi: long",
    )


def test_interval_overlap_matches_brute_force(spark):
    import random

    rng = random.Random(11)
    a = [(x, x + rng.randrange(1, 40)) for x in (rng.randrange(0, 300) for _ in range(60))]
    b = [(x, x + rng.randrange(1, 40)) for x in (rng.randrange(0, 300) for _ in range(60))]
    out = J.interval_overlap_join(
        _ivals(spark, "a", a), _ivals(spark, "b", b), "alo", "ahi", "blo", "bhi", 16
    )
    got = sorted((r.aid, r.bid) for r in out.collect())
    want = sorted(
        (f"a{i}", f"b{j}")
        for i, (alo, ahi) in enumerate(a)
        for j, (blo, bhi) in enumerate(b)
        if alo <= bhi and blo <= ahi
    )
    assert got == want  # exactly-once: sorted lists equal => no dup pairs


def test_interval_overlap_boundary_touch_counts(spark):
    # closed ends: [0,10] and [10,20] overlap at the single instant 10
    out = J.interval_overlap_join(
        _ivals(spark, "a", [(0, 10)]), _ivals(spark, "b", [(10, 20)]),
        "alo", "ahi", "blo", "bhi", 4,
    )
    assert [(r.aid, r.bid) for r in out.collect()] == [("a0", "b0")]


def test_interval_overlap_disjoint_empty(spark):
    out = J.interval_overlap_join(
        _ivals(spark, "a", [(0, 5)]), _ivals(spark, "b", [(7, 9)]),
        "alo", "ahi", "blo", "bhi", 2,
    )
    assert out.count() == 0


def test_interval_overlap_plan_no_bnlj(spark):
    a = _ivals(spark, "a", [(i, i + 5) for i in range(30)])
    b = _ivals(spark, "b", [(i * 2, i * 2 + 3) for i in range(30)])
    plan = J.interval_overlap_join(
        a, b, "alo", "ahi", "blo", "bhi", 8
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Bloom-bitmap prefiltered joins
# ---------------------------------------------------------------------------


def test_bloom_semi_join_equals_plain(spark):
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_linenumber"
    )
    keys = (
        load_table(spark, SF, "supplier")
        .filter(F.col("s_suppkey") % 3 == 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    plain = li.join(keys.distinct(), "l_suppkey", "left_semi")
    bloomed = J.bloom_semi_join(li, keys, "l_suppkey", n_bits=1 << 12)
    assert _rows(bloomed) == _rows(plain)


def test_bloom_anti_join_equals_plain(spark):
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_linenumber"
    )
    keys = (
        load_table(spark, SF, "supplier")
        .filter(F.col("s_suppkey") % 3 == 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    plain = li.join(keys.distinct(), "l_suppkey", "left_anti")
    bloomed = J.bloom_anti_join(li, keys, "l_suppkey", n_bits=1 << 12)
    # plain left_anti reorders the string join key first; align columns
    assert _rows(bloomed.select(*plain.columns)) == _rows(plain)


def test_bloom_anti_join_null_keys_survive(spark):
    left = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, "c")], "k bigint, v string"
    )
    keys = spark.createDataFrame([(1,)], "k bigint")
    got = set(map(tuple, J.bloom_anti_join(left, keys, "k", n_bits=64 * 4).collect()))
    want = set(map(tuple, left.join(keys, "k", "left_anti").collect()))
    assert got == want
    assert (None, "b") in got


def test_bloom_prefilter_no_false_negatives(spark):
    """Every true member must pass the prefilter (bloom contract)."""
    keys = spark.range(0, 500).select((F.col("id") * 7).alias("k"))
    words = J.bloom_bitmap(keys, "k", n_bits=1 << 10, n_hashes=3)
    assert len(words) == (1 << 10) // 64
    passed = J.bloom_prefilter(keys, "k", words).count()
    assert passed == 500


def test_bloom_prefilter_is_selective(spark):
    """With a tiny key set and an adequate bitmap, most non-members are
    dropped before any join."""
    big = spark.range(0, 20000).select(F.col("id").alias("k"))
    keys = spark.range(0, 20).select(F.col("id").alias("k"))
    words = J.bloom_bitmap(keys, "k", n_bits=1 << 16, n_hashes=3)
    passed = J.bloom_prefilter(big, "k", words).count()
    assert 20 <= passed < 200  # fp rate at m/n=3276 bits/key is ~0


def test_bloom_bitmap_validates_params(spark):
    keys = spark.range(3).select(F.col("id").alias("k"))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        J.bloom_bitmap(keys, "k", n_bits=100)
    with _pytest.raises(ValueError):
        J.bloom_bitmap(keys, "k", n_bits=1 << 30)
    with _pytest.raises(ValueError):
        J.bloom_bitmap(keys, "k", n_hashes=0)


def test_quality_referential_fact_edge_bloom_and_preagg(spark):
    """The lineitem→orders FK edge runs the scale path: child pre-aggregated
    to distinct keys in BOTH regimes; the bloom bypass engages exactly when
    the parent cannot broadcast (threshold gate, the planner's own regime
    signal) — pinned both ways, with the violation count equal to the plain
    row-level anti join in each."""
    from trafficbigdatasearch_spark.catalog import load_table
    from trafficbigdatasearch_spark.queries import standard, std_olap_quality

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    plain = li.join(
        orders.select(F.col("o_orderkey").alias("l_orderkey")),
        "l_orderkey",
        "left_anti",
    ).count()

    # broadcast regime (default threshold): pre-agg anti join, NO bloom
    out = standard.queries()["quality_referential"](spark, sf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" not in plan, plan
    got = {r["check_name"]: r["violations"] for r in out.collect()}
    assert got["lineitem_orders_fk"] == plain

    # shuffle regime (broadcast off): the bloom probe must appear
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        std_olap_quality._FK_BLOOM_CACHE.clear()
        out2 = standard.queries()["quality_referential"](spark, sf)
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        assert "xxhash64" in plan2, plan2
        got2 = {r["check_name"]: r["violations"] for r in out2.collect()}
        assert got2["lineitem_orders_fk"] == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        std_olap_quality._FK_BLOOM_CACHE.clear()


def test_fk_threshold_conf_parse_human_forms(spark):
    """Regression (review r6): the broadcast-threshold gate must parse the
    documented human conf forms ('10MB', '1g'), not just the rendered
    '<n>b' form."""
    from trafficbigdatasearch_spark.queries.std_olap_quality import (
        _parse_size_conf,
    )

    assert _parse_size_conf("-1") == -1
    assert _parse_size_conf("10485760") == 10485760
    assert _parse_size_conf("10485760b") == 10485760
    assert _parse_size_conf("10MB") == 10 << 20
    assert _parse_size_conf("1g") == 1 << 30
    assert _parse_size_conf(" 64k ") == 64 << 10
