"""Classic OLAP additions, bloom-prefiltered joins, exactly-once
streaming ingest, data-quality audits, ORC interop, CDC merge, file skipping.

Split from queries/standard.py (VERDICT r10 #7) with registration
order preserved by the aggregator's import order; see ROTATION.md
for the driver-window policy and ledger."""

from __future__ import annotations

from pyspark.sql import functions as F
from trafficbigdatasearch_spark.catalog import file_schema, load_table
from trafficbigdatasearch_spark.operators import (
    joins,
)
from ._shared import _REGISTRY, _cents, _dsum, register
from .std_textsim import _drain_to_memory, _scratch

# =============================================================================
# Classic OLAP additions: histogram, sequence transitions, winsorized stats
# =============================================================================


@register(
    "a_histogram",
    """SELECT event_type,
              CAST(least(19, greatest(0, CAST(floor(value / 10) AS BIGINT)))
                   AS BIGINT) AS bucket,
              CAST(COUNT(*) AS BIGINT) AS n
       FROM events
       WHERE value IS NOT NULL
       GROUP BY 1, 2""",
)
def a_histogram_q(spark, sf):
    """Fixed-width histogram / binned aggregation: value binned into 20
    clamped width-10 buckets per event_type — one map-side-combined
    shuffle carrying at most |types| x 20 rows per executor.  Binning is
    pure integer arithmetic (floor of a double divide, clamped), identical
    in both engines — no width_bucket dependency.  The at-scale
    distribution-profiling primitive (the exact sibling of the KLL sketch
    histogram).  NULL values excluded before binning (same policy as
    a_drift_chi2: Spark's greatest/least skip NULLs and would fold NULL
    mass into bucket 0 where DuckDB yields a NULL bucket)."""
    ev = load_table(spark, sf, "events").filter(F.col("value").isNotNull())
    bucket = F.least(
        F.lit(19),
        F.greatest(F.lit(0), F.floor(F.col("value") / 10).cast("bigint")),
    ).cast("bigint")
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "a_drift_chi2",
    """WITH o AS (SELECT event_type,
                       CAST(least(19, greatest(0,
                            CAST(floor(value / 10) AS BIGINT)))
                            AS BIGINT) AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS n_old
               FROM events WHERE day(ts) <= 15 AND value IS NOT NULL
               GROUP BY 1, 2),
       n AS (SELECT event_type,
                    CAST(least(19, greatest(0,
                         CAST(floor(value / 10) AS BIGINT)))
                         AS BIGINT) AS bucket,
                    CAST(COUNT(*) AS BIGINT) AS n_new
             FROM events WHERE day(ts) > 15 AND value IS NOT NULL
             GROUP BY 1, 2),
       j AS (SELECT COALESCE(o.event_type, n.event_type) AS event_type,
                    COALESCE(o.bucket, n.bucket) AS bucket,
                    CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
                    CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
             FROM o FULL OUTER JOIN n
               ON o.event_type = n.event_type AND o.bucket = n.bucket),
       t AS (SELECT o.event_type, SUM(n_old) AS _to FROM o GROUP BY 1),
       u AS (SELECT n.event_type, SUM(n_new) AS _tn FROM n GROUP BY 1),
       e AS (SELECT j.*,
                    CAST(COALESCE(u._tn, 0) AS DOUBLE) *
                    CAST(j.n_old AS DOUBLE) /
                    CAST(t._to AS DOUBLE) AS expected
             FROM j LEFT JOIN t ON t.event_type = j.event_type
                    LEFT JOIN u ON u.event_type = j.event_type)
       SELECT event_type, bucket, n_old, n_new, expected,
              CASE WHEN expected = 0 OR expected IS NULL THEN NULL
                   ELSE (CAST(n_new AS DOUBLE) - expected) *
                        (CAST(n_new AS DOUBLE) - expected) / expected
              END AS chi2_term
       FROM e""",
)
def a_drift_chi2_q(spark, sf):
    """Distribution drift between two corpus snapshots
    (operators/validate.py::histogram_drift): the month's first half
    plays the OLD snapshot, the rest the NEW feed, per-event_type
    fixed-width value histograms compared bin-by-bin via the chi-square
    contribution against the old distribution's expectation — the
    ingestion monitor of a continuously-fed pipeline.  Chi-square, not
    PSI: PSI's per-bin ln is platform math (the lm.logprob/NDCG policy
    line) while these terms are exact integer counts through one fixed
    IEEE multiply/divide sequence, hash-exact per bin; the corpus-level
    fold is left to the consumer per the no-float-SUM rule.  New-only
    bins surface with NULL terms (infinite-drift signal) instead of
    divide-by-zero.  NULL values are excluded before binning on both
    engines (ADVICE r8: Spark's greatest/least skip NULLs and would
    silently fold NULL mass into bucket 0; NULL-rate monitoring is
    quality_profile's job)."""
    from trafficbigdatasearch_spark.operators import validate

    ev = load_table(spark, sf, "events")
    old = ev.filter(F.dayofmonth("ts") <= 15)
    new = ev.filter(F.dayofmonth("ts") > 15)
    return validate.histogram_drift(
        old, new, "value", n_bins=20, bin_width=10.0, group_col="event_type"
    )


@register(
    "ts_cusum",
    """WITH e AS (SELECT event_id, event_type, ts,
                         CAST(round(value * 100) AS BIGINT) AS c
                  FROM events WHERE value IS NOT NULL),
       g AS (SELECT event_id, event_type,
                    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS s,
                    CAST(SUM(c) OVER (PARTITION BY event_type
                         ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pfx,
                    CAST(row_number() OVER (PARTITION BY event_type
                         ORDER BY ts, event_id) AS BIGINT) AS idx
             FROM e)
       SELECT event_id AS id, event_type AS key, idx,
              CAST(n::HUGEINT * pfx::HUGEINT - idx::HUGEINT * s::HUGEINT
                   AS BIGINT) AS cusum_num,
              n
       FROM g""",
)
def ts_cusum_q(spark, sf):
    """Per-key CUSUM mean-shift screen (operators/timeseries.py::
    cusum_per_key, r9): the cumulative sum of deviations from each
    event_type's own mean, scaled by 100·n into EXACT INTEGER numerators
    (n·prefix_i − i·s on the cents lattice) so every row hash-compares —
    Page's sequential change statistic as the complement to
    a_drift_chi2's snapshot comparison: the histogram says the
    distributions differ, CUSUM localizes WHEN the level shifted.  NULL
    values excluded before indexing (the r9 drift policy).  ONE exchange
    on the key; totals and the ordered prefix ride two window specs over
    the same sort; internal arithmetic DECIMAL(38,0) (overflow-free at
    1e9-row keys), output cast to BIGINT (loud ANSI overflow, generous
    at any tested SF)."""
    from trafficbigdatasearch_spark.operators import timeseries as TS

    return TS.cusum_per_key(load_table(spark, sf, "events")).select(
        "id", "key", "idx", F.col("cusum_num").cast("bigint").alias("cusum_num"), "n"
    )


@register(
    "a_event_transitions",
    """WITH seq AS (
         SELECT user_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev_type
         FROM events)
       SELECT prev_type, event_type,
              CAST(COUNT(*) AS BIGINT) AS n
       FROM seq
       WHERE prev_type IS NOT NULL
       GROUP BY prev_type, event_type""",
)
def a_event_transitions_q(spark, sf):
    """First-order event-sequence transition counts (the Markov-chain /
    user-journey matrix): per-user lag over (ts, event_id) — event_id
    breaks timestamp ties deterministically — then a grouped count of
    (prev, next) pairs.  One shuffle for the window (user-partitioned,
    the natural key) + one map-side-combined count bounded by |types|².
    Feeds funnel design and next-event prediction baselines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "a_basket_pairs",
    """WITH d AS (SELECT DISTINCT user_id, event_type FROM events)
       SELECT a.event_type AS type_a, b.event_type AS type_b,
              CAST(COUNT(*) AS BIGINT) AS n_users
       FROM d a JOIN d b
         ON a.user_id = b.user_id AND a.event_type < b.event_type
       GROUP BY 1, 2""",
)
def a_basket_pairs_q(spark, sf):
    """Co-occurrence / market-basket pairs: how many users exhibit each
    PAIR of event types — the association-mining support table.  Distinct
    (user, type) first (collapses the fact stream to <= users x types
    rows), then an ordered self-join per user and one map-side-combined
    count bounded by |types|² rows.  The distinct is the guard: the
    self-join runs on the collapsed set, never on raw events, so per-user
    fan-out is at most types-choose-2 — at 100 TB the classic a-priori
    first step without a single wide shuffle."""
    ev = load_table(spark, sf, "events")
    d = ev.select("user_id", "event_type").distinct()
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "a_attribution_touch",
    """WITH e AS (SELECT user_id, event_type,
                         epoch_ms(ts)::HUGEINT * 10000000000 + event_id AS ord
                  FROM events),
       p AS (SELECT user_id, MIN(ord) AS fp FROM e
             WHERE event_type = 'purchase' GROUP BY user_id),
       pre AS (SELECT e.user_id, e.event_type, e.ord
               FROM e JOIN p USING (user_id)
               WHERE e.event_type <> 'purchase' AND e.ord < p.fp),
       t AS (SELECT user_id,
                    arg_min(event_type, ord) AS first_touch,
                    arg_max(event_type, ord) AS last_touch
             FROM pre GROUP BY user_id)
       SELECT first_touch, last_touch,
              CAST(COUNT(*) AS BIGINT) AS n_users
       FROM t GROUP BY 1, 2""",
)
def a_attribution_touch_q(spark, sf):
    """BATCH first-touch / last-touch attribution: for each converting
    user, the first and last non-purchase event before their FIRST
    purchase, rolled up into the (first_touch, last_touch) matrix —
    the batch twin of stream_attribution's within-horizon join.  Ordering
    key is (epoch_ms x 1e10 + event_id) packed WIDE — DECIMAL(38,0) on the
    Spark side, HUGEINT in the oracle — so it stays injective for any
    event_id < 1e10 at EVERY scale factor (the old bigint x1e6 pack
    collided once ids passed 1e6, i.e. at sf >= 1), and min_by/max_by and
    the oracle's arg_min/arg_max agree exactly.  Three map-side-combined
    aggregates shuffled on user_id, one broadcast-scale conversion row per
    user."""
    ev = load_table(spark, sf, "events")
    ordk = (
        F.unix_millis(F.col("ts")).cast("decimal(20,0)")
        * F.lit(10000000000).cast("decimal(11,0)")
        + F.col("event_id").cast("decimal(20,0)")
    )
    e = ev.select("user_id", "event_type", ordk.alias("ord"))
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ord").alias("fp"))
    )
    pre = (
        e.filter(F.col("event_type") != "purchase")
        .join(p, "user_id")
        .filter(F.col("ord") < F.col("fp"))
    )
    t = pre.groupBy("user_id").agg(
        F.min_by("event_type", "ord").alias("first_touch"),
        F.max_by("event_type", "ord").alias("last_touch"),
    )
    return t.groupBy("first_touch", "last_touch").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@register(
    "a_attribution_linear",
    """WITH e AS (SELECT user_id, event_type,
                         epoch_ms(ts)::HUGEINT * 10000000000 + event_id AS ord
                  FROM events),
       p AS (SELECT user_id, MIN(ord) AS fp FROM e
             WHERE event_type = 'purchase' GROUP BY user_id),
       pre AS (SELECT e.user_id, e.event_type, e.ord
               FROM e JOIN p USING (user_id)
               WHERE e.event_type <> 'purchase' AND e.ord < p.fp),
       t AS (SELECT user_id, event_type,
                    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
                    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ord) AS rn
             FROM pre)
       SELECT event_type,
              CAST(SUM(CASE WHEN rn = 1
                            THEN 1000000 - (n - 1) * (1000000 // n)
                            ELSE 1000000 // n END) AS BIGINT) AS credit_ppm,
              CAST(COUNT(*) AS BIGINT) AS n_touches
       FROM t GROUP BY event_type""",
)
def a_attribution_linear_q(spark, sf):
    """LINEAR multi-touch attribution — every pre-conversion touch shares
    the conversion credit equally, completing the attribution family
    (first/last batch matrix + the streaming within-horizon join).
    Credit is EXACT INTEGER parts-per-million: each touch gets
    floor(1e6 / n) and the FIRST touch absorbs the division remainder, so
    every converting user's credit sums to exactly 1 000 000 and the
    rollup is order/partition/retry-independent — the integer-cents
    discipline applied to a fractional-allocation problem (floats here
    would make the per-channel sums accumulation-order-dependent).  Same
    injective DECIMAL/HUGEINT ordering key as a_attribution_touch; two
    windows over one per-user sort + one map-side-combined rollup."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events")
    ordk = (
        F.unix_millis(F.col("ts")).cast("decimal(20,0)")
        * F.lit(10000000000).cast("decimal(11,0)")
        + F.col("event_id").cast("decimal(20,0)")
    )
    e = ev.select("user_id", "event_type", ordk.alias("ord"))
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ord").alias("fp"))
    )
    pre = (
        e.filter(F.col("event_type") != "purchase")
        .join(p, "user_id")
        .filter(F.col("ord") < F.col("fp"))
    )
    w = Window.partitionBy("user_id")
    t = pre.select(
        "user_id",
        "event_type",
        F.count(F.lit(1)).over(w).alias("n"),
        F.row_number().over(w.orderBy("ord")).alias("rn"),
    )
    share = F.expr("1000000 div n")  # integer floor div, no float path
    credit = F.when(
        F.col("rn") == 1,
        F.lit(1000000) - (F.col("n") - 1) * share,
    ).otherwise(share)
    return t.groupBy("event_type").agg(
        F.sum(credit).cast("bigint").alias("credit_ppm"),
        F.count(F.lit(1)).alias("n_touches"),
    )


@register(
    "a_winsorize",
    """WITH c AS (SELECT event_type,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events),
       cuts AS (SELECT event_type,
                       CAST(ceil(quantile_cont(cents, 0.05)) AS BIGINT) AS lo,
                       CAST(floor(quantile_cont(cents, 0.95)) AS BIGINT) AS hi
                FROM c GROUP BY event_type)
       SELECT c.event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN c.cents < cuts.lo THEN cuts.lo
                            WHEN c.cents > cuts.hi THEN cuts.hi
                            ELSE c.cents END) AS BIGINT) AS winsorized_cents,
              CAST(SUM(CASE WHEN c.cents < cuts.lo OR c.cents > cuts.hi
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
       FROM c JOIN cuts ON cuts.event_type = c.event_type
       GROUP BY c.event_type""",
)
def a_winsorize_q(spark, sf):
    """Winsorized robust statistics: per-group exact P5/P95 cut points
    (integer-cent percentiles, ceil/floor-rounded to integers so every
    downstream sum stays in exact int64 arithmetic — order-independent,
    hash-stable), values clamped to the cuts, clipped-row count alongside.
    The outlier-resistant aggregate for quality-score distributions where
    a_anomaly_* flags rows and this one bounds their influence.  Two
    passes over the fact stream shuffled on the same group key, cut
    points broadcast back — same shape as a_anomaly_mad."""
    ev = load_table(spark, sf, "events")
    c = ev.select("event_type", _cents(F.col("value")).alias("cents"))
    cuts = c.groupBy("event_type").agg(
        F.ceil(F.percentile(F.col("cents"), F.lit(0.05))).cast("bigint").alias("lo"),
        F.floor(F.percentile(F.col("cents"), F.lit(0.95))).cast("bigint").alias("hi"),
    )
    j = c.join(F.broadcast(cuts), "event_type")
    clamped = F.when(F.col("cents") < F.col("lo"), F.col("lo")).when(
        F.col("cents") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("cents"))
    clipped = F.when(
        (F.col("cents") < F.col("lo")) | (F.col("cents") > F.col("hi")), 1
    ).otherwise(0)
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(clamped).cast("bigint").alias("winsorized_cents"),
        F.sum(clipped).cast("bigint").alias("n_clipped"),
    )


# =============================================================================
# Runtime row-level filtering: bloom-bitmap prefiltered joins
# =============================================================================

#: Per-(sf dir) cache of the supplier-key bloom bitmap: build once per
#: key-set version, probe forever — the repeated-query arrangement (same
#: contract as _IVF_INDEX_CACHE), which keeps the two-job build constant
#: out of every probe call.


_BLOOM_WORDS_CACHE: dict[str, list[int]] = {}


def _nation_supp_keys(spark, sf):
    su = load_table(spark, sf, "supplier")
    na = load_table(spark, sf, "nation").filter(
        F.col("n_name").isin("NATION_13", "NATION_9")
    )
    return (
        su.join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )


def _nation_supp_bitmap(spark, sf):
    if sf not in _BLOOM_WORDS_CACHE:
        _BLOOM_WORDS_CACHE[sf] = joins.bloom_bitmap(
            _nation_supp_keys(spark, sf).distinct(), "l_suppkey"
        )
    return _BLOOM_WORDS_CACHE[sf]


@register(
    "j_bloom_prefilter",
    """SELECT l_suppkey,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS DOUBLE) / 100 AS revenue
       FROM lineitem
       WHERE l_suppkey IN (SELECT s_suppkey
                           FROM supplier JOIN nation
                             ON s_nationkey = n_nationkey
                           WHERE n_name IN ('NATION_13', 'NATION_9'))
       GROUP BY l_suppkey""",
)
def j_bloom_prefilter_q(spark, sf):
    """Bloom-prefiltered EXACT semi join (operators/joins.py
    bloom_semi_join): revenue per supplier restricted to one nation's
    suppliers.  The key set aggregates into a 2^20-bit bitmap whose collect
    is bounded by n_bits/64 rows BY CONSTRUCTION (the PQ-codebook
    contract); probing is integer arithmetic against one array literal at
    the scan, so the exchange feeding the exact left_semi join moves
    ~selectivity x |lineitem| rows.  Spark's own runtime bloom filter
    (spark.sql.optimizer.runtime.bloomFilter) injects this shape
    automatically for some shuffle joins; the explicit operator keeps it
    deterministic and reusable across consumers.  The reference has no
    runtime filtering at all — every month's CSV is re-read in full
    (src/OverSpeedCount.scala:66-105).  The bitmap is built once per
    process (_BLOOM_WORDS_CACHE) so repeated calls bench the PROBE path —
    the repeated-query arrangement the words= parameter exists for."""
    li = load_table(spark, sf, "lineitem")
    hits = joins.bloom_semi_join(
        li,
        _nation_supp_keys(spark, sf),
        "l_suppkey",
        words=_nation_supp_bitmap(spark, sf),
    )
    return hits.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("l_extendedprice")).alias("revenue"),
    )


@register(
    "j_bloom_anti",
    """SELECT l_returnflag,
              CAST(COUNT(*) AS BIGINT) AS n
       FROM lineitem
       WHERE l_suppkey NOT IN (SELECT s_suppkey
                               FROM supplier JOIN nation
                                 ON s_nationkey = n_nationkey
                               WHERE n_name IN ('NATION_13', 'NATION_9'))
       GROUP BY l_returnflag""",
)
def j_bloom_anti_q(spark, sf):
    """Bloom-BYPASS exact anti join (operators/joins.py bloom_anti_join):
    lineitem rows from every supplier OUTSIDE one nation.  A bloom miss
    proves non-membership, so ~all non-matching rows skip the anti join's
    exchange entirely and only might-contain candidates (true members +
    false positives) flow through the exact left_anti — the
    blocklist/decontamination shape at 100 TB, where the anti join's
    shuffle is the bottleneck.  Result is row-identical to the plain anti
    join (pinned in tests/test_joins.py).  Shares the once-per-process
    bitmap with j_bloom_prefilter (probe-path benching, words= reuse)."""
    li = load_table(spark, sf, "lineitem")
    kept = joins.bloom_anti_join(
        li,
        _nation_supp_keys(spark, sf),
        "l_suppkey",
        words=_nation_supp_bitmap(spark, sf),
    )
    return kept.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))


# =============================================================================
# Streaming exactly-once ingest: at-least-once source -> deduped table
# =============================================================================


@register(
    "stream_dedup",
    """SELECT event_id, user_id, event_type, value FROM events""",
)
def stream_dedup_q(spark, sf):
    """Exactly-once ingest from an at-least-once source: the events file
    is exposed to the file-stream source TWICE (two symlinks in the scratch
    dir — a simulated replayed/duplicated delivery), and
    ``dropDuplicatesWithinWatermark`` on the event key collapses the replay
    back to exactly the original table.  State is bounded by the watermark
    horizon, not stream length — the production shape for CDC/queue ingest
    where upstream retries duplicate events.  Both copies MUST arrive in
    one availableNow micro-batch or the 24h watermark could classify the
    replayed copy as late and leak a duplicate — that one-batch assumption
    is pinned explicitly (``maxFilesPerTrigger`` on the readStream) rather
    than inherited from the file source's default of 1000.  Oracle: the
    events table itself — dedup must be EXACTLY inverse to the doubling."""
    import os

    load_table(spark, sf, "events")  # pins session tz/nanos confs
    schema = file_schema(spark, os.path.join(sf, "events.parquet"))
    d = _scratch("stream_dedup_src", sf)
    src_file = os.path.realpath(os.path.join(sf, "events.parquet"))
    for name in ("replay_a.parquet", "replay_b.parquet"):
        link = os.path.join(d, name)
        if not os.path.lexists(link):
            os.symlink(src_file, link)
    src = (
        spark.readStream.schema(schema)
        # enforce the single-micro-batch assumption: both replica files
        # (each a symlink to one parquet file) must land in batch 0, else
        # the watermark could classify the replayed copy as late
        .option("maxFilesPerTrigger", 1000)
        .parquet(d)
    )
    _ts_type = dict(src.dtypes).get("ts")
    if _ts_type == "bigint":
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif _ts_type == "timestamp_ntz":
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    deduped = (
        src.withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    # dropDuplicatesWithinWatermark emits first-seen rows eagerly; the
    # trailing no-data micro-batch would only evict state — skip it
    # (result-identical; oracle-pinned; see _drain_to_memory's contract)
    return _drain_to_memory(
        deduped, "stream_dedup", output_mode="append", no_data_batch=False
    )


# =============================================================================
# Pipeline data-quality: cross-table referential integrity
# =============================================================================

#: Per-(sf dir, FK edge) cache of the parent-key bloom bitmap — see
#: _orphans_fact: the audit's probe-forever arrangement.  Sound here
#: because the sf-dir fixtures are immutable; a LIVE deployment must key
#: the cache by the parent's version (snapshot id / ingest watermark) and
#: rebuild when the parent GAINS keys — a bitmap missing a current parent
#: key routes that key's child rows around the anti join as "definite
#: orphans" and OVERCOUNTS violations.  (A parent that lost keys leaves
#: the bitmap a superset, which only sends extra candidates to the exact
#: join — sound.)


_FK_BLOOM_CACHE: dict[tuple, list] = {}


def _parse_size_conf(v: str) -> int:
    """Spark size-conf string -> bytes: handles '-1', '10485760',
    '10485760b', '10m', '10MB', '1g', … (the documented human forms, not
    just the internally-rendered '<n>b')."""
    s = v.strip().lower()
    for suf, mult in (
        ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
        ("b", 1),
    ):
        if s.endswith(suf):
            return int(s[: -len(suf)]) * mult
    return int(s)


@register(
    "quality_referential",
    """SELECT 'orders_customer_fk' AS check_name,
              CAST((SELECT COUNT(*) FROM orders o
                    WHERE NOT EXISTS (SELECT 1 FROM customer c
                                      WHERE c.c_custkey = o.o_custkey))
                   AS BIGINT) AS violations
       UNION ALL
       SELECT 'lineitem_orders_fk',
              CAST((SELECT COUNT(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey))
                   AS BIGINT)
       UNION ALL
       SELECT 'lineitem_supplier_fk',
              CAST((SELECT COUNT(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                      WHERE s.s_suppkey = l.l_suppkey))
                   AS BIGINT)
       UNION ALL
       SELECT 'customer_nation_fk',
              CAST((SELECT COUNT(*) FROM customer c
                    WHERE NOT EXISTS (SELECT 1 FROM nation n
                                      WHERE n.n_nationkey = c.c_nationkey))
                   AS BIGINT)
       UNION ALL
       SELECT 'orders_pk_unique',
              CAST((SELECT COALESCE(SUM(cnt - 1), 0)
                    FROM (SELECT COUNT(*) AS cnt FROM orders
                          GROUP BY o_orderkey) g
                    WHERE cnt > 1) AS BIGINT)""",
)
def quality_referential_q(spark, sf):
    """Cross-table referential-integrity audit — the validation pass a
    training-data pipeline runs after every ingest/join stage: four FK
    orphan counts (anti join per FK edge) plus a PK uniqueness check
    (duplicate-surplus count).  Dimension key sets broadcast; the one
    fact×fact edge (lineitem→orders) takes the SCALE path: the child side
    always pre-aggregates to (key, row_count) — one map-side-combined
    shuffle that collapses ~4 lineitems/order to distinct keys — and when
    the parent's estimated size exceeds the broadcast threshold (the
    planner's own regime signal) the key-level anti join runs through
    ``bloom_anti_join`` (operators/joins.py): definite-orphan keys (bloom
    misses against the orders bitmap) bypass the join exchange entirely
    and only maybe-member keys reach the exact anti join.  Violations =
    sum of orphan keys' row counts — identical to the row-level anti-join
    count in both regimes (plan-pinned in tests/test_joins.py).  All five
    checks assemble with unionByName into one plan.  Complements
    quality_report (single-table expectations via observe())."""
    from trafficbigdatasearch_spark.operators import joins as J

    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    lineitem = load_table(spark, sf, "lineitem")
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")

    def _orphans(name, child, child_key, parent, parent_key):
        return (
            child.join(
                parent.select(F.col(parent_key).alias(child_key)),
                child_key,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("violations"))
            .select(F.lit(name).alias("check_name"), "violations")
        )

    def _orphans_fact(name, child, child_key, parent, parent_key):
        # Pre-agg is UNCONDITIONAL (measured free even at sf0.1 — 0.47 s
        # vs 0.49 s plain row-level — and a 4× exchange cut at scale).
        counts = child.groupBy(child_key).agg(
            F.count(F.lit(1)).alias("_cnt")
        )
        pkeys = parent.select(F.col(parent_key).alias(child_key))
        # The bloom bypass only has value in the SHUFFLE regime: when the
        # parent broadcasts, the plain anti join is one scan with no
        # exchange to shrink, while the bypass union still costs two extra
        # stages (~1.1 s constant, measured).  Gate on the same signal
        # Spark's own planner uses — the parent's estimated plan size vs
        # the broadcast threshold — so toy scale takes the broadcast path
        # and a 100 TB parent takes the bloom bypass.  Plan-level decision,
        # zero extra jobs; pinned both ways in tests/test_joins.py.
        threshold = _parse_size_conf(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "-1")
        )
        psize = int(
            str(pkeys._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        if 0 <= threshold >= psize:
            orphan_keys = counts.join(pkeys, child_key, "left_anti")
        else:
            # Bitmap cached per (sf, edge) — build-once-probe-forever: a
            # daily audit probes the slowly-changing parent's bitmap,
            # rebuilt whenever the parent GAINS keys (see _FK_BLOOM_CACHE's
            # soundness note — missing keys overcount violations; lost
            # keys only leave a sound superset).
            ck = (sf, name)
            if ck not in _FK_BLOOM_CACHE:
                _FK_BLOOM_CACHE[ck] = J.bloom_bitmap(
                    pkeys.distinct(), child_key, 1 << 20, 3
                )
            orphan_keys = J.bloom_anti_join(
                counts, pkeys, child_key, words=_FK_BLOOM_CACHE[ck]
            )
        return (
            orphan_keys.agg(
                F.coalesce(F.sum("_cnt"), F.lit(0))
                .cast("bigint")
                .alias("violations")
            )
            .select(F.lit(name).alias("check_name"), "violations")
        )

    dup_surplus = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("violations"))
        .select(F.lit("orders_pk_unique").alias("check_name"), "violations")
    )
    checks = [
        _orphans("orders_customer_fk", orders, "o_custkey", customer, "c_custkey"),
        _orphans_fact(
            "lineitem_orders_fk", lineitem, "l_orderkey", orders, "o_orderkey"
        ),
        _orphans("lineitem_supplier_fk", lineitem, "l_suppkey", supplier, "s_suppkey"),
        _orphans("customer_nation_fk", customer, "c_nationkey", nation, "n_nationkey"),
        dup_surplus,
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# =============================================================================
# ORC interop: round-trip through the second columnar format
# =============================================================================

#: Per-(sf dir) cache of the ORC copy of lineitem, so repeated calls bench
#: the READ path.


_ORC_LAYOUT_CACHE: dict[str, str] = {}


@register(
    "s_orc_roundtrip",
    """SELECT l_returnflag, l_linestatus,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT))
                   AS DOUBLE) / 100 AS sum_qty
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
       GROUP BY l_returnflag, l_linestatus""",
)
def s_orc_roundtrip_q(spark, sf):
    """Format interop (sources/orc.py): lineitem converted once per process
    to ORC, then the pricing-summary shape computed from the ORC copy —
    scan-layer results must be identical whichever columnar format holds
    the bytes.  The ship-date filter pushes down to the vectorized ORC
    reader just as with parquet (pinned in tests/test_sources.py); the
    oracle reads the original parquet, so the hash-match proves the
    round-trip lossless."""
    import os

    from trafficbigdatasearch_spark.sources import orc as O

    if sf not in _ORC_LAYOUT_CACHE:
        d = _scratch("orc_layout", sf)
        path = os.path.join(d, "lineitem_orc")
        O.write_orc(load_table(spark, sf, "lineitem"), path)
        _ORC_LAYOUT_CACHE[sf] = path
    li = O.read_orc(spark, _ORC_LAYOUT_CACHE[sf])
    return (
        li.filter(F.col("l_shipdate") >= "1995-01-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("l_quantity")).alias("sum_qty"),
        )
    )


# =============================================================================
# CDC apply: MERGE a changeset into a keyed snapshot
# =============================================================================


def _orders_changeset(snap):
    """The deterministic CDC changeset both merge rows share: updates on
    keys %7, deletes on %11 (minus the updates), inserts at key+10M on
    %13."""
    upd = (
        snap.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        .withColumn("op", F.lit("U"))
    )
    dele = (
        snap.filter((F.col("o_orderkey") % 11 == 0) & (F.col("o_orderkey") % 7 != 0))
        .withColumn("op", F.lit("D"))
    )
    ins = (
        snap.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10000000))
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn("op", F.lit("I"))
    )
    return upd.unionByName(dele).unionByName(ins)


def _merged_cents(merged):
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        _cents(F.col("o_totalprice")).alias("totalprice_cents"),
    )


@register(
    "table_merge_upsert",
    """WITH snap AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                     FROM orders),
       changes AS (
         SELECT o_orderkey, o_custkey, o_orderstatus,
                o_totalprice + 1.0 AS o_totalprice, 'U' AS op
         FROM snap WHERE o_orderkey % 7 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'D'
         FROM snap WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
         UNION ALL
         SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice, 'I'
         FROM snap WHERE o_orderkey % 13 = 0
       ),
       merged AS (
         SELECT s.* FROM snap s
         WHERE NOT EXISTS (SELECT 1 FROM changes c
                           WHERE c.o_orderkey = s.o_orderkey)
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM changes WHERE op <> 'D'
       )
       SELECT o_orderkey, o_custkey, o_orderstatus,
              CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents
       FROM merged""",
)
def table_merge_upsert_q(spark, sf):
    """Row-level MERGE (operators/diff.py merge_upsert — Delta/Iceberg
    MERGE INTO semantics without a table format): a deterministic CDC
    changeset derived from orders itself (updates on keys %7, deletes on
    %11, inserts at key+10M on %13) applied to the snapshot — upserts
    replace-or-insert, deletes remove, untouched rows pass through.  One
    anti join + union, no full-outer compare; at 100 TB the untouched bulk
    routes around the exchange via the bloom-bypass anti join.  The full
    merged table is the result — every row's survival/replacement is
    hash-checked, not a summary."""
    from trafficbigdatasearch_spark.operators import diff as D

    snap = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    merged = D.merge_upsert(snap, _orders_changeset(snap), ["o_orderkey"])
    return _merged_cents(merged)


@register("stream_merge_upsert", _REGISTRY["table_merge_upsert"][1])
def stream_merge_upsert_q(spark, sf):
    """STREAMING CDC apply (streaming/sink.py foreach_batch_merge_upsert):
    the same changeset as table_merge_upsert, but delivered as a change
    STREAM applied by foreachBatch MERGE into a versioned copy-on-write
    parquet snapshot with an atomically-swapped _CURRENT pointer — the
    continuously-maintained dimension-table shape.  Batch replay is
    idempotent because merge_upsert is (pinned in tests/test_streaming.py).
    Identical oracle to table_merge_upsert: the streamed merge must land
    byte-identical to the batch merge."""
    import os

    from trafficbigdatasearch_spark.streaming import sink as SK

    snap = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    d = _scratch("stream_merge", sf)
    snap_dir = os.path.join(d, "snap")
    changes_dir = os.path.join(d, "changes")
    pointer = os.path.join(snap_dir, "_CURRENT")
    if not os.path.exists(pointer):
        os.makedirs(snap_dir, exist_ok=True)
        snap.write.mode("overwrite").parquet(os.path.join(snap_dir, "vseed"))
        _orders_changeset(snap).write.mode("overwrite").parquet(changes_dir)
        # pointer LAST: it is the build-complete marker (the torn-build
        # guard convention of ts_ohlc_bucketed_append) — written between
        # the two writes it would leave a pointer pointing at a build
        # whose changes dir never landed
        with open(pointer, "w") as f:
            f.write("vseed")
    schema = file_schema(spark, changes_dir)
    stream = spark.readStream.schema(schema).parquet(changes_dir)
    q = (
        stream.writeStream.foreachBatch(
            SK.foreach_batch_merge_upsert(snap_dir, ["o_orderkey"])
        )
        .option("checkpointLocation", os.path.join(d, "cp"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream_merge_upsert: stream did not drain in 300s")
    return _merged_cents(SK.read_merge_snapshot(spark, snap_dir))


# =============================================================================
# Planning-time file skipping: min/max sidecar over a range-clustered layout
# =============================================================================

#: Per-(sf dir) cache of the range-clustered orders layout + its sidecar,
#: so repeated driver / bench calls exercise the PRUNED-READ path.


_SKIP_LAYOUT_CACHE: dict[str, tuple[str, object]] = {}


@register(
    "s_minmax_skipping",
    """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS DOUBLE) / 100 AS revenue
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
       GROUP BY 1""",
)
def s_minmax_skipping_q(spark, sf):
    """Manifest-style data skipping (sources/parquet.py
    build_minmax_sidecar / read_pruned_by_sidecar): orders rewritten once
    per process into a date-range-clustered layout (write_sized
    range_by=o_orderdate — non-overlapping file bounds), a per-file
    min/max sidecar built over it, then a quarter's revenue read through
    PLANNING-TIME file pruning — only sidecar-selected files are listed or
    opened, the exact range re-applied as residual.  Parquet row-group
    stats skip data only after every footer is fetched; at 100 TB /
    millions of object-store files the footer round-trips are the
    planning bottleneck the sidecar removes (the Delta/Iceberg file-stats
    idea without a table format).  Row-identical to the unpruned scan —
    the oracle is the plain filtered aggregate; pruning-actually-skips is
    pinned in tests/test_sources.py."""
    import os

    from trafficbigdatasearch_spark.sources import parquet as P

    if sf not in _SKIP_LAYOUT_CACHE:
        d = _scratch("skip_layout", sf)
        layout = os.path.join(d, "orders_by_date")
        P.write_sized(
            load_table(spark, sf, "orders"),
            layout,
            rows_per_file=1 << 30,
            range_by=["o_orderdate"],
            n_files=12,
        )
        sidecar = P.build_minmax_sidecar(spark, layout, ["o_orderdate"])
        sidecar_path = os.path.join(d, "sidecar")
        sidecar.write.mode("overwrite").parquet(sidecar_path)
        _SKIP_LAYOUT_CACHE[sf] = (layout, sidecar_path)
    layout, sidecar_path = _SKIP_LAYOUT_CACHE[sf]
    pruned = P.read_pruned_by_sidecar(
        spark,
        layout,
        spark.read.schema(file_schema(spark, sidecar_path)).parquet(sidecar_path),
        "o_orderdate",
        "1995-01-01",
        "1995-04-01",
    )
    return pruned.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("o_totalprice")).alias("revenue"),
    )
