"""TPC-H-style headline joins and the deterministic sampling family
(stratified / temperature / priority / leakage-free splits).

Split from queries/standard.py (VERDICT r10 #7) with registration
order preserved by the aggregator's import order; see ROTATION.md
for the driver-window policy and ledger."""

from __future__ import annotations

from pyspark.sql import functions as F
from trafficbigdatasearch_spark.catalog import load_table
from trafficbigdatasearch_spark.functions import text as T
from trafficbigdatasearch_spark.operators import (
    dedup,
    joins,
    multimodal,
    packing,
    sampling,
    similarity,
)
from ._shared import _cents, register
from .std_textsim import (
    _MINHASH_K,
    _QVEC,
    _TOKCOUNT_SQL,
    _TOKS,
    _band_cte,
    _drain_to_memory,
    _lsh_pairs_cte,
    _scratch,
    _stream_events_source,
)

# =============================================================================
# TPC-H-style headline joins (bench + correctness)
# =============================================================================


@register(
    "q3_shipping_priority",
    """SELECT l_orderkey,
              CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000 AS revenue,
              strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
       FROM customer JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
         AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",
)
def q3_shipping_priority(spark, sf):
    """TPC-H Q3 shape: selective dim filter -> two joins -> agg -> top-k."""
    c = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = load_table(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    rev = _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg((F.sum(rev).cast("double") / 10000).alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "q14_promo_revenue",
    """SELECT 100.0 * SUM(CASE WHEN p_type = 'ECONOMY'
                 THEN CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))
                 ELSE 0 END) /
              SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS promo_pct
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'""",
)
def q14_promo_revenue(spark, sf):
    """TPC-H Q14 shape: fact ⋈ broadcast dim + conditional aggregate ratio —
    one pass, two exact integer-cent sums, one final double division."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    p = load_table(spark, sf, "part")
    rev = _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy()
        .agg(
            (F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double")).alias(
                "promo_pct"
            )
        )
    )


@register(
    "q5_local_supplier",
    """SELECT n_name,
              CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000 AS revenue
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN supplier ON l_suppkey = s_suppkey
       JOIN nation ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY n_name""",
)
def q5_local_supplier(spark, sf):
    """TPC-H Q5 shape: 6-table join with same-nation constraint."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    rev = _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(
            F.broadcast(n),
            (c["c_nationkey"] == n["n_nationkey"])
            & (s["s_nationkey"] == n["n_nationkey"]),
        )
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg((F.sum(rev).cast("double") / 10000).alias("revenue"))
    )


# =============================================================================
# beyond-parity: deterministic sampling (operators/sampling.py)
# =============================================================================


_BUCKET_SQL = (
    "('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT"
    f" % {sampling.BUCKETS}"
)


@register(
    "sample_split_hash",
    f"""SELECT doc_id,
              CASE WHEN {_BUCKET_SQL.format(salt='split')} < 9000 THEN 'train'
                   ELSE 'test' END AS split
       FROM documents""",
)
def sample_split_hash_q(spark, sf):
    """Reproducible 90/10 train/test split: membership = md5 hash range of
    the doc id — identical under retries, repartitioning, and in any other
    engine (the oracle recomputes it), unlike ``rand()``.  Row-local
    expression; zero shuffles."""
    docs = load_table(spark, sf, "documents")
    return sampling.hash_split(
        docs, "doc_id", {"train": 0.9, "test": 0.1}
    ).select("doc_id", "split")


@register(
    "sample_split_leakage_free",
    f"""WITH RECURSIVE {_lsh_pairs_cte('documents')},
       eds AS (SELECT id_a AS u, id_b AS v FROM lsh_pairs
               UNION SELECT id_b, id_a FROM lsh_pairs),
       nds AS (SELECT DISTINCT u AS id FROM eds),
       walk(id, lab) AS (
         SELECT id, id FROM nds
         UNION
         SELECT w.id, e.v FROM walk w JOIN eds e ON e.u = w.lab
       ),
       comp AS (SELECT id, CAST(min(lab) AS BIGINT) AS component
                FROM walk GROUP BY id),
       labl AS (SELECT d.doc_id,
                       COALESCE(c.component, d.doc_id) AS component
                FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
       SELECT doc_id, component,
              CASE WHEN ('0x' || substr(md5('split' ||
                         CAST(component AS VARCHAR)), 1, 7))::BIGINT
                        % {sampling.BUCKETS} < 9000
                   THEN 'train' ELSE 'test' END AS split
       FROM labl""",
)
def sample_split_leakage_free_q(spark, sf):
    """LEAKAGE-FREE train/test split: the hash-split key is the document's
    near-dup CLUSTER (LSH pairs -> connected components), not the document
    id, so near-duplicates can never straddle the split boundary and
    contaminate evaluation (operators/sampling.py::leakage_free_split).
    The composition every serious corpus pipeline runs before eval-set
    carving; singleton documents key by their own id.  Oracle = the
    recursive reachability closure (same as dedup_clusters) + the identical
    md5 bucket arithmetic on the component id."""
    docs = load_table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, k=_MINHASH_K, bands=4, n=3)
    return sampling.leakage_free_split(
        docs, pairs, {"train": 0.9, "test": 0.1}
    ).select("doc_id", "component", "split")


@register(
    "sample_stratified",
    f"""SELECT doc_id, lang FROM documents
       WHERE {_BUCKET_SQL.format(salt='strata')} <
             CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2500 ELSE 1000 END""",
)
def sample_stratified_q(spark, sf):
    """Per-language downsampling (en 50%, zh 25%, rest 10%) — the
    source/language rebalancing pass of a corpus pipeline, as a pure
    row-local hash filter (scan speed, no shuffle, no rand())."""
    docs = load_table(spark, sf, "documents")
    return sampling.stratified_sample(
        docs, "lang", {"en": 0.5, "zh": 0.25}, key_col="doc_id", default_rate=0.1
    ).select("doc_id", "lang")


@register(
    "sample_temperature",
    """WITH nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_g
               FROM documents GROUP BY 1),
       mn AS (SELECT min(n_g) AS n_min FROM nd),
       b AS (SELECT d.source, d.doc_id,
                    ('0x' || substr(md5('temp' ||
                        CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT
                      % 10000 AS bkt,
                    nd.n_g, mn.n_min
             FROM documents d
             JOIN nd ON d.source IS NOT DISTINCT FROM nd.source
             CROSS JOIN mn)
       SELECT source, doc_id FROM b
       WHERE bkt::HUGEINT * bkt::HUGEINT * n_g::HUGEINT
             < 10000::HUGEINT * 10000::HUGEINT * n_min::HUGEINT""",
)
def sample_temperature_q(spark, sf):
    """Temperature-balanced source rebalancing (operators/sampling.py::
    temperature_sample, the XLM-R/mT5 exponent-smoothing recipe at
    alpha = 1/2): each source's kept size targets sqrt(n_min * n_g) —
    the smallest source is kept whole and larger sources are
    hash-downsampled toward it, flattening the domain distribution
    without hand-tuned target weights (mixture_sample's contract when
    you KNOW the mixture; this one when you only know the exponent).
    Membership is EXACT integer arithmetic: the rational alpha
    cross-multiplies into bucket^2 * n_g < BUCKETS^2 * n_min evaluated
    in DECIMAL(38,0)/HUGEINT — no platform pow whose one-ULP wobble
    could flip a boundary bucket between engines.  The output is the
    full kept (source, doc_id) membership, so the hash certifies every
    individual keep/drop decision, not just the counts."""
    docs = load_table(spark, sf, "documents")
    return sampling.temperature_sample(
        docs, "source", key_col="doc_id", alpha=(1, 2)
    ).select("source", "doc_id")


@register(
    "sample_priority",
    f"""WITH w AS (SELECT doc_id, source,
                       CAST({_TOKCOUNT_SQL} AS DOUBLE) AS w
                FROM documents),
       pr AS (SELECT doc_id, source,
                     CAST(('0x' || substr(md5('prio' ||
                         CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS DOUBLE)
                       / w AS _priority
              FROM w WHERE w > 0)
       SELECT doc_id, source, _priority FROM pr
       ORDER BY _priority, doc_id LIMIT 100""",
)
def sample_priority_q(spark, sf):
    """WEIGHTED sampling without replacement (operators/sampling.py::
    priority_sample, r9 — Duffield-Lund-Thorup priority sampling):
    exactly 100 documents drawn with inclusion probability ~ proportional
    to token count (the 'sample K docs, preferring long/high-quality
    ones' curation shape a Bernoulli sampler can't hit exactly and a
    threshold would hard-cut).  Priority = md5-uniform / weight — ONE
    IEEE division of a 28-bit integer, bit-identical in any engine, so
    the whole sample (and the published priorities that feed
    Horvitz-Thompson estimates downstream) hash-compares.  Plan:
    row-local priority -> TakeOrderedAndProject (per-partition heap +
    k-merge, no global sort)."""
    docs = load_table(spark, sf, "documents")
    from trafficbigdatasearch_spark.functions import text as T

    weighted = docs.select(
        "doc_id", "source", T.token_count(F.col("text")).alias("w")
    )
    return sampling.priority_sample(
        weighted, "w", k=100, key_col="doc_id"
    ).select("doc_id", "source", "_priority")


@register(
    "sample_priority_grouped",
    f"""WITH w AS (SELECT doc_id, lang,
                       CAST({_TOKCOUNT_SQL} AS DOUBLE) AS w
                FROM documents),
       pr AS (SELECT doc_id, lang,
                     CAST(('0x' || substr(md5('prio' ||
                         CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS DOUBLE)
                       / w AS _priority
              FROM w WHERE w > 0),
       rk AS (SELECT *, row_number() OVER (PARTITION BY lang
                        ORDER BY _priority, doc_id) AS rk FROM pr)
       SELECT doc_id, lang, _priority FROM rk WHERE rk <= 20""",
)
def sample_priority_grouped_q(spark, sf):
    """WEIGHTED per-group sampling (operators/sampling.py::
    priority_sample_grouped, r10): exactly 20 documents PER LANGUAGE drawn
    with inclusion ~ proportional to token count — the per-group corner of
    the DLT priority scheme ("k docs per language, preferring long/high-
    quality ones"), generalizing sample_group_topk's uniform draw and
    sample_priority's global one.  Same md5-uniform/weight priority, same
    published _priority column for downstream Horvitz-Thompson use; the
    plan swaps TakeOrderedAndProject for ONE window shuffle on lang."""
    docs = load_table(spark, sf, "documents")
    from trafficbigdatasearch_spark.functions import text as T

    weighted = docs.select(
        "doc_id", "lang", T.token_count(F.col("text")).alias("w")
    )
    return sampling.priority_sample_grouped(
        weighted, "lang", "w", k=20, key_col="doc_id"
    ).select("doc_id", "lang", "_priority")


@register(
    "sample_quota_split",
    f"""WITH base AS (SELECT doc_id, lang,
                         {_BUCKET_SQL.format(salt='quota')} AS b
                  FROM documents),
       r AS (SELECT doc_id, lang,
                    row_number() OVER (PARTITION BY lang ORDER BY b, doc_id) AS rk,
                    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
             FROM base),
       q AS (SELECT *,
                    CAST(floor(0.8 * n) AS BIGINT) AS f1,
                    CAST(floor(0.1 * n) AS BIGINT) AS f2,
                    CAST(floor(0.1 * n) AS BIGINT) AS f3,
                    0.8 * n - floor(0.8 * n) AS r1,
                    0.1 * n - floor(0.1 * n) AS r2,
                    0.1 * n - floor(0.1 * n) AS r3
             FROM r),
       qq AS (SELECT *, n - (f1 + f2 + f3) AS rem,
                     (CASE WHEN r2 > r1 THEN 1 ELSE 0 END
                    + CASE WHEN r3 > r1 THEN 1 ELSE 0 END) AS k1,
                     (CASE WHEN r1 >= r2 THEN 1 ELSE 0 END
                    + CASE WHEN r3 > r2 THEN 1 ELSE 0 END) AS k2,
                     (CASE WHEN r1 >= r3 THEN 1 ELSE 0 END
                    + CASE WHEN r2 >= r3 THEN 1 ELSE 0 END) AS k3
              FROM q)
       SELECT doc_id, lang,
              CASE WHEN rk <= f1 + (CASE WHEN k1 < rem THEN 1 ELSE 0 END)
                     THEN 'train'
                   WHEN rk <= f1 + (CASE WHEN k1 < rem THEN 1 ELSE 0 END)
                           + f2 + (CASE WHEN k2 < rem THEN 1 ELSE 0 END)
                     THEN 'val'
                   ELSE 'test' END AS split
       FROM qq""",
)
def sample_quota_split_q(spark, sf):
    """EXACT-count stratified split (operators/sampling.py::quota_split,
    r10): every document assigned to train/val/test so the per-LANGUAGE
    split sizes are the largest-remainder apportionment of each
    language's count over (0.8, 0.1, 0.1) — exactly 80/10/10 per
    stratum, not in expectation (hash_split's binomial noise is material
    for small strata and hard eval-budget guarantees).  Rows hash-order
    within their language (md5 bucket, doc_id), quotas are a fixed IEEE
    expression of the group size only, and largest-remainder makes the
    quotas sum to n exactly — one ranking-window shuffle, no rows
    dropped.  The oracle replicates the apportionment with the same
    remainder tie-break (insertion order)."""
    docs = load_table(spark, sf, "documents")
    return sampling.quota_split(
        docs, "lang", {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id"
    ).select("doc_id", "lang", "split")


@register(
    "sample_group_topk",
    f"""WITH rk AS (SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY {_BUCKET_SQL.format(salt='group')}, doc_id) AS rk
              FROM documents)
       SELECT doc_id, lang FROM rk WHERE rk <= 5""",
)
def sample_group_topk_q(spark, sf):
    """Deterministic fixed-size per-group sample (5 docs per language) via
    hash-ordered row_number — the engine-portable reservoir-sampling
    equivalent.  One shuffle on the group key."""
    docs = load_table(spark, sf, "documents")
    return sampling.group_sample(docs, "lang", 5, key_col="doc_id").select(
        "doc_id", "lang"
    )


@register(
    "sample_mixture",
    f"""WITH cw AS (
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt,
                CASE lang WHEN 'en' THEN CAST(0.4 AS DOUBLE)
                          WHEN 'zh' THEN CAST(0.2 AS DOUBLE)
                          WHEN 'es' THEN CAST(0.2 AS DOUBLE)
                          WHEN 'de' THEN CAST(0.1 AS DOUBLE)
                          WHEN 'fr' THEN CAST(0.1 AS DOUBLE) END AS wt
         FROM documents WHERE lang IN ('en', 'zh', 'es', 'de', 'fr')
         GROUP BY lang),
       k AS (SELECT min(cnt / wt) AS scale FROM cw),
       r AS (SELECT lang, CAST(floor(scale * wt / cnt * {sampling.BUCKETS})
                                AS BIGINT) AS thresh
             FROM cw, k)
       SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
       WHERE {_BUCKET_SQL.format(salt='mixture')} < thresh""",
)
def sample_mixture_q(spark, sf):
    """Target-mixture downsampling: keep the LARGEST sub-corpus whose
    language proportions are exactly (en 40, zh 20, es 20, de 10, fr 10)% —
    the data-mixing step of a pretraining pipeline.  The limiting language
    is kept whole; the rest are deterministically hash-downsampled to
    match; the corpus itself never shuffles (count agg + broadcast
    thresholds)."""
    docs = load_table(spark, sf, "documents")
    return sampling.mixture_sample(
        docs,
        "lang",
        {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.1, "fr": 0.1},
        key_col="doc_id",
    ).select("doc_id", "lang")


@register(
    "text_chunk_docs",
    r"""WITH toks AS (
         SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN []
                     ELSE regexp_split_to_array(trim(text), '\s+') END AS t
         FROM documents),
       nz AS (SELECT * FROM toks WHERE len(t) > 0),
       st AS (SELECT doc_id, t, unnest(range(0, len(t), 48)) AS s FROM nz)
       SELECT doc_id,
              CAST(s / 48 AS BIGINT) AS chunk_id,
              array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text,
              CAST(least(64, len(t) - s) AS BIGINT) AS n_tokens
       FROM st""",
)
def text_chunk_docs_q(spark, sf):
    """Fixed-token-budget document chunking (64-token chunks, 16-token
    overlap -> stride 48): the context-window preprocessing step upstream
    of pack_sequences.  Pure projection + posexplode — scan speed, zero
    shuffles, tokenless docs dropped."""
    from trafficbigdatasearch_spark.operators import chunking

    docs = load_table(spark, sf, "documents")
    return chunking.chunk_documents(docs, chunk_tokens=64, overlap=16)


@register(
    "decontaminate",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
       idx AS (SELECT doc_id, t,
                      unnest(range(0, greatest(len(t) - 5, 0) + 1)) AS i
               FROM toks),
       sh AS (SELECT DISTINCT doc_id,
                     array_to_string(t[i + 1 : i + 5], ' ') AS s
              FROM idx),
       bench AS (SELECT DISTINCT s FROM sh
                 WHERE doc_id % 37 = 0 AND s <> '')
       SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
       FROM sh JOIN bench USING (s)
       GROUP BY sh.doc_id""",
)
def decontaminate_q(spark, sf):
    """Test-set decontamination scores: distinct 5-gram overlap between
    every corpus document and a benchmark set (here: every 37th doc,
    standing in for an eval suite).  The benchmark shingle set is
    broadcast, so the corpus never shuffles its text — the only exchanges
    are benchmark-side distinct + the small per-doc hit aggregate."""
    from trafficbigdatasearch_spark.operators import decontam

    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return decontam.contamination_scores(docs, bench, n=5)


@register(
    "a_funnel_steps",
    """WITH pu AS (
         SELECT user_id,
                min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS t_view,
                min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS t_click,
                min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS t_purch
         FROM events GROUP BY user_id)
       SELECT CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS step_view,
              CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
              CAST(SUM(CASE WHEN t_click > t_view AND t_purch > t_click
                            THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
       FROM pu""",
)
def a_funnel_steps_q(spark, sf):
    """Ordered funnel analysis (view -> click -> purchase): per-user
    conditional-min timestamps, then one global conjunction count — the
    event-sequence query a product-analytics engine answers constantly.
    One shuffle on user_id (map-side combined), then a scalar aggregate;
    NULL comparisons drop users missing a step, exactly as the oracle's
    CASE does."""
    ev = load_table(spark, sf, "events")
    ms = F.unix_millis("ts")

    def step(t):
        return F.min(F.when(F.col("event_type") == t, ms)).alias(f"t_{t}")

    pu = ev.groupBy("user_id").agg(step("view"), step("click"), step("purchase"))
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return pu.agg(
        flag(F.col("t_view").isNotNull()).alias("step_view"),
        flag(F.col("t_click") > F.col("t_view")).alias("step_click"),
        flag(
            (F.col("t_click") > F.col("t_view"))
            & (F.col("t_purchase") > F.col("t_click"))
        ).alias("step_purchase"),
    )


@register(
    "a_cohort_retention",
    """WITH fu AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
       j AS (SELECT e.user_id,
                    strftime(date_trunc('week', fu.first_ts), '%Y-%m-%d') AS cohort_week,
                    (epoch_ms(e.ts) - epoch_ms(fu.first_ts)) // 604800000 AS week_offset
             FROM events e JOIN fu USING (user_id))
       SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       FROM j GROUP BY cohort_week, week_offset""",
)
def a_cohort_retention_q(spark, sf):
    """Cohort retention: users grouped by first-seen ISO week, counted per
    whole-week offset of each later event — the activity matrix behind
    every retention curve.  Week offsets are exact integer ms division
    (no float), cohort labels Monday-truncated dates; two shuffles (per-
    user min, then the cohort/offset distinct-count), both map-side
    combined."""
    ev = load_table(spark, sf, "events")
    fu = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    j = ev.join(fu, "user_id").select(
        "user_id",
        F.date_format(F.date_trunc("week", F.col("first_ts")), "yyyy-MM-dd").alias(
            "cohort_week"
        ),
        (
            (F.unix_millis("ts") - F.unix_millis("first_ts"))
        ).alias("_ms_diff"),
    )
    return (
        j.select(
            "user_id",
            "cohort_week",
            F.expr("_ms_diff div 604800000").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "text_search_terms",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
       SELECT doc_id,
              CAST(CAST(list_contains(t, 'dup') AS INT)
                   + CAST(list_contains(t, 'bloom') AS INT)
                   + CAST(list_contains(t, 'query') AS INT) AS BIGINT) AS n_terms_hit
       FROM toks
       WHERE list_contains(t, 'dup') OR list_contains(t, 'bloom')
          OR list_contains(t, 'query')""",
)
def text_search_terms_q(spark, sf):
    """Keyword search (ANY-semantics) over the corpus: row-local token
    containment, zero shuffles, returning each hit with its matched-term
    count.  The interactive retrieval primitive of a 'big data search'
    engine, generalized from the reference's bbox/time predicates to
    text."""
    from trafficbigdatasearch_spark.operators import search

    docs = load_table(spark, sf, "documents")
    return search.keyword_search(docs, ["dup", "bloom", "query"], mode="any")


@register(
    "text_tfidf_topk",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
       p AS (SELECT doc_id, unnest(t) AS term FROM toks),
       tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
              FROM p WHERE term IN ('join', 'merge', 'query') GROUP BY 1, 2),
       dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
       s AS (SELECT term, doc_id, tf, df, tf * n / df AS score
             FROM tf JOIN dfq USING (term), n)
       SELECT term, doc_id, tf, df, score,
              CAST(row_number() OVER (PARTITION BY term
                     ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       FROM s QUALIFY rank <= 10""",
)
def text_tfidf_topk_q(spark, sf):
    """Per-term top-10 documents by tf * (N/df): the relevance-ranking
    primitive.  The token array is pre-filtered to the query terms BEFORE
    exploding, so the posting set is O(matches); df and N broadcast; one
    small (term, doc) shuffle + a per-term top-k window.  Raw-ratio idf
    (not log) keeps the score an exact IEEE op sequence in any engine."""
    from trafficbigdatasearch_spark.operators import search

    docs = load_table(spark, sf, "documents")
    return search.tfidf_topk(docs, ["join", "merge", "query"], k=10)


@register(
    "j_skew_salted",
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE l_shipdate >= o_orderdate
         AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
       GROUP BY l_returnflag""",
)
def j_skew_salted_q(spark, sf):
    """Salted equi join with a band residual (operators/joins.py
    salted_equi_join) proven oracle-identical to the PLAIN join it
    physically rewrites — the skew-mitigation shape for hot keys that
    exceed one task even after AQE splitting (SURVEY §7 "what's hard" (d);
    the hot-plate behavior itself is pinned in tests/test_skew.py)."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_shipdate"
    )
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    band = (F.col("l_shipdate") >= F.col("o_orderdate")) & (
        F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    j = joins.salted_equi_join(li, o, ["l_orderkey"], n_salts=8, residual=band)
    return j.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(_cents(F.col("l_extendedprice"))).alias("sum_cents"),
    )


@register(
    "stream_events_hourly",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bucket,
              event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       FROM events GROUP BY 1, 2""",
)
def stream_events_hourly_q(spark, sf):
    """Structured Streaming under the driver's FULL oracle gate: the events
    table consumed as a bounded file-source STREAM (availableNow), tumbling
    1-hour windows aggregated in complete mode into a memory sink.  A
    complete-mode windowed aggregate over a fully-consumed bounded stream is
    exactly the batch groupBy (EliminateEventTimeWatermark semantics run in
    reverse), so the ordinary SQL oracle applies — this pins the streaming
    EXECUTION path (micro-batch planner, state store, sink commit), not a
    reimplementation of the window logic, with hash-level correctness.
    Streaming twins of the traffic queries live in streaming/traffic.py with
    batch-parity pytest pins; this entry gives the streaming engine surface
    a driver row.  At scale the same plan runs unbounded with a watermark +
    append sink (tests/test_streaming.py pins that finalization contract).
    """
    src = _stream_events_source(spark, sf)
    agg = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(_cents(F.col("value"))).alias("sum_cents"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00").alias("bucket"),
            "event_type",
            "n",
            "sum_cents",
        )
    )
    return _drain_to_memory(agg, "stream_events_hourly")


@register(
    "a_pivot_event_types",
    """SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
              CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
              CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
              CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
              CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
              CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
       FROM events GROUP BY 1""",
)
def a_pivot_event_types_q(spark, sf):
    """Pivot (long -> wide): per-cohort event-type counts via
    ``groupBy().pivot(values).count()``.  The explicit value list matters
    twice over: Catalyst plans a single-pass pivot aggregate (no extra job
    to discover the domain — on 100 TB, domain discovery is a full scan),
    and the output schema is stable for the driver's hash compare."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy((F.col("user_id") % 10).alias("cohort"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .select(
            "cohort",
            *[
                F.coalesce(F.col(c), F.lit(0)).alias(c)
                for c in ("click", "error", "purchase", "signup", "view")
            ],
        )
    )


@register(
    "a_unpivot_doc_metrics",
    """SELECT doc_id, 'n_chars' AS metric, CAST(length(text) AS BIGINT) AS v
       FROM documents
       UNION ALL
       SELECT doc_id, 'n_punct', CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT)
       FROM documents
       UNION ALL
       SELECT doc_id, 'n_digits', CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)
       FROM documents""",
)
def a_unpivot_doc_metrics_q(spark, sf):
    """Unpivot (wide -> long, melt): per-document metric columns rotated
    into (doc_id, metric, v) rows with ``DataFrame.unpivot`` — one
    Generate(Expand) over the scan, no shuffle, vs the oracle's 3-scan
    UNION ALL formulation (Spark reads the parquet once)."""
    d = load_table(spark, sf, "documents")
    t = F.col("text")
    wide = d.select(
        "doc_id",
        F.length(t).cast("bigint").alias("n_chars"),
        T.punct_count(t).cast("bigint").alias("n_punct"),
        T.digit_count(t).cast("bigint").alias("n_digits"),
    )
    return wide.unpivot(
        ["doc_id"], ["n_chars", "n_punct", "n_digits"], "metric", "v"
    )


@register(
    "w_trailing_range",
    """SELECT event_id, user_id,
              CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
                    PARTITION BY user_id ORDER BY epoch_ms(ts)
                    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW
              ) AS BIGINT) AS trail_cents,
              CAST(COUNT(*) OVER (
                    PARTITION BY user_id ORDER BY epoch_ms(ts)
                    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW
              ) AS BIGINT) AS trail_n
       FROM events""",
)
def w_trailing_range_q(spark, sf):
    """Trailing time-RANGE window frame (the per-event sliding aggregate):
    each event's 1-hour-trailing sum/count per user.  RANGE frames bound by
    a time interval are the event-level twin of the streaming sliding
    window; one sort-exchange on (user_id, ts) serves both window
    functions.  Both engines order by epoch MILLISECONDS (the events table
    carries sub-second timestamps, so an interval-typed frame over
    second-truncated ordering would drift at frame boundaries).  Ties are
    safe: a RANGE frame includes ALL peer rows of the current ordering
    value, so the result is order-independent — this is why the frame is
    RANGE, not ROWS, which would be nondeterministic under equal
    timestamps."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis(F.col("ts")))
        .rangeBetween(-3600000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(_cents(F.col("value"))).over(w).alias("trail_cents"),
        F.count("*").over(w).alias("trail_n"),
    )


@register(
    "pack_sequences",
    f"""WITH t AS (SELECT doc_id, CAST({_TOKCOUNT_SQL} AS BIGINT) AS n_tokens
                  FROM documents),
       c AS (SELECT doc_id, n_tokens,
                    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
             FROM t)
       SELECT doc_id, n_tokens,
              CAST(excl // 2048 AS BIGINT) AS pack_id,
              CAST(excl % 2048 AS BIGINT) AS pack_offset
       FROM c""",
)
def pack_sequences_q(spark, sf):
    """Sequence packing onto 2048-token packs via a deterministic two-level
    distributed prefix sum (operators/packing.py) — per-bucket sums, a
    cumsum over the tiny bucket summary, within-bucket windows.  The oracle
    is the naive global-window formulation; the Spark plan never sorts the
    corpus into one partition."""
    return packing.pack_sequences(
        load_table(spark, sf, "documents"), budget=2048, bucket_size=256
    )


@register(
    "stream_sessions",
    """WITH g AS (
         SELECT user_id, ts, event_id,
                CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                     ) >= 1800000 THEN 1 ELSE 0 END AS new_s
         FROM events),
       s AS (
         SELECT user_id, ts,
                SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
         FROM g)
       SELECT user_id,
              CAST(min(epoch_ms(ts)) AS BIGINT) AS session_start_ms,
              CAST(COUNT(*) AS BIGINT) AS n_events
       FROM s GROUP BY user_id, sid""",
)
def stream_sessions_q(spark, sf):
    """Native ``session_window`` sessionization ON A STREAM (30-minute gap,
    complete mode over the bounded events stream), hash-matched against the
    lag+cumsum gap-sessionization SQL — one oracle pins BOTH that Spark's
    merging session windows implement gap semantics and that the streaming
    state store merges them correctly.  Boundary case encoded in the
    oracle: Spark session windows are half-open [start, start+gap), so an
    event exactly ``gap`` after its predecessor starts a NEW session —
    hence ``>= 1800000``, where the batch w_sessionize convention is
    ``>``."""
    src = _stream_events_source(spark, sf)
    agg = (
        src.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            "n_events",
        )
    )
    return _drain_to_memory(agg, "stream_sessions")


@register(
    "stream_attribution",
    """WITH v AS (SELECT user_id, ts, event_id FROM events
                  WHERE event_type = 'view'),
       p AS (SELECT user_id, ts, event_id, value FROM events
             WHERE event_type = 'purchase')
       SELECT v.user_id,
              v.event_id AS view_id,
              p.event_id AS purchase_id,
              epoch_ms(v.ts) AS view_ms,
              epoch_ms(p.ts) AS purchase_ms,
              CAST(round(p.value * 100) AS BIGINT) AS purchase_cents
       FROM v JOIN p ON v.user_id = p.user_id
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""",
)
def stream_attribution_q(spark, sf):
    """STREAM-STREAM watermarked attribution join under the driver's full
    oracle gate: views and purchases consumed as two branches of the bounded
    events stream, inner-joined on user with purchase time bounded to
    [view_ts, view_ts + 1h] (streaming/events.py::attribution_join).  An
    inner stream-stream join emits each match as soon as both sides arrive —
    the watermark only bounds STATE (a view older than watermark + horizon
    can never match and is evicted) — so draining the bounded stream in
    append mode yields exactly the batch interval join, and the ordinary SQL
    oracle applies.  This pins the two-sided-watermark execution path
    (symmetric hash join state store) with hash-level correctness; batch
    parity is separately pinned in tests/test_streaming.py."""
    src = _stream_events_source(spark, sf)
    from trafficbigdatasearch_spark.streaming import events as SE

    out = SE.attribution_join(
        src.filter(F.col("event_type") == "view"),
        src.filter(F.col("event_type") == "purchase"),
        horizon="1 hour",
        watermark="2 hours",
    ).select(
        "user_id",
        "view_id",
        "purchase_id",
        F.unix_millis("view_ts").alias("view_ms"),
        F.unix_millis("purchase_ts").alias("purchase_ms"),
        _cents(F.col("purchase_value")).alias("purchase_cents"),
    )
    # inner joins emit each match as soon as both sides arrive, so the
    # trailing no-data micro-batch would only evict state — skip it
    # (result-identical; hash-pinned by the oracle; r14 A/B 5.63 -> 3.22 s)
    return _drain_to_memory(
        out, "stream_attribution", output_mode="append", no_data_batch=False
    )


_FP_SQL = "md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))"


@register(
    "dedup_incremental",
    f"""WITH corpusI AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 < 3),
       newI AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3),
       {_band_cte('corpusI', 'C')},
       {_band_cte('newI', 'N')},
       fpc AS (SELECT DISTINCT {_FP_SQL} AS f FROM corpusI),
       fpn AS (SELECT doc_id, {_FP_SQL} AS f FROM newI),
       nearhit AS (SELECT DISTINCT n.doc_id FROM bandN n
                   JOIN bandC c ON n.band = c.band AND n.bucket = c.bucket),
       exacthit AS (SELECT DISTINCT n.doc_id FROM fpn n JOIN fpc ON n.f = fpc.f)
       SELECT n.doc_id,
              CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
                   WHEN h.doc_id IS NOT NULL THEN 'near'
                   ELSE 'keep' END AS verdict
       FROM newI n
       LEFT JOIN exacthit e ON e.doc_id = n.doc_id
       LEFT JOIN nearhit h ON h.doc_id = n.doc_id""",
)
def dedup_incremental_q(spark, sf):
    """Incremental dedup: a NEW batch (doc_id % 4 = 3) deduped against the
    EXISTING corpus (doc_id % 4 < 3) — exact fingerprint hits, then
    MinHash-LSH band-bucket near hits, verdict per new document
    (operators/dedup.py::incremental_dedup).  The daily-delivery shape at
    100 TB: the corpus side streams (its band index is persistable via
    minhash_band_buckets), the small increment broadcasts, no corpus
    shuffle."""
    d = load_table(spark, sf, "documents")
    return dedup.incremental_dedup(
        d.filter(F.col("doc_id") % 4 == 3),
        d.filter(F.col("doc_id") % 4 < 3),
        k=_MINHASH_K,
        bands=4,
        n=3,
    )


@register(
    "text_repetition",
    rf"""WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
       e AS (SELECT doc_id, w, len(w) AS nw FROM t WHERE len(w) >= 3),
       bg AS (SELECT doc_id,
                     unnest(list_transform(range(1, nw),
                                           x -> w[x] || ' ' || w[x + 1])) AS g
              FROM e),
       c AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM bg GROUP BY 1, 2),
       top AS (SELECT doc_id, g, cnt,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY cnt DESC, g) AS rn
               FROM c),
       tri AS (SELECT doc_id,
                      CAST(nw - 2 AS BIGINT) AS n_trigrams,
                      CAST(len(list_distinct(
                          list_transform(range(1, nw - 1),
                              x -> w[x] || ' ' || w[x+1] || ' ' || w[x+2])))
                        AS BIGINT) AS d_tri
               FROM e)
       SELECT e.doc_id, top.g AS top_bigram, top.cnt AS top_bigram_n,
              CAST(e.nw - 1 AS BIGINT) AS n_bigrams,
              tri.n_trigrams - tri.d_tri AS dup_trigram_n,
              tri.n_trigrams
       FROM e JOIN top USING (doc_id) JOIN tri USING (doc_id)
       WHERE top.rn = 1""",
)
def text_repetition_q(spark, sf):
    """Intra-document repetition metrics (the Gopher/MassiveText quality
    rules): most-frequent word bigram with its count, plus duplicate-trigram
    counts, per document.  The Spark side is ENTIRELY row-local — n-grams by
    index arithmetic, the bigram mode as a sorted-array run-length fold
    (functions/text.py::top_ngram), trigram dups via array_distinct — zero
    shuffles at any corpus size, where the oracle's unnest->GROUP BY
    formulation shuffles the full gram stream.  All outputs are integers or
    strings; ties break to the lexicographically smallest gram in both
    engines."""
    docs = load_table(spark, sf, "documents")
    toks = T.tokens(F.lower(F.col("text")))
    base = docs.select("doc_id", toks.alias("w")).filter(F.size("w") >= 3)
    bi = T.word_ngrams(F.col("w"), 2)
    tri = T.word_ngrams(F.col("w"), 3)
    top = T.top_ngram(bi)
    return base.select(
        "doc_id",
        top["gram"].alias("top_bigram"),
        top["n"].alias("top_bigram_n"),
        F.size(bi).cast("bigint").alias("n_bigrams"),
        (F.size(tri) - F.size(F.array_distinct(tri)))
        .cast("bigint")
        .alias("dup_trigram_n"),
        F.size(tri).cast("bigint").alias("n_trigrams"),
    )


@register(
    "a_anomaly_zscore",
    """WITH c AS (SELECT event_id, user_id,
                         CAST(round(value * 100) AS BIGINT) AS cents
            FROM events),
       s AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(cents) AS BIGINT) AS s,
                    CAST(SUM(cents * cents) AS BIGINT) AS ssq
             FROM c GROUP BY user_id)
       SELECT c.event_id, c.user_id, c.cents
       FROM c JOIN s USING (user_id)
       WHERE s.n >= 2
         AND (s.n * CAST(c.cents AS HUGEINT) - s.s)
             * (s.n * CAST(c.cents AS HUGEINT) - s.s) * (s.n - 1)
             > 9 * s.n * (s.n * CAST(s.ssq AS HUGEINT) - CAST(s.s AS HUGEINT) * s.s)""",
)
def a_anomaly_zscore_q(spark, sf):
    """Per-user outlier detection: events whose value is more than 3 sample
    standard deviations from the user's mean.  |x - mean| > 3*sigma is
    cross-multiplied into PURE INTEGER arithmetic on cents —
    (n*x - s)^2 * (n-1) > 9 * n * (n*ssq - s^2) — so both engines decide
    every boundary case identically (no float variance ordering issues).
    One map-side-combined shuffle for the per-user moments, then a hash join
    back to the events.  The cross-multiplied products grow as n^3 * cents^2,
    which blows int64 near ~1.5k events/user (ANSI mode would throw), so the
    COMPARISON runs in 128-bit arithmetic on both engines — DECIMAL(38,0)
    here, HUGEINT in the oracle — safe to ~3e9 events/user at these
    magnitudes; the per-user moments themselves stay comfortably in int64."""
    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", _cents(F.col("value")).alias("cents")
    )
    s = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ssq"),
    )
    j = ev.join(s, "user_id")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    dev = dec("n") * dec("cents") - dec("s")
    var_n = dec("n") * dec("ssq") - dec("s") * dec("s")
    return j.filter(
        (F.col("n") >= 2)
        & (dev * dev * (dec("n") - 1) > 9 * dec("n") * var_n)
    ).select("event_id", "user_id", "cents")


@register(
    "sketch_distinct_rollup",
    """SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
       FROM events""",
)
def sketch_distinct_rollup_q(spark, sf):
    """Mergeable HLL distinct cube: one ~16 KiB sketch per DAY of events,
    merged to the global distinct-user count without touching raw ids again
    (operators/sketches.py).  This is the pre-aggregation shape that answers
    any coarser distinct rollup at 100 TB from kilobytes; the oracle compares
    against the exact answer, valid because the cardinality sits in HLL's
    exact sparse phase (the >>2^lg_k degradation bound is pinned in
    tests/test_sketches.py)."""
    from trafficbigdatasearch_spark.operators import sketches

    ev = load_table(spark, sf, "events").withColumn("d", F.to_date("ts"))
    parts = sketches.distinct_sketch_rollup(ev, ["d"], "user_id")
    return parts.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        sketches.merged_distinct(parts).alias("distinct_users"),
    )


@register(
    "sketch_segment_overlap",
    """WITH a AS (SELECT DISTINCT user_id FROM events WHERE value > 300),
            b AS (SELECT DISTINCT user_id FROM events
                  WHERE event_type = 'error' AND value > 200)
       SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
              CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
              CAST((SELECT COUNT(*) FROM a JOIN b USING (user_id)) AS BIGINT)
                AS n_intersect,
              CAST((SELECT COUNT(*) FROM a
                    WHERE user_id NOT IN (SELECT user_id FROM b)) AS BIGINT)
                AS n_a_only""",
)
def sketch_segment_overlap_q(spark, sf):
    """Distinct-set algebra across segments in ONE scan via Theta sketches:
    |A|, |B|, |A∩B|, |A\\B| of high-value users vs high-value-error users
    (operators/sketches.py::segment_overlap).  The exact plan is 2 distinct
    aggregates + intersect + except = 4 shuffles of raw ids; the sketch plan
    is one conditional-aggregate scan and set algebra on two kilobyte
    summaries.  Exact below Theta's k=4096 retention (oracle enforces it);
    graceful estimate beyond."""
    from trafficbigdatasearch_spark.operators import sketches

    ev = load_table(spark, sf, "events")
    return sketches.segment_overlap(
        ev,
        F.col("value") > 300,
        (F.col("event_type") == "error") & (F.col("value") > 200),
        "user_id",
    )


@register(
    "sketch_top_items",
    """SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS n
       FROM events GROUP BY event_type""",
)
def sketch_top_items_q(spark, sf):
    """Mergeable frequent-items cube: one approx_top_k state per DAY of
    events, combined to the global top event types without touching raw
    rows again (operators/sketches.py::top_items_rollup) — the third leg of
    the sketch fabric (HLL = distinct, KLL = quantiles, frequent-items =
    heavy hitters).  Exact here because every day's distinct event-type
    count sits far inside maxItemsTracked (no eviction, counts add across
    merges) and k >= the distinct-type count, so no tie-cutoff
    nondeterminism — the same exact-phase argument the HLL/Theta rows use;
    degradation bounds pinned in tests/test_sketches.py."""
    from trafficbigdatasearch_spark.operators import sketches

    ev = load_table(spark, sf, "events").withColumn("d", F.to_date("ts"))
    parts = sketches.top_items_rollup(ev, ["d"], "event_type")
    return sketches.merged_top_items(parts, k=5)


@register(
    "j_range_keyless",
    """WITH w AS (SELECT DISTINCT date_trunc('day', ts) AS s FROM events),
       w2 AS (SELECT strftime(s, '%Y-%m-%d') AS w_id,
                     epoch_ms(s) AS lo,
                     epoch_ms(s + INTERVAL 36 HOUR) AS hi
              FROM w),
       e AS (SELECT epoch_ms(ts) AS t, user_id FROM events)
       SELECT w_id, CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       FROM e JOIN w2 ON e.t >= w2.lo AND e.t <= w2.hi
       GROUP BY w_id""",
)
def j_range_keyless_q(spark, sf):
    """KEYLESS range join at scale: events against overlapping 36-hour
    windows with NO equi key — the join class Spark would otherwise plan as
    a nested loop (fine only while one side broadcasts).
    operators/joins.py::bucketed_interval_join explodes each window into the
    6-hour buckets it overlaps and equi-joins on the bucket with the exact
    band as residual, turning O(n*m) into a hash join partitioned on time —
    the standard range-join bin trick.  Overlapping windows are the point:
    each event matches 1-2 windows and must appear once per window, which
    the bucket equi-join preserves exactly (events carry ONE bucket each).
    Plan gates: no CartesianProduct (global sweep) and no
    BroadcastNestedLoopJoin (tests/test_plans.py)."""
    ev = load_table(spark, sf, "events")
    e = ev.select(F.unix_millis("ts").alias("t"), "user_id")
    w = (
        ev.select(F.date_trunc("day", "ts").alias("s"))
        .distinct()
        .select(
            F.date_format("s", "yyyy-MM-dd").alias("w_id"),
            F.unix_millis(F.col("s")).alias("lo"),
            F.unix_millis(F.col("s") + F.expr("INTERVAL 36 HOURS")).alias("hi"),
        )
    )
    j = joins.bucketed_interval_join(e, w, "t", "lo", "hi", 6 * 3600 * 1000)
    return j.groupBy("w_id").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


@register(
    "text_phrase_search",
    rf"""WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
       h AS (SELECT doc_id,
                    CAST(list_sum(list_transform(range(1, len(w)),
                        x -> CASE WHEN w[x] = 'query' AND w[x + 1] = 'key'
                             THEN 1 ELSE 0 END)) AS BIGINT) AS n_hits
             FROM t WHERE len(w) >= 2)
       SELECT doc_id, n_hits FROM h WHERE n_hits > 0""",
)
def text_phrase_search_q(spark, sf):
    """Exact phrase search ("query key" as consecutive tokens) via the
    positional-posting join (operators/search.py::phrase_search): postings
    filtered to the phrase terms BEFORE joining, then chained on
    (doc, pos + offset) — the inverted-index-with-positions shape, k-1 hash
    joins over O(matches) posting lists at any corpus size.  The oracle is
    the naive per-document sliding window."""
    from trafficbigdatasearch_spark.operators import search

    docs = load_table(spark, sf, "documents")
    return search.phrase_search(docs, ["query", "key"])


@register(
    "w_quality_deciles",
    """WITH s AS (SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
            FROM documents)
       SELECT doc_id, lang, n_chars,
              CAST(ntile(10) OVER ord AS BIGINT) AS decile,
              percent_rank() OVER ord AS pct_rank,
              cume_dist() OVER ord AS cdist
       FROM s WINDOW ord AS (PARTITION BY lang ORDER BY n_chars, doc_id)""",
)
def w_quality_deciles_q(spark, sf):
    """Distribution-rank windows (ntile / percent_rank / cume_dist): each
    document's quality-score decile and exact percentile WITHIN ITS
    LANGUAGE — the normalize-then-threshold step of per-language corpus
    filtering.  Partitioned ranking is the scalable form (one shuffle on
    lang, skew bounded by the largest language; a GLOBAL ntile would funnel
    the corpus through one task — at scale that variant uses broadcast
    approx-quantile cutpoints instead).  The (n_chars, doc_id) order is a
    total order, so ranks have no peer groups and percent_rank/cume_dist
    are exact integer ratios — bit-identical IEEE doubles in both
    engines."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.select(
            "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.ntile(10).over(w).cast("bigint").alias("decile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cdist"),
        )
    )


@register(
    "w_quality_deciles_global",
    """WITH s AS (SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
            FROM documents),
       n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM s),
       h AS (SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS c FROM s
             GROUP BY n_chars),
       b AS (SELECT n_chars,
                    CAST(SUM(c) OVER (ORDER BY n_chars) AS BIGINT) AS cum
             FROM h)
       SELECT doc_id, lang, s.n_chars,
              CAST((10 * cum + nn - 1) // nn AS BIGINT) AS g_bucket,
              CAST(cum AS DOUBLE) / nn AS g_cdist
       FROM s JOIN b USING (n_chars) CROSS JOIN n""",
)
def w_quality_deciles_global_q(spark, sf):
    """CORPUS-WIDE decile — the promised scale variant of
    w_quality_deciles (whose docstring and SCALING.md's window row cite
    broadcast cutpoints as the global-rank mitigation).  A global
    ``ntile``/``cume_dist`` funnels every row through ONE task; this
    operator (operators/ranks.py::global_quantile_buckets) instead builds
    the exact value histogram with one map-side-combined cube() scan, turns
    it into a CDF with a window over the HISTOGRAM only (|distinct
    lengths| rows, bounded like vocab.py's top-V window), and broadcasts
    the bucket map back — zero corpus shuffle, zero global sort, exact
    ties-share-a-bucket semantics.  bucket = ceil(10·cum/N) in pure
    integer arithmetic; cdist = one IEEE divide of exact integers — both
    bit-identical cross-engine.  The ``method='approx'`` companion
    (approxQuantile cutpoints, for continuous high-cardinality scores) is
    pinned by pytest in tests/test_ranks.py."""
    from trafficbigdatasearch_spark.operators import ranks

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )
    out = ranks.global_quantile_buckets(docs, "n_chars", 10)
    # the equi join surfaces the join key first; match the oracle's order
    return out.select("doc_id", "lang", "n_chars", "g_bucket", "g_cdist")


@register(
    "w_scd2_intervals",
    """SELECT user_id, event_id,
              CAST(round(value * 100) AS BIGINT) AS cents,
              epoch_ms(ts) AS valid_from_ms,
              epoch_ms(lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)) AS valid_to_ms
       FROM events WHERE event_type = 'signup'""",
)
def w_scd2_intervals_q(spark, sf):
    """Slowly-changing-dimension (type 2) interval construction: each
    per-user state change becomes a [valid_from, valid_to) row, valid_to =
    the next change's timestamp (NULL = current) via ``lead`` — how a
    feature store turns an event log into a point-in-time-joinable temporal
    table (the as-of join j_asof is its query-side twin).  One shuffle on
    user_id; (ts, event_id) ordering makes the intervals deterministic
    under timestamp ties; money as exact cents."""
    ev = load_table(spark, sf, "events").filter(F.col("event_type") == "signup")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        _cents(F.col("value")).alias("cents"),
        F.unix_millis("ts").alias("valid_from_ms"),
        F.unix_millis(F.lead("ts").over(w)).alias("valid_to_ms"),
    )


@register(
    "mm_phash_pairs",
    """WITH fp AS (SELECT doc_id AS id,
                          CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) AS h
            FROM documents)
       SELECT a.id AS id_a, b.id AS id_b,
              CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
       FROM fp a JOIN fp b ON a.id < b.id
       WHERE bit_count(xor(a.h, b.h)) <= 3""",
)
def mm_phash_pairs_q(spark, sf):
    """Multimodal near-dup: perceptual-hash pairs over media assets through
    the SAME banded-Hamming engine as text SimHash
    (operators/multimodal.py::phash_pairs -> dedup.hamming_pairs).  The
    pigeonhole bound makes the banded result EQUAL to the oracle's
    all-pairs bit_count(xor) filter, so the blocking path gets hash-level
    verification; the pHash itself is the documented md5 stub (payload =
    utf-8 text bytes, so DuckDB's md5(text) reproduces it)."""
    from trafficbigdatasearch_spark.operators import multimodal

    docs = load_table(spark, sf, "documents")
    assets = multimodal.assets_from_documents(docs)
    return multimodal.phash_pairs(assets)


@register(
    "a_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
              CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
              CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                AS sum_cents
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
)
def a_grouping_sets_q(spark, sf):
    """Arbitrary GROUPING SETS — the general form of which a_rollup/a_cube
    are the prefix/powerset specializations: per-returnflag totals,
    per-linestatus totals, and the grand total in ONE pass (Expand + one
    grouped aggregate = one shuffle, vs three scans unioned).
    ``grouping()`` flags disambiguate a real NULL key from a superaggregate
    row — the contract every BI layer depends on."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("bigint").alias("g_rf"),
            F.grouping("l_linestatus").cast("bigint").alias("g_ls"),
            F.count("*").alias("n"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_cents"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_rf", "g_ls", "n", "sum_cents"
        )
    )


_TEXT_INDEX_CACHE: dict[str, str] = {}


@register(
    "text_phrase_indexed",
    rf"""WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
       h AS (SELECT doc_id,
                    CAST(list_sum(list_transform(range(1, len(w)),
                        x -> CASE WHEN w[x] = 'query' AND w[x + 1] = 'key'
                             THEN 1 ELSE 0 END)) AS BIGINT) AS n_hits
             FROM t WHERE len(w) >= 2)
       SELECT doc_id, n_hits FROM h WHERE n_hits > 0""",
)
def text_phrase_indexed_q(spark, sf):
    """Phrase search over a PERSISTED positional inverted index
    (operators/search.py::build_text_index / phrase_search_indexed): same
    answer as text_phrase_search, but the scan reads only the phrase terms'
    md5-bucket partitions (static partition pruning, pinned in
    tests/test_plans.py) — the repeated-query retrieval path, mirroring the
    persisted IVF index for vectors.  Index builds once per process into the
    scratch dir (cleaned at exit); every later call is pruned posting-list
    reads."""
    import os

    from trafficbigdatasearch_spark.operators import search

    path = _TEXT_INDEX_CACHE.get(sf)
    if path is None:
        path = os.path.join(_scratch("text_index", sf), "postings")
        search.build_text_index(load_table(spark, sf, "documents"), path)
        _TEXT_INDEX_CACHE[sf] = path
    return search.phrase_search_indexed(spark, path, ["query", "key"])


_PQ_M = 8


_PQ_SUB = 8  # 64 dims / 8 subspaces


_PQ_PACK = 1 << 20


def _pq_d(j: int, a: str = "c.v", b: str = "cent.cv") -> str:
    lo = j * _PQ_SUB + 1
    return (
        f"list_sum(list_transform(range({lo}, {lo + _PQ_SUB}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _pq_codes_cte(cent_sql: str | None = None, pre: str = "") -> str:
    """WITH-body c/cent/p/codes.  ``cent_sql`` overrides the codebook CTE
    body (default: dense-ranked stride-97 sample); ``pre`` injects extra
    CTEs (e.g. the k-means training chain) between c and cent."""
    if cent_sql is None:
        cent_sql = (
            "SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) "
            "AS cell_id, v AS cv FROM c WHERE vec_id % 97 = 0"
        )
    ds = ",\n              ".join(f"{_pq_d(j)} AS d{j}" for j in range(_PQ_M))
    cs = ",\n              ".join(
        f"CAST(CAST(min(d{j} * {_PQ_PACK} + cell_id) AS BIGINT) % {_PQ_PACK} "
        f"AS BIGINT) AS code_{j}"
        for j in range(_PQ_M)
    )
    return f"""c AS (SELECT vec_id, {_QVEC} AS v FROM embeddings),
       {pre}cent AS ({cent_sql}),
       p AS (SELECT c.vec_id, cent.cell_id,
              {ds}
             FROM c CROSS JOIN cent),
       codes AS (SELECT vec_id,
              {cs}
             FROM p GROUP BY vec_id)"""


def _pq_adc_cte() -> str:
    """CTEs codes_l/q/lut_w/lut/adc — the ADC scoring chain over ``codes``
    and ``cent`` (appended after :func:`_pq_codes_cte`)."""
    codes_l = " UNION ALL ".join(
        f"SELECT vec_id AS neighbor_id, {j} AS j, code_{j} AS cell_id FROM codes"
        for j in range(_PQ_M)
    )
    lut_cols = ", ".join(
        _pq_d(j, "q.qv", "cent.cv") + f" AS l{j}" for j in range(_PQ_M)
    )
    lut = " UNION ALL ".join(
        f"SELECT query_id, cell_id, {j} AS j, l{j} AS ld FROM lut_w"
        for j in range(_PQ_M)
    )
    return f"""codes_l AS ({codes_l}),
       q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
       lut_w AS (SELECT query_id, cell_id,
              {lut_cols}
             FROM q CROSS JOIN cent),
       lut AS ({lut}),
       adc AS (SELECT query_id, neighbor_id,
                      CAST(SUM(ld) AS BIGINT) AS adc_dist
               FROM codes_l JOIN lut USING (j, cell_id)
               GROUP BY query_id, neighbor_id)"""


def _pq_train_ctes(n_iter: int = 2) -> str:
    """The lattice-exact k-means training chain (mirrors
    operators/similarity.py::pq_train_codebook step for step): u = the
    unit-lattice members, cb0 = the dense-ranked seed sample, then per
    iteration assignment (max cosine, ties to smaller cell) and the
    integer re-estimation round(sum/ count) per dimension.  Every partial
    sum is exact below 2^53 and every non-integer step is one
    correctly-rounded IEEE op, so the chain is bit-identical to Spark's."""
    un = (
        "list_transform(v, x -> CAST(round(x * 10000 / "
        "sqrt(CAST(list_dot_product(v, v) AS DOUBLE))) AS BIGINT))"
    )
    cos = (
        "CAST(list_dot_product(uv, mv) AS DOUBLE) / "
        "(sqrt(CAST(list_dot_product(uv, uv) AS DOUBLE)) * "
        "sqrt(CAST(list_dot_product(mv, mv) AS DOUBLE)))"
    )
    parts = [
        f"u AS (SELECT vec_id, {un} AS uv FROM c)",
        """cb0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                         AS cell,
                       list_transform(v, x -> CAST(x AS BIGINT)) AS mv
                FROM c WHERE vec_id % 97 = 0)""",
    ]
    for i in range(1, n_iter + 1):
        prev = f"cb{i - 1}"
        parts.append(
            f"""s{i} AS (SELECT u.vec_id, {prev}.cell, {cos} AS s
             FROM u CROSS JOIN {prev})"""
        )
        parts.append(
            f"""a{i} AS (SELECT vec_id, cell FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                                            ORDER BY s DESC, cell ASC) AS r
               FROM s{i}) t WHERE r = 1)"""
        )
        parts.append(
            f"""m{i} AS (SELECT a{i}.cell, r.i AS dim,
                      CAST(round(CAST(SUM(uv[r.i]) AS DOUBLE) / COUNT(*))
                           AS BIGINT) AS m
               FROM a{i} JOIN u USING (vec_id) CROSS JOIN range(1, 65) r(i)
               GROUP BY a{i}.cell, r.i)"""
        )
        parts.append(
            f"cb{i} AS (SELECT cell, list(m ORDER BY dim) AS mv "
            f"FROM m{i} GROUP BY cell)"
        )
    return ",\n       ".join(parts) + ",\n       "


@register(
    "sim_pq_codes",
    f"""WITH {_pq_codes_cte()}
       SELECT * FROM codes""",
)
def sim_pq_codes_q(spark, sf):
    """Product-quantization encoding: every embedding compressed to 8
    subspace codes (operators/similarity.py::pq_codes) — the memory half of
    the IVF+PQ ANN stack (IVF prunes where to look, PQ shrinks each kept
    vector from 64 floats to 8 small ints).  Exact integer subspace
    distances on the quantized lattice with a packed argmin
    (min(d*2^20 + cell) % 2^20), so the oracle hash-matches the full
    codebook assignment; codes are DENSE codebook ranks (row_number over
    the sample, identically ordered in both engines — raw corpus ids could
    exceed 2^20 and corrupt the packing); one broadcast codebook, one
    corpus scan."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.pq_codes(emb, m=_PQ_M, centroid_stride=97, kernel="gemm")


_PQ_ADC_TOPK_TAIL = """,
       r AS (SELECT query_id, neighbor_id, adc_dist,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist, neighbor_id) AS rn
             FROM adc)
       SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rnk, adc_dist
       FROM r WHERE rn <= 5"""


@register(
    "sim_pq_adc_topk",
    f"""WITH {_pq_codes_cte()},
       {_pq_adc_cte()}{_PQ_ADC_TOPK_TAIL}""",
)
def sim_pq_adc_topk_q(spark, sf):
    """Asymmetric-distance (ADC) top-k over PQ codes: queries keep exact
    subvectors, corpus vectors are represented ONLY by their 8 codes, and
    distance = 8 lookup-table reads summed — the corpus embeddings are
    read once (to encode) and never touched at query time
    (operators/similarity.py::pq_adc_topk).  Integer-exact distances make
    the ranking deterministic and the oracle hash-exact.  Retrieval
    quality: with sampled codebooks ADC is a SHORTLIST generator (top-1
    lands in the query's own cluster on clustered data — pinned in
    tests/test_entry_correctness.py); production recall comes from
    trained codebooks (the ``centroids`` seam) + exact rerank of the ADC
    shortlist, the standard IVF+PQ arrangement."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.pq_adc_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, m=_PQ_M, centroid_stride=97,
        kernel="gemm",
    ).withColumnRenamed("rank", "rnk")


@register(
    "sim_pq_rerank_topk",
    f"""WITH {_pq_codes_cte()},
       {_pq_adc_cte()},
       sl AS (SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY adc_dist, neighbor_id) AS rn
                FROM adc) t
              WHERE rn <= 100),
       ex AS (SELECT sl.query_id, sl.neighbor_id,
                     list_dot_product(qc.v, cc.v) /
                     (sqrt(list_dot_product(qc.v, qc.v)) *
                      sqrt(list_dot_product(cc.v, cc.v))) AS score
              FROM sl
              JOIN c cc ON cc.vec_id = sl.neighbor_id
              JOIN c qc ON qc.vec_id = sl.query_id)
       SELECT query_id, neighbor_id, rnk, score FROM (
         SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rnk
         FROM ex) r
       WHERE rnk <= 5""",
)
def sim_pq_rerank_topk_q(spark, sf):
    """The production PQ arrangement end-to-end: ADC top-100 SHORTLIST from
    compressed codes, exact quantized-cosine rerank of only those 100
    candidates, top-5 out (operators/similarity.py::pq_adc_rerank_topk).
    Raw embeddings are touched once to encode and then only for
    |queries| x 100 shortlisted rows via broadcast joins — never shuffled
    at query time.  Recall@5 vs the brute-force baseline is pinned in
    tests/test_entry_correctness.py; the driver row pins the composition's
    exact ranking (same tie-break contract as sim_brute_topk)."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.pq_adc_rerank_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        shortlist=100,
        m=_PQ_M,
        centroid_stride=97,
        kernel="gemm",
    ).withColumnRenamed("rank", "rnk")


_PQ_TRAINED_CENT = (
    "SELECT CAST(row_number() OVER (ORDER BY cell) - 1 AS BIGINT) AS cell_id, "
    "mv AS cv FROM cb2"
)


@register(
    "sim_pq_trained_topk",
    f"""WITH {_pq_codes_cte(cent_sql=_PQ_TRAINED_CENT, pre=_pq_train_ctes(2))}
       ,
       {_pq_adc_cte()}{_PQ_ADC_TOPK_TAIL}""",
)
def sim_pq_trained_topk_q(spark, sf):
    """TRAINED-codebook ANN end-to-end: two lattice-exact spherical k-means
    iterations refine the stride-97 seed codebook
    (operators/similarity.py::pq_train_codebook), the refined centroids feed
    PQ encoding and the ADC LUT through the same ``centroids`` seam the
    stock pipeline uses, and the driver row hash-pins the full
    train -> encode -> search chain.  Trained cells cut within-cell
    quantization error, so ADC top-k recall vs brute improves over the
    sampled codebook (pinned in tests/test_entry_correctness.py).  The
    trainer is deliberately the DETERMINISTIC sibling of kmeans_refine:
    integer sums + single correctly-rounded ops only, so the oracle
    reproduces the codebook bit-for-bit — float avg() accumulation would
    be partitioning-dependent and unhashable."""
    emb = load_table(spark, sf, "embeddings")
    trained = similarity.pq_train_codebook(
        emb, n_iter=2, centroid_stride=97, kernel="gemm"
    )
    # the trained codebook feeds BOTH the encode pass and the ADC LUT; a
    # localCheckpoint materializes the ~n_cells-row training chain once
    # instead of replaying two k-means iterations per consumer.  Not lazy
    # under AQE (the engine default): even eager=False runs the chain's
    # shuffle stages at this call, inside the builder (the trainer's
    # per-round collects already make this row run jobs at build)
    cents = trained.select(
        F.col("cell_id").alias("vec_id"), F.col("centroid").alias("embedding")
    ).localCheckpoint(eager=False)
    return similarity.pq_adc_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        m=_PQ_M,
        centroids=cents,
        kernel="gemm",
    ).withColumnRenamed("rank", "rnk")


@register(
    "quality_report",
    """WITH a AS (
         SELECT CAST(COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT)
                  AS c_orderkey_not_null,
                CAST(COUNT(CASE WHEN l_quantity IS NOT NULL
                                 AND l_quantity NOT BETWEEN 1 AND 50
                                THEN 1 END) AS BIGINT) AS c_quantity_range,
                CAST(COUNT(CASE WHEN l_discount IS NOT NULL
                                 AND l_discount NOT BETWEEN 0.0 AND 0.1
                                THEN 1 END) AS BIGINT) AS c_discount_range,
                CAST(COUNT(CASE WHEN l_returnflag IS NOT NULL
                                 AND l_returnflag NOT IN ('A', 'N', 'R')
                                THEN 1 END) AS BIGINT) AS c_returnflag_domain,
                CAST(COUNT(l_partkey) - COUNT(DISTINCT l_partkey) AS BIGINT)
                  AS c_partkey_unique
         FROM lineitem)
       SELECT 'orderkey_not_null' AS check, c_orderkey_not_null AS violations,
              c_orderkey_not_null = 0 AS ok FROM a
       UNION ALL SELECT 'quantity_range', c_quantity_range,
              c_quantity_range = 0 FROM a
       UNION ALL SELECT 'discount_range', c_discount_range,
              c_discount_range = 0 FROM a
       UNION ALL SELECT 'returnflag_domain', c_returnflag_domain,
              c_returnflag_domain = 0 FROM a
       UNION ALL SELECT 'partkey_unique', c_partkey_unique,
              c_partkey_unique = 0 FROM a""",
)
def quality_report_q(spark, sf):
    """Declarative data-quality expectations over lineitem — nulls, value
    ranges, domain membership, key uniqueness — ALL evaluated in one
    aggregate pass (operators/validate.py): one scan and one tiny reduce no
    matter how many checks, where the naive expectations-runner re-reads a
    100 TB table once per check.  partkey_unique is expected to FAIL
    (parts repeat across line items) — the report carries violation COUNTS,
    not just booleans, so a gate can threshold."""
    from trafficbigdatasearch_spark.operators import validate as VA

    li = load_table(spark, sf, "lineitem")
    return VA.report(
        li,
        {
            "orderkey_not_null": VA.not_null("l_orderkey"),
            "quantity_range": VA.in_range("l_quantity", 1, 50),
            "discount_range": VA.in_range("l_discount", 0.0, 0.1),
            "returnflag_domain": VA.member_of("l_returnflag", ["A", "N", "R"]),
            "partkey_unique": VA.unique_key("l_partkey"),
        },
    )
