"""Round-7 era: hybrid retrieval (BM25/TF-IDF/phrase), LM quality
scoring, collaborative filtering, trend state, PQ/ADC similarity.

Split from queries/standard.py (VERDICT r10 #7) with registration
order preserved by the aggregator's import order; see ROTATION.md
for the driver-window policy and ledger."""

from __future__ import annotations

from pyspark.sql import functions as F
from trafficbigdatasearch_spark.catalog import file_schema, load_table
from trafficbigdatasearch_spark.functions import text as T
from trafficbigdatasearch_spark.operators import (
    dedup,
    multimodal,
    packing,
    sampling,
    similarity,
)
from ._shared import _REGISTRY, register
from .std_textsim import (
    _COS,
    _GUARDED_TOKS,
    _IVF_CTES,
    _QVEC,
    _TOKCOUNT_SQL,
    _TOKS,
    _drain_to_memory,
    _scratch,
    _stream_events_source,
)
from .std_tpch_sampling import _pq_adc_cte, _pq_codes_cte
from .std_spatial_incr import _PR_N, _PR_SCALE
from .std_olap_quality import _SKIP_LAYOUT_CACHE

# =============================================================================
# §ROUND-7 — hybrid retrieval, LM quality scoring, collaborative filtering
# =============================================================================


@register(
    "text_hybrid_rrf",
    f"""WITH d AS (SELECT doc_id, {_GUARDED_TOKS} AS t FROM documents),
       dd AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl FROM d),
       stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
                 FROM dd),
       p AS (SELECT doc_id, dl, unnest(t) AS term FROM dd),
       tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
                     CAST(min(dl) AS BIGINT) AS dl
              FROM p WHERE term IN ('join', 'merge', 'query')
              GROUP BY term, doc_id),
       dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       s AS (SELECT term, doc_id,
                    (tf * (CAST(1.2 AS DOUBLE) + 1)) /
                      (tf + CAST(1.2 AS DOUBLE) *
                        ((1 - CAST(0.75 AS DOUBLE)) +
                         CAST(0.75 AS DOUBLE) * dl / avgdl)) *
                      (n / df) AS score
             FROM tf JOIN dfq USING (term), stats),
       lexsc AS (SELECT doc_id,
                    CAST(0.0 AS DOUBLE)
                  + COALESCE(MAX(CASE WHEN term = 'join' THEN score END),
                             CAST(0.0 AS DOUBLE))
                  + COALESCE(MAX(CASE WHEN term = 'merge' THEN score END),
                             CAST(0.0 AS DOUBLE))
                  + COALESCE(MAX(CASE WHEN term = 'query' THEN score END),
                             CAST(0.0 AS DOUBLE)) AS score
                 FROM s GROUP BY doc_id),
       lex AS (SELECT doc_id, CAST(row_number() OVER (
                        ORDER BY score DESC, doc_id) AS BIGINT) AS rank_lex
               FROM lexsc QUALIFY rank_lex <= 50),
       q AS (SELECT {_QVEC} AS qv FROM embeddings WHERE vec_id = 0),
       c AS (SELECT vec_id AS neighbor_id, {_QVEC} AS cv FROM embeddings),
       vs AS (SELECT neighbor_id,
                     list_dot_product(qv, cv) /
                     (sqrt(list_dot_product(qv, qv)) *
                      sqrt(list_dot_product(cv, cv))) AS score
              FROM c CROSS JOIN q WHERE neighbor_id <> 0),
       vec AS (SELECT neighbor_id AS doc_id, CAST(row_number() OVER (
                        ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank_vec
               FROM vs QUALIFY rank_vec <= 50),
       fused AS (SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
                        lex.rank_lex, vec.rank_vec,
                        CAST(0.0 AS DOUBLE)
                      + COALESCE(CAST(1.0 AS DOUBLE) /
                                 (CAST(60 AS DOUBLE) + rank_lex),
                                 CAST(0.0 AS DOUBLE))
                      + COALESCE(CAST(1.0 AS DOUBLE) /
                                 (CAST(60 AS DOUBLE) + rank_vec),
                                 CAST(0.0 AS DOUBLE)) AS rrf_score
                 FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
       SELECT doc_id, rank_lex, rank_vec, rrf_score,
              CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
                   AS BIGINT) AS rank
       FROM fused QUALIFY rank <= 20""",
)
def text_hybrid_rrf_q(spark, sf):
    """Hybrid retrieval (operators/fusion.py): a BM25 bag-of-terms lexical
    leg over documents + an exact-cosine vector leg over embeddings
    (query = stored vector 0, doc ids linked by equality), fused with
    reciprocal-rank fusion (k0=60) and cut to the top 20 — the modern
    two-leg search shape over this package's own retrieval stack.  Every
    float in the chain is a FIXED-ORDER op sequence (pivoted per-term
    adds, per-leg coalesce-adds — never a float SUM aggregate), which is
    what lets a rank-fusion query hash-match across engines at all.  The
    legs are k-sized before fusion, so the fuse join is O(k) regardless
    of corpus size; at 100 TB the legs swap to their indexed siblings
    (bm25_indexed, ivf_topk_indexed) with identical fusion semantics."""
    from trafficbigdatasearch_spark.operators import fusion

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    return fusion.hybrid_topk(
        docs, emb, ["join", "merge", "query"], query_vec_id=0,
        k=20, leg_k=50,
    )


@register(
    "text_lm_coverage",
    f"""WITH toks AS (SELECT doc_id, {_GUARDED_TOKS} AS t FROM documents),
       tt AS (SELECT doc_id, list_filter(t, x -> x <> '') AS t FROM toks),
       pos AS (SELECT doc_id, unnest(t) AS term,
                      generate_subscripts(t, 1) AS p FROM tt),
       bg AS (SELECT a.doc_id, a.term AS w1, b.term AS w2
              FROM pos a JOIN pos b
                ON a.doc_id = b.doc_id AND b.p = a.p + 1),
       lm AS (SELECT w1, w2 FROM bg WHERE doc_id % 4 = 0
              GROUP BY w1, w2 HAVING count(*) >= 3),
       sc AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS nb,
                     CAST(SUM(CASE WHEN lm.w1 IS NOT NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS nk
              FROM bg LEFT JOIN lm USING (w1, w2) GROUP BY bg.doc_id)
       SELECT d.doc_id,
              COALESCE(sc.nb, 0) AS n_bigrams,
              COALESCE(sc.nk, 0) AS n_known,
              CASE WHEN COALESCE(sc.nb, 0) = 0 THEN NULL
                   ELSE CAST(COALESCE(sc.nk, 0) AS DOUBLE) /
                        CAST(COALESCE(sc.nb, 0) AS DOUBLE) END AS coverage
       FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""",
)
def text_lm_coverage_q(spark, sf):
    """LM quality scoring (operators/lm.py), the CCNet/KenLM curation
    stage: train bigram counts on a quarter of the corpus (doc_id % 4 = 0,
    min_count=3 — the held-in "trusted" slice), then score EVERY document
    by known-bigram coverage.  Training is one map-side-combined shuffle
    bounded by distinct-bigram vocabulary; scoring is a broadcast join at
    scan speed; both counts are integer sums and the single closing
    division is one IEEE op — the oracle-hashable half of the LM story
    (the ln-based perplexity variant is pytest-pinned, same policy as
    BM25's robertson idf)."""
    from trafficbigdatasearch_spark.operators import lm

    docs = load_table(spark, sf, "documents")
    model = lm.bigram_lm(
        docs.filter(F.col("doc_id") % 4 == 0), min_count=3
    )
    return lm.coverage_scores(docs, model)


_REC_UI_CTE = """ui AS (SELECT DISTINCT user_id,
                   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                     AS item_id
            FROM events
            WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                  IS NOT NULL),
       n AS (SELECT item_id, CAST(count(*) AS BIGINT) AS n_users
             FROM ui GROUP BY item_id),
       co AS (SELECT a.item_id AS item_a, b.item_id AS item_b,
                     CAST(count(*) AS BIGINT) AS n_co
              FROM ui a JOIN ui b
                ON a.user_id = b.user_id AND a.item_id < b.item_id
              GROUP BY 1, 2 HAVING count(*) >= 2),
       sym AS (SELECT item_a AS item_id, item_b AS neighbor_id, n_co FROM co
               UNION ALL SELECT item_b, item_a, n_co FROM co)"""


@register(
    "rec_item_cosine",
    f"""WITH {_REC_UI_CTE},
       s AS (SELECT sym.item_id, sym.neighbor_id, sym.n_co,
                    CAST(sym.n_co AS DOUBLE) /
                    (sqrt(CAST(na.n_users AS DOUBLE)) *
                     sqrt(CAST(nb.n_users AS DOUBLE))) AS score
             FROM sym
             JOIN n na ON sym.item_id = na.item_id
             JOIN n nb ON sym.neighbor_id = nb.item_id)
       SELECT item_id, neighbor_id, n_co, score,
              CAST(row_number() OVER (PARTITION BY item_id
                     ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
       FROM s QUALIFY rank <= 10""",
)
def rec_item_cosine_q(spark, sf):
    """Item-item collaborative similarity (operators/recsys.py, Sarwar
    et al. WWW'01): distinct (user, item) matrix from the event stream
    (item = the props.k field), ordered co-occurrence counts with support
    >= 2, cosine normalization by each item's user-set size, per-item
    top-10 neighbor list.  The distinct-first collapse is the a_basket_
    pairs guard (pair fan-out bounded by items-per-user, never events);
    the co-table is support-bounded; the cosine is one fixed IEEE op
    sequence over integer counts — hash-stable across engines."""
    from trafficbigdatasearch_spark.operators import recsys

    ui = recsys.user_item(load_table(spark, sf, "events"))
    return recsys.item_cosine_neighbors(ui, n=10, min_co=2)


@register(
    "rec_item_cosine_capped",
    """WITH ui0 AS (SELECT DISTINCT user_id,
                   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                     AS item_id
            FROM events
            WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                  IS NOT NULL),
       ui AS (SELECT * FROM ui0
              WHERE user_id NOT IN (SELECT user_id FROM ui0
                                    GROUP BY user_id
                                    HAVING count(*) > 55)),
       n AS (SELECT item_id, CAST(count(*) AS BIGINT) AS n_users
             FROM ui GROUP BY item_id),
       co AS (SELECT a.item_id AS item_a, b.item_id AS item_b,
                     CAST(count(*) AS BIGINT) AS n_co
              FROM ui a JOIN ui b
                ON a.user_id = b.user_id AND a.item_id < b.item_id
              GROUP BY 1, 2 HAVING count(*) >= 2),
       sym AS (SELECT item_a AS item_id, item_b AS neighbor_id, n_co FROM co
               UNION ALL SELECT item_b, item_a, n_co FROM co),
       s AS (SELECT sym.item_id, sym.neighbor_id, sym.n_co,
                    CAST(sym.n_co AS DOUBLE) /
                    (sqrt(CAST(na.n_users AS DOUBLE)) *
                     sqrt(CAST(nb.n_users AS DOUBLE))) AS score
             FROM sym
             JOIN n na ON sym.item_id = na.item_id
             JOIN n nb ON sym.neighbor_id = nb.item_id)
       SELECT item_id, neighbor_id, n_co, score,
              CAST(row_number() OVER (PARTITION BY item_id
                     ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
       FROM s QUALIFY rank <= 10""",
)
def rec_item_cosine_capped_q(spark, sf):
    """rec_item_cosine under the HOT-USER CAP (recsys.cap_hot_users,
    max_user_items=55): users with more than 55 distinct items are
    dropped BEFORE the pair self-join — the pre-explosion skew guard
    mirroring jaccard_link_prediction's max_degree hub contract.  At
    sf0.01 the cap genuinely fires (~10% of users exceed it), so this
    row certifies the cap SEMANTICS against the oracle — both the
    whole-user drop and the requirement that the n_users cosine
    denominators shrink consistently with the co-counts — not just the
    identity path.  The quadratic stage's per-key fan-out is now
    bounded by 55²/2 pairs per user regardless of corpus skew."""
    from trafficbigdatasearch_spark.operators import recsys

    ui = recsys.user_item(load_table(spark, sf, "events"))
    return recsys.item_cosine_neighbors(
        ui, n=10, min_co=2, max_user_items=55
    )


@register(
    "rec_user_topn",
    f"""WITH {_REC_UI_CTE},
       cand AS (SELECT ui.user_id, sym.neighbor_id AS item_id,
                       CAST(SUM(sym.n_co) AS BIGINT) AS score
                FROM ui JOIN sym ON ui.item_id = sym.item_id
                GROUP BY 1, 2),
       unseen AS (SELECT c.user_id, c.item_id, c.score
                  FROM cand c LEFT JOIN ui
                    ON c.user_id = ui.user_id AND c.item_id = ui.item_id
                  WHERE ui.user_id IS NULL)
       SELECT user_id, item_id, score,
              CAST(row_number() OVER (PARTITION BY user_id
                     ORDER BY score DESC, item_id) AS BIGINT) AS rank
       FROM unseen QUALIFY rank <= 5""",
)
def rec_user_topn_q(spark, sf):
    """Per-user top-5 unseen-item recommendations (operators/recsys.py):
    each user's items vote for co-occurring candidates with INTEGER
    co-count weights (order-independent sum — the oracle-hashable scoring;
    a float-weighted variant would need fusion.py's fixed-order-add
    treatment), seen items removed by an anti join on the interaction
    matrix, per-user top-5 window partitioned by user.  The co-table
    ships broadcast (support-bounded); the candidate aggregate is
    map-side combined."""
    from trafficbigdatasearch_spark.operators import recsys

    ui = recsys.user_item(load_table(spark, sf, "events"))
    return recsys.recommend_topn(ui, n=5, min_co=2)


@register(
    "eval_ivf_recall",
    f"""WITH {_IVF_CTES},
       ivf AS (SELECT query_id, neighbor_id FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, neighbor_id ASC) AS rnk
         FROM scored) r WHERE rnk <= 5),
       bsc AS (SELECT query_id, c.vec_id AS neighbor_id,
                      {_COS.format(a='qv', b='v')} AS score
               FROM c CROSS JOIN q WHERE c.vec_id <> query_id),
       exact AS (SELECT query_id, neighbor_id FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, neighbor_id ASC) AS rnk
         FROM bsc) r WHERE rnk <= 5),
       hit AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_overlap
               FROM ivf JOIN exact USING (query_id, neighbor_id)
               GROUP BY query_id)
       SELECT eq.query_id,
              CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
              CAST(COALESCE(n_overlap, 0) AS DOUBLE) /
                CAST(5.0 AS DOUBLE) AS recall
       FROM (SELECT DISTINCT query_id FROM exact) eq
       LEFT JOIN hit USING (query_id)""",
)
def eval_ivf_recall_q(spark, sf):
    """Recall@5 of the IVF index against the exact brute-force baseline,
    PER QUERY (operators/evalrank.py::topk_overlap) — the recall ladder
    the ANN family's docstrings promise, now a first-class measured
    result instead of a pytest assertion.  Both legs are the registered
    sim_ivf_topk / sim_brute_topk configurations (same centroid stride,
    nprobe, tie-break contract), so this row certifies the accuracy of
    exactly the plans the registry ships.  The overlap join is k-sized
    per query — O(n_queries * k) whatever the corpus size; per-query
    rows are integer counts + one division (no float mean), per the
    evaluation module's determinism policy."""
    from trafficbigdatasearch_spark.operators import evalrank

    emb = load_table(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    ivf = similarity.ivf_topk(
        emb, qs, k=5, nprobe=2, centroid_stride=97, validate=True
    )
    exact = similarity.brute_force_topk(emb, qs, k=5)
    return evalrank.topk_overlap(ivf, exact, k=5)


@register(
    "rec_eval_holdout",
    """WITH ui AS (SELECT DISTINCT user_id,
                   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                     AS item_id
            FROM events
            WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                  IS NOT NULL),
       b AS (SELECT user_id, item_id,
                    ('0x' || substr(md5('eval' ||
                        CAST(user_id AS VARCHAR) || ':' ||
                        CAST(item_id AS VARCHAR)), 1, 7))::BIGINT
                      % 10000 AS bkt
             FROM ui),
       train AS (SELECT user_id, item_id FROM b WHERE bkt < 8000),
       test AS (SELECT user_id, item_id FROM b WHERE bkt >= 8000),
       co AS (SELECT a.item_id AS item_a, b.item_id AS item_b,
                     CAST(count(*) AS BIGINT) AS n_co
              FROM train a JOIN train b
                ON a.user_id = b.user_id AND a.item_id < b.item_id
              GROUP BY 1, 2 HAVING count(*) >= 2),
       sym AS (SELECT item_a AS item_id, item_b AS neighbor_id, n_co FROM co
               UNION ALL SELECT item_b, item_a, n_co FROM co),
       cand AS (SELECT t.user_id, sym.neighbor_id AS item_id,
                       CAST(SUM(sym.n_co) AS BIGINT) AS score
                FROM train t JOIN sym ON t.item_id = sym.item_id
                GROUP BY 1, 2),
       unseen AS (SELECT c.user_id, c.item_id, c.score
                  FROM cand c LEFT JOIN train tr
                    ON c.user_id = tr.user_id AND c.item_id = tr.item_id
                  WHERE tr.user_id IS NULL),
       recs AS (SELECT user_id, item_id,
                       CAST(row_number() OVER (PARTITION BY user_id
                              ORDER BY score DESC, item_id) AS BIGINT) AS rank
                FROM unseen QUALIFY rank <= 10),
       rel AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_relevant
               FROM test GROUP BY user_id),
       hits AS (SELECT r.user_id, CAST(min(r.rank) AS BIGINT) AS hit_rank
                FROM recs r JOIN test
                  ON r.user_id = test.user_id AND r.item_id = test.item_id
                GROUP BY r.user_id)
       SELECT rel.user_id, rel.n_relevant, hits.hit_rank,
              COALESCE(CAST(1.0 AS DOUBLE) / hit_rank,
                       CAST(0.0 AS DOUBLE)) AS rr
       FROM rel LEFT JOIN hits ON rel.user_id = hits.user_id""",
)
def rec_eval_holdout_q(spark, sf):
    """Leave-out evaluation of the item-based recommender: split the
    distinct interaction matrix 80/20 by md5 of the (user, item) PAIR
    (operators/evalrank.py::holdout_split — row-local, engine-portable
    membership), train co-occurrence on the 80 %, recommend top-10 per
    user, and report each holdout user's first-hit rank and reciprocal
    rank (rr = MRR's per-user term, left un-averaged — integer counts +
    one division per row is what hash-compares across engines; a float
    MEAN over unordered rows does not).  Users the trained model cannot
    reach (cold in the train split) are reported as misses with NULL
    hit_rank, not dropped — the honest-evaluation contract of
    evalrank.first_hit_rank.  This closes the recsys loop the round-7
    modules opened: train (rec_item_cosine) -> serve (rec_user_topn)
    -> measure (this row)."""
    from trafficbigdatasearch_spark.operators import evalrank, recsys

    ui = recsys.user_item(load_table(spark, sf, "events"))
    train, test = evalrank.holdout_split(ui, test_frac=0.2, salt="eval")
    recs = recsys.recommend_topn(train, n=10, min_co=2)
    return evalrank.first_hit_rank(recs, test)


@register(
    "eval_rec_hdcg",
    """WITH ui AS (SELECT DISTINCT user_id,
                   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                     AS item_id
            FROM events
            WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                  IS NOT NULL),
       b AS (SELECT user_id, item_id,
                    ('0x' || substr(md5('eval' ||
                        CAST(user_id AS VARCHAR) || ':' ||
                        CAST(item_id AS VARCHAR)), 1, 7))::BIGINT
                      % 10000 AS bkt
             FROM ui),
       train AS (SELECT user_id, item_id FROM b WHERE bkt < 8000),
       test AS (SELECT user_id, item_id FROM b WHERE bkt >= 8000),
       co AS (SELECT a.item_id AS item_a, b.item_id AS item_b,
                     CAST(count(*) AS BIGINT) AS n_co
              FROM train a JOIN train b
                ON a.user_id = b.user_id AND a.item_id < b.item_id
              GROUP BY 1, 2 HAVING count(*) >= 2),
       sym AS (SELECT item_a AS item_id, item_b AS neighbor_id, n_co FROM co
               UNION ALL SELECT item_b, item_a, n_co FROM co),
       cand AS (SELECT t.user_id, sym.neighbor_id AS item_id,
                       CAST(SUM(sym.n_co) AS BIGINT) AS score
                FROM train t JOIN sym ON t.item_id = sym.item_id
                GROUP BY 1, 2),
       unseen AS (SELECT c.user_id, c.item_id, c.score
                  FROM cand c LEFT JOIN train tr
                    ON c.user_id = tr.user_id AND c.item_id = tr.item_id
                  WHERE tr.user_id IS NULL),
       recs AS (SELECT user_id, item_id,
                       CAST(row_number() OVER (PARTITION BY user_id
                              ORDER BY score DESC, item_id) AS BIGINT) AS rank
                FROM unseen QUALIFY rank <= 10),
       rel AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_relevant
               FROM test GROUP BY user_id),
       dcg AS (SELECT r.user_id,
                      CAST(SUM(27720 // (1 + r.rank)) AS BIGINT) AS dcg_num
               FROM recs r JOIN test
                 ON r.user_id = test.user_id AND r.item_id = test.item_id
               GROUP BY r.user_id),
       ideal AS (SELECT rel.user_id,
                        CAST(SUM(27720 // (1 + g.range)) AS BIGINT)
                          AS idcg_num
                 FROM rel, range(1, 11) AS g
                 WHERE g.range <= least(rel.n_relevant, 10)
                 GROUP BY rel.user_id)
       SELECT rel.user_id, rel.n_relevant,
              CAST(COALESCE(dcg.dcg_num, 0) AS BIGINT) AS dcg_num,
              ideal.idcg_num,
              CAST(COALESCE(dcg.dcg_num, 0) AS DOUBLE) / idcg_num AS hdcg
       FROM rel
       JOIN ideal ON rel.user_id = ideal.user_id
       LEFT JOIN dcg ON rel.user_id = dcg.user_id""",
)
def eval_rec_hdcg_q(spark, sf):
    """Position-sensitive holdout evaluation, ORACLE-HASHED (evalrank.
    hdcg_at_k, closing verdict r7 #8): harmonic-discount cumulative gain
    over the same 80/20 md5 holdout and top-10 recommendations as
    rec_eval_holdout.  The discount 1/(1+rank) is RATIONAL, so with
    D = lcm(2..11) = 27720 every gain term is an exact integer and the
    per-user dcg/idcg are order-independent INTEGER sums — where NDCG's
    1/log2(1+rank) is platform math and stays pytest-pinned.  hdcg =
    dcg_num/idcg_num is one closing IEEE division of two exact integers,
    bit-identical across engines; the evaluation family is now 100%
    oracle-verifiable (MRR term via rec_eval_holdout, recall@k via
    eval_ivf_recall, position-sensitive gain via this row)."""
    from trafficbigdatasearch_spark.operators import evalrank, recsys

    ui = recsys.user_item(load_table(spark, sf, "events"))
    train, test = evalrank.holdout_split(ui, test_frac=0.2, salt="eval")
    recs = recsys.recommend_topn(train, n=10, min_co=2)
    return evalrank.hdcg_at_k(recs, test, k=10)


@register(
    "s_zorder_skipping",
    """SELECT event_id, user_id,
              CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
       FROM events
       WHERE user_id >= 2 AND user_id < 10
         AND epoch_ms(ts) >= 1704672000000
         AND epoch_ms(ts) <  1705276800000""",
)
def s_zorder_skipping_q(spark, sf):
    """Multi-dimensional data skipping (sources/parquet.py write_zordered +
    read_pruned_box): events rewritten once per process into a Z-ordered
    layout on (user_id, ts_ms) — every file covers a compact TILE in both
    dimensions — then a 2-D box (a user band x one week) read through
    planning-time sidecar pruning with per-dimension overlap tests.  A 1-D
    clustering makes only its own column's bounds tight: a 2-D box still
    opens every file in the matching 1-D slab, which at 100 TB is the
    difference between opening a few tiles and scanning a whole
    user-range stripe.  Row-identical to the unpruned scan — the oracle
    is the plain box filter; tiles-actually-skip is pinned in
    tests/test_sources.py."""
    import os

    from trafficbigdatasearch_spark.sources import parquet as P

    key = ("zorder", sf)
    if key not in _SKIP_LAYOUT_CACHE:
        d = _scratch("zorder_layout", sf)
        layout = os.path.join(d, "events_zordered")
        ev = load_table(spark, sf, "events").select(
            "event_id",
            "user_id",
            F.unix_millis(F.col("ts")).alias("ts_ms"),
        )
        # ~10 tiles at sf0.01 (and 1 plain file at sf0.001 — pruning is an
        # optimization, row-identity holds at any file count)
        P.write_zordered(
            ev, layout, ["user_id", "ts_ms"], rows_per_file=1024
        )
        sidecar = P.build_minmax_sidecar(spark, layout, ["user_id", "ts_ms"])
        sidecar_path = os.path.join(d, "sidecar")
        sidecar.write.mode("overwrite").parquet(sidecar_path)
        _SKIP_LAYOUT_CACHE[key] = (layout, sidecar_path)
    layout, sidecar_path = _SKIP_LAYOUT_CACHE[key]
    return P.read_pruned_box(
        spark,
        layout,
        spark.read.parquet(sidecar_path),
        [
            ("user_id", 2, 10),
            ("ts_ms", 1704672000000, 1705276800000),
        ],
    ).select("event_id", "user_id", "ts_ms")


_TREND_ORACLE = """WITH t AS (SELECT event_type,
                  CAST(epoch_ms(ts) // 1000 - 1704067200 AS HUGEINT) AS x,
                  CAST(round(value * 100) AS HUGEINT) AS y
           FROM events),
       a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                    SUM(x) AS sx, SUM(y) AS sy,
                    SUM(x * y) AS sxy, SUM(x * x) AS sxx
             FROM t GROUP BY event_type)
       SELECT event_type, n,
              (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
              NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) AS slope,
              CAST(sy AS DOUBLE) /
              (CAST(n AS DOUBLE) * CAST(100.0 AS DOUBLE)) AS mean_y
       FROM a"""


@register("ts_trend_per_key", _TREND_ORACLE)
def ts_trend_per_key_q(spark, sf):
    """Per-key least-squares trend of the event value stream
    (operators/timeseries.py::trend_per_key) — the drift-screening pass
    run before any heavier modeling: slope in cent-units/second + mean
    level per event_type.  The five sufficient statistics are EXACT
    decimal integer sums (x = seconds since 2024-01-01 resolved as UTC
    driver-side, y = cent-quantized value — the cent-sum policy extended
    to second moments), so one map-side-combined shuffle computes them
    order-independently at any parallelism; only the closing slope
    algebra runs in double as a fixed IEEE cast/multiply/divide sequence
    the oracle mirrors term-for-term."""
    from trafficbigdatasearch_spark.operators import timeseries as TS

    return TS.trend_per_key(load_table(spark, sf, "events"))


@register(
    "a_ab_conversion",
    """WITH u AS (SELECT user_id,
                    CAST(max(CASE WHEN event_type = 'purchase'
                             AND value >= 90 THEN 1 ELSE 0 END)
                         AS BIGINT) AS conv
             FROM events GROUP BY user_id),
       lab AS (SELECT *,
                 CASE WHEN ('0x' || substr(md5('exp' ||
                           CAST(user_id AS VARCHAR)), 1, 7))::BIGINT
                           % 10000 < 5000
                      THEN 'control' ELSE 'treatment' END AS arm
               FROM u),
       s AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
                    CAST(SUM(conv) AS BIGINT) AS n_converted
             FROM lab GROUP BY arm),
       one AS (SELECT
                 SUM(CASE WHEN arm = 'control' THEN n_users END) AS n_a,
                 SUM(CASE WHEN arm = 'control' THEN n_converted END) AS conv_a,
                 SUM(CASE WHEN arm = 'treatment' THEN n_users END) AS n_b,
                 SUM(CASE WHEN arm = 'treatment' THEN n_converted END) AS conv_b
               FROM s)
       SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
              CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
              CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
              CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
              (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
               - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
              NULLIF(sqrt(
                (CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                * (CAST(1.0 AS DOUBLE)
                   - CAST(conv_a + conv_b AS DOUBLE)
                     / CAST(n_a + n_b AS DOUBLE))
                * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
                   + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))), 0) AS z
       FROM one""",
)
def a_ab_conversion_q(spark, sf):
    """Deterministic A/B experiment read-out (operators/abtest.py): users
    assigned 50/50 to arms by md5 range of the user id (sticky, engine-
    portable — never rand()), conversion = >= 1 HIGH-VALUE purchase per
    USER (value >= 90 — the plain any-purchase event saturates at 100 %
    conversion in this corpus, which would make every z degenerate)
    (the distinct-user collapse guarding against heavy-user bias), folded
    into one row with the pooled two-proportion z statistic.  The z is a
    fixed IEEE op chain over four integer counts, mirrored term-for-term
    in the oracle; degenerate designs give NULL z via try_divide.  Plan:
    one user-collapse shuffle + one 2-row fold — nothing data-sized
    reaches the driver."""
    from trafficbigdatasearch_spark.operators import abtest

    summary = abtest.conversion_by_arm(
        load_table(spark, sf, "events"),
        (F.col("event_type") == "purchase") & (F.col("value") >= 90),
        {"control": 0.5, "treatment": 0.5},
        salt="exp",
    )
    return abtest.two_proportion_z(summary, "control", "treatment")


@register("ts_trend_incremental", _TREND_ORACLE)
def ts_trend_incremental_q(spark, sf):
    """The INCREMENTAL arrangement of ts_trend_per_key, proven through the
    driver: the month is sliced into three disjoint epoch ranges (UTC
    second cuts, zone-independent), each slice collapses to its five-moment
    trend state (timeseries.trend_partial), the states merge
    (trend_merge), and the closing algebra runs on kilobytes
    (trend_finalize).  Because the moments are exact integer sums, the
    sliced-merged result is BIT-IDENTICAL to the single-pass query — the
    oracle is literally ts_trend_per_key's, which is the whole point: at
    100 TB history collapses to state once, and each new day costs one
    partial + one kilobyte merge (the operators/incremental.py posture,
    extended from first to second moments)."""
    from trafficbigdatasearch_spark.operators import timeseries as TS

    ev = load_table(spark, sf, "events")
    us = F.unix_seconds(F.col("ts"))
    c1, c2 = 1704931200, 1705795200  # 2024-01-11, 2024-01-21 UTC
    parts = [
        TS.trend_partial(ev.filter(us < c1)),
        TS.trend_partial(ev.filter((us >= c1) & (us < c2))),
        TS.trend_partial(ev.filter(us >= c2)),
    ]
    return TS.trend_finalize(TS.trend_merge(parts))


@register("stream_trend", _TREND_ORACLE)
def stream_trend_q(spark, sf):
    """The STREAMING arrangement of ts_trend_per_key: the same five-moment
    state lives in the streaming aggregation's state store (decimal sums
    are associative+commutative, exactly what streaming state needs),
    drained complete over the bounded events stream, finalized on the
    drained kilobytes.  One oracle pins all three arrangements — batch,
    incremental-merge, streaming — to the same bits, which is the payoff
    of sufficient-statistics design: the 100 TB deployment keeps the
    trend LIVE per key at O(keys) state with no recompute."""
    from trafficbigdatasearch_spark.operators import timeseries as TS

    src = _stream_events_source(spark, sf)
    drained = _drain_to_memory(TS.trend_partial(src), "stream_trend")
    return TS.trend_finalize(drained)


_LM_FILTER_ORACLE = f"""WITH qf AS (SELECT doc_id, lang, text FROM documents
                  WHERE {_TOKCOUNT_SQL} >= 5),
       toks AS (SELECT doc_id, {_GUARDED_TOKS} AS t FROM qf),
       tt AS (SELECT doc_id, list_filter(t, x -> x <> '') AS t FROM toks),
       pos AS (SELECT doc_id, unnest(t) AS term,
                      generate_subscripts(t, 1) AS p FROM tt),
       bg AS (SELECT a.doc_id, a.term AS w1, b.term AS w2
              FROM pos a JOIN pos b
                ON a.doc_id = b.doc_id AND b.p = a.p + 1),
       lm AS (SELECT bg.w1, bg.w2 FROM bg JOIN qf USING (doc_id)
              WHERE qf.lang = 'en'
              GROUP BY 1, 2 HAVING count(*) >= 10),
       sc AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS nb,
                     CAST(SUM(CASE WHEN lm.w1 IS NOT NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS nk
              FROM bg LEFT JOIN lm
                ON bg.w1 = lm.w1 AND bg.w2 = lm.w2
              GROUP BY bg.doc_id)
       SELECT qf.doc_id, qf.lang
       FROM qf JOIN sc USING (doc_id)
       WHERE CAST(nk AS DOUBLE) / CAST(nb AS DOUBLE) >= 0.85"""


@register("pipeline_lm_filter", _LM_FILTER_ORACLE)
def pipeline_lm_filter_q(spark, sf):
    """The LM fluency gate COMPOSED as a curation pass
    (CorpusPipeline.quality_gate -> lm_gate): token floor first, then a
    bigram model trained on the gated ENGLISH slice (min_count=10 — high
    enough that only genuinely frequent constructions count as "known",
    giving the coverage score real spread) gates every document at
    coverage >= 0.85 — the CCNet arrangement: trusted-corpus model,
    whole-corpus scoring, threshold keep.  One declarative plan: gate
    filter fused into the scan, bounded model shuffle, broadcast-scored
    pass, semi-join keep.  Both stages are already-oracle-verified
    operators; this row verifies their composition, like
    pipeline_clean_corpus does for the dedup chain."""
    from trafficbigdatasearch_spark.pipeline import CorpusPipeline

    docs = load_table(spark, sf, "documents")
    # materialize(): the gated frame feeds model training, scoring, and
    # the closing semi join — one evaluation instead of three re-derived
    # scans (r9 scan-hygiene audit)
    p = CorpusPipeline(docs).quality_gate(min_tokens=5).materialize()
    trusted = p.df.filter(F.col("lang") == "en").select("doc_id", "text")
    return (
        p.lm_gate(trusted, min_coverage=0.85, min_count=10)
        .df.select("doc_id", "lang")
    )


@register(
    "sim_token_cosine",
    f"""WITH toks AS (SELECT doc_id, {_GUARDED_TOKS} AS t FROM documents),
       tt AS (SELECT doc_id, list_filter(t, x -> x <> '') AS t FROM toks),
       p AS (SELECT doc_id, lower(unnest(t)) AS term FROM tt),
       tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM p GROUP BY 1, 2),
       nrm AS (SELECT doc_id, CAST(SUM(tf*tf) AS BIGINT) AS nrm
               FROM tf GROUP BY 1),
       dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM tf a
                JOIN dfq ON dfq.term = a.term
                            AND dfq.df BETWEEN 2 AND 600
                JOIN tf b ON b.term = a.term AND a.doc_id < b.doc_id),
       dotp AS (SELECT c.id_a, c.id_b,
                       CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
                FROM cand c
                JOIN tf a ON a.doc_id = c.id_a
                JOIN tf b ON b.doc_id = c.id_b AND b.term = a.term
                GROUP BY 1, 2)
       SELECT id_a, id_b, dot, na.nrm AS norm_a, nb.nrm AS norm_b,
              CAST(dot AS DOUBLE) /
                (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
                AS cosine
       FROM dotp
       JOIN nrm na ON na.doc_id = id_a
       JOIN nrm nb ON nb.doc_id = id_b
       WHERE 100::HUGEINT * dot::HUGEINT * dot::HUGEINT
             >= 81::HUGEINT * na.nrm::HUGEINT * nb.nrm::HUGEINT""",
)
def sim_token_cosine_q(spark, sf):
    """Sparse cosine-similarity join over token-count vectors
    (operators/dedup.py::token_cosine_pairs, r9) — the bag-of-words twin
    of the Jaccard joins: pairs whose term-frequency profiles are
    near-parallel (cosine >= 0.9) even when shingle sets diverge under
    reordering.  The AllPairs/DIMSUM-family primitive with the module's
    determinism treatment: dot and squared norms are order-independent
    integer sums, the threshold is the rational 9/10 cross-multiplied
    into a pure DECIMAL(38,0)/HUGEINT predicate (q²·dot² >= p²·na·nb —
    no float touches the filter), and the reported cosine is one closing
    IEEE chain (sqrt is correctly rounded, so it hash-compares).
    Registered AT ITS DESIGN REGIME with max_term_df=600 — the guard
    that bounds per-term pair fan-out at corpus scale — and the ORACLE
    MIRRORS the generate-then-verify arrangement exactly (candidates
    from shared rare terms, dot over the full vectors), so the row
    certifies the guard's recall contract at every SF, not just the
    identity path (the rec_item_cosine_capped precedent; an unguarded
    registration measured 107 s at sf0.1 — the tiny synthetic
    vocabulary makes every term stopword-grade, the exact skew the
    guard exists for).  At sf0.01 every df <= 500, the guard never
    fires, and the row equals the exact join.  The cap is MANDATORY at
    scale; the sizing rule (cap²/2 per-term pair bound, Zipf-head
    recall reasoning) is SCALING.md's "Sparse token-cosine join" row."""
    return dedup.token_cosine_pairs(
        load_table(spark, sf, "documents"),
        threshold=(9, 10),
        max_term_df=600,
    )


@register(
    "pipeline_training_mix",
    _LM_FILTER_ORACLE.replace(
        """       SELECT qf.doc_id, qf.lang
       FROM qf JOIN sc USING (doc_id)
       WHERE CAST(nk AS DOUBLE) / CAST(nb AS DOUBLE) >= 0.85""",
        f""",
       kept AS (SELECT qf.doc_id, d.source, d.text
               FROM qf JOIN sc USING (doc_id)
               JOIN documents d USING (doc_id)
               WHERE CAST(nk AS DOUBLE) / CAST(nb AS DOUBLE) >= 0.85),
       nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_g
              FROM kept GROUP BY 1),
       mn AS (SELECT min(n_g) AS n_min FROM nd),
       bal AS (SELECT k.doc_id, k.source, k.text
               FROM kept k
               JOIN nd ON k.source IS NOT DISTINCT FROM nd.source
               CROSS JOIN mn
               WHERE (('0x' || substr(md5('mix' ||
                         CAST(k.doc_id AS VARCHAR)), 1, 7))::BIGINT
                       % 10000)::HUGEINT
                     * (('0x' || substr(md5('mix' ||
                         CAST(k.doc_id AS VARCHAR)), 1, 7))::BIGINT
                       % 10000)::HUGEINT
                     * n_g::HUGEINT
                     < 10000::HUGEINT * 10000::HUGEINT * n_min::HUGEINT),
       t AS (SELECT doc_id, source,
                    CAST({_TOKCOUNT_SQL} AS BIGINT) AS n_tokens
             FROM bal),
       c AS (SELECT doc_id, source, n_tokens,
                    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS excl
             FROM t)
       SELECT doc_id, source, n_tokens,
              CAST(excl // 1024 AS BIGINT) AS pack_id,
              CAST(excl % 1024 AS BIGINT) AS pack_offset
       FROM c""",
    ),
)
def pipeline_training_mix_q(spark, sf):
    """The COMPLETE training-data export, one oracle row (r9): quality
    gate (token floor) -> LM fluency gate (CCNet arrangement: bigram
    model on the trusted English slice, coverage >= 0.85 on everything)
    -> temperature rebalance across sources (the XLM-R alpha=1/2 recipe,
    exact integer membership) -> sequence packing onto 1024-token packs
    (two-level distributed prefix sum, no global sort).  This is the row
    a pretraining user actually runs end-to-end; the three stages are
    individually oracle-verified (pipeline_lm_filter, sample_temperature,
    pack_sequences) and this certifies their COMPOSITION — membership,
    rebalance arithmetic, and every pack offset — in one hash.  The plan
    stays fully declarative: gate filters fuse into the scan, the model
    and rate tables broadcast, and only the packing's bucket summary adds
    a (tiny) second exchange.  The two multi-consumer stage boundaries
    (kept feeds the rate counts + the rebalance join; balanced feeds the
    packing's two prefix-sum branches + the closing source join) are
    lazily localCheckpointed — the recsys pattern — pinning each stage
    to ONE evaluation instead of re-deriving the whole upstream chain
    per branch (24 -> ~5 corpus scans measured at registration)."""
    from trafficbigdatasearch_spark.pipeline import CorpusPipeline

    docs = load_table(spark, sf, "documents")
    p = CorpusPipeline(docs).quality_gate(min_tokens=5).materialize()
    trusted = p.df.filter(F.col("lang") == "en").select("doc_id", "text")
    kept = p.lm_gate(trusted, min_coverage=0.85, min_count=10).df
    kept = kept.localCheckpoint(eager=False)
    balanced = sampling.temperature_sample(
        kept, "source", key_col="doc_id", alpha=(1, 2), salt="mix"
    ).localCheckpoint(eager=False)
    packed = packing.pack_sequences(balanced, budget=1024, bucket_size=256)
    return packed.join(
        balanced.select("doc_id", "source"), "doc_id"
    ).select("doc_id", "source", "n_tokens", "pack_id", "pack_offset")


@register(
    "text_doc_keywords",
    f"""WITH toks AS (SELECT doc_id, {_GUARDED_TOKS} AS t FROM documents),
       tt AS (SELECT doc_id, list_filter(t, x -> x <> '') AS t FROM toks),
       p AS (SELECT doc_id, unnest(t) AS term FROM tt),
       tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM p GROUP BY 1, 2),
       dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
               FROM tf GROUP BY term),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       s AS (SELECT doc_id, term, tf, df,
                    CAST(tf * n AS DOUBLE) / df AS score
             FROM tf JOIN dfq USING (term), nn)
       SELECT doc_id, term, tf, df, score,
              CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY score DESC, term) AS BIGINT) AS rank
       FROM s QUALIFY rank <= 3""",
)
def text_doc_keywords_q(spark, sf):
    """Per-document keyword extraction (operators/search.py::doc_keywords):
    every doc's top-3 characteristic terms by tf x (N/df) — the inversion
    of tfidf_topk's per-term ranking, labeling the whole corpus in one
    declarative plan.  The df table is the WHOLE vocabulary (not a query's
    terms), so the tf<-df join runs AQE-sized on the term rather than
    broadcast — the honest at-scale default the operator documents.  Raw-
    ratio idf and row_number ties on the term keep rows hash-stable."""
    from trafficbigdatasearch_spark.operators import search

    return search.doc_keywords(load_table(spark, sf, "documents"), k=3)


@register(
    "rec_negatives",
    """WITH ui AS (SELECT DISTINCT user_id,
                   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                     AS item_id
            FROM events
            WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                  IS NOT NULL),
       cat AS (SELECT item_id,
                      CAST(row_number() OVER (ORDER BY item_id) - 1
                           AS BIGINT) AS _idx
               FROM (SELECT DISTINCT item_id FROM ui)),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM cat),
       slots AS (SELECT unnest(range(4)) AS slot),
       cand AS (SELECT ui.user_id, ui.item_id AS pos_item_id,
                       CAST(slot AS BIGINT) AS slot,
                       ('0x' || substr(md5('neg' ||
                           CAST(ui.user_id AS VARCHAR) || ':' ||
                           CAST(ui.item_id AS VARCHAR) || ':' ||
                           CAST(slot AS VARCHAR)), 1, 7))::BIGINT
                         % n_items AS _idx
                FROM ui CROSS JOIN slots CROSS JOIN nn),
       wi AS (SELECT c.user_id, c.pos_item_id, c.slot,
                     cat.item_id AS neg_item_id
              FROM cand c JOIN cat USING (_idx))
       SELECT w.user_id, w.pos_item_id, w.slot, w.neg_item_id
       FROM wi w LEFT JOIN ui p
         ON w.user_id = p.user_id AND w.neg_item_id = p.item_id
       WHERE p.user_id IS NULL""",
)
def rec_negatives_q(spark, sf):
    """Deterministic negative sampling for contrastive recommender
    training (operators/recsys.py::sample_negatives): 4 md5-drawn catalog
    negatives per positive interaction, collisions with the user's own
    positives dropped by one anti join.  The draw is a row-local md5
    expression over (salt, user:item:slot) — identical under retries,
    repartitioning, and in the oracle; the catalog's dense index is ONE
    bounded global window (items, never events — the vocab top-V
    posture) shipped broadcast to the slot-exploded positives.  Completes
    the training-data side of the recsys story: interactions ->
    positives + sampled negatives -> holdout evaluation."""
    from trafficbigdatasearch_spark.operators import recsys

    ui = recsys.user_item(load_table(spark, sf, "events"))
    return recsys.sample_negatives(ui, k=4, salt="neg")


@register(
    "sim_ivf_adc_topk",
    f"""WITH {_pq_codes_cte()},
       {_pq_adc_cte()},
       coarse AS (SELECT vec_id AS ccell, v AS cmv FROM c
                  WHERE vec_id % 97 = 0),
       casim AS (SELECT c.vec_id AS nid, ccell,
                        {_COS.format(a='v', b='cmv')} AS s
                 FROM c CROSS JOIN coarse),
       cassign AS (SELECT nid, ccell FROM (
           SELECT *, row_number() OVER (PARTITION BY nid
                        ORDER BY s DESC, ccell ASC) AS cr
           FROM casim) t WHERE cr = 1),
       cprobe AS (SELECT query_id, ccell FROM (
           SELECT q.query_id, ccell, {_COS.format(a='qv', b='cmv')} AS s,
                  row_number() OVER (PARTITION BY query_id
                        ORDER BY s DESC, ccell ASC) AS pr
           FROM q CROSS JOIN coarse) t2 WHERE pr <= 2),
       cand AS (SELECT cprobe.query_id, cassign.nid AS neighbor_id
                FROM cprobe JOIN cassign USING (ccell)
                WHERE cassign.nid <> cprobe.query_id),
       fine AS (SELECT adc.query_id, adc.neighbor_id, adc.adc_dist
                FROM adc JOIN cand USING (query_id, neighbor_id)),
       fr AS (SELECT query_id, neighbor_id, adc_dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY adc_dist, neighbor_id) AS rn
              FROM fine)
       SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rnk, adc_dist
       FROM fr WHERE rn <= 5""",
)
def sim_ivf_adc_topk_q(spark, sf):
    """IVFADC (operators/similarity.py::ivf_adc_topk — Jégou et al., PAMI
    2011), THE production ANN arrangement, composed from the registry's
    two proven halves: the IVF coarse quantizer prunes each query to
    nprobe=2 cells, and PQ asymmetric distance ranks ONLY the candidates
    inside them — the corpus is touched as m=8 integer codes per vector,
    never as vectors, and only ~nprobe/n_cells of it per query.  Both
    quantizers are deterministic stride samples and every distance is an
    exact integer on the quantized lattice, so the whole composition
    hash-compares against the composed oracle (coarse CTEs x the shared
    PQ codes/ADC CTEs).  nprobe buys candidate coverage, m buys ranking
    fidelity — the two independent recall knobs of a deployed ANN tier."""
    emb = load_table(spark, sf, "embeddings")
    # kernel="gemm": the coarse assignment + PQ encode legs run through the
    # bit-identical Arrow numpy kernels (the GEMM branch of
    # similarity._nearest_cell, and similarity._pq_codes_gemm) — r14 interleaved A/B 4.03 -> 2.66 s at sf0.1 and
    # 7.37 -> 2.86 s at the 5x fixture; parity pinned in tests and by this
    # row's oracle hash
    return similarity.ivf_adc_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, nprobe=2, m=8,
        centroid_stride=97, kernel="gemm",
    ).withColumnRenamed("rank", "rnk")


def _ppr_oracle() -> str:
    base = ((20 - 17) * _PR_SCALE) // (20 * 10)
    parts = [
        f"e AS (SELECT range AS u, (range*range) % {_PR_N} AS v "
        f"FROM range({_PR_N}))",
        "nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e)",
        "deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u)",
        f"r0 AS (SELECT id, CAST(CASE WHEN id < 10 THEN {_PR_SCALE // 10} "
        "ELSE 0 END AS BIGINT) AS rank FROM nodes)",
    ]
    for k in range(1, 4):
        parts.append(
            f"s{k} AS (SELECT e.v, SUM(r{k-1}.rank // deg.d) AS s "
            f"FROM e JOIN r{k-1} ON r{k-1}.id = e.u "
            "JOIN deg ON deg.u = e.u GROUP BY e.v)"
        )
        parts.append(
            f"r{k} AS (SELECT nodes.id, "
            f"CAST((CASE WHEN nodes.id < 10 THEN {base} ELSE 0 END) "
            f"+ (17 * COALESCE(s{k}.s, 0)) // 20 AS BIGINT) "
            f"AS rank FROM nodes LEFT JOIN s{k} ON s{k}.v = nodes.id)"
        )
    return "WITH " + ",\n       ".join(parts) + "\n       SELECT id, rank FROM r3"


@register("graph_ppr", _ppr_oracle())
def graph_ppr_q(spark, sf):
    """PERSONALIZED PageRank (operators/graph.py::
    personalized_pagerank_integer): teleport mass returns to the 10-node
    seed set instead of all nodes, so ranks measure proximity to the
    seeds — the related-items / local-relevance query global PageRank
    cannot answer.  Same integer-exact arithmetic (scaled bigints,
    rational damping, floor division) and per-round shape (one hash join
    + one map-side-combined aggregate, lazy checkpoint) as
    graph_pagerank, so the 3-step power iteration is bit-identical to
    the unrolled CTE oracle; seeds ship broadcast — a query parameter,
    not data."""
    from trafficbigdatasearch_spark.operators import graph as G

    ids = spark.range(_PR_N)
    edges = ids.select(
        F.col("id").alias("u"), ((F.col("id") * F.col("id")) % _PR_N).alias("v")
    )
    return G.personalized_pagerank_integer(
        edges, ids.filter(F.col("id") < 10), n_iter=3, scale=_PR_SCALE
    )


@register(
    "dedup_semantic_ivf",
    f"""WITH c AS (SELECT vec_id, {_QVEC} AS v FROM embeddings),
       cent AS (SELECT vec_id AS cell_id, v AS mv FROM c
                WHERE vec_id % 97 = 0),
       asim AS (SELECT c.vec_id AS nid, cell_id,
                       {_COS.format(a='v', b='mv')} AS s
                FROM c CROSS JOIN cent),
       assign AS (SELECT nid, cell_id FROM (
           SELECT *, row_number() OVER (PARTITION BY nid
                        ORDER BY s DESC, cell_id ASC) AS r
           FROM asim) t WHERE r = 1),
       pairs AS (SELECT a.nid AS id_a, b.nid AS id_b,
                        {_COS.format(a='ca.v', b='cb.v')} AS score
                 FROM assign a JOIN assign b
                   ON a.cell_id = b.cell_id AND a.nid < b.nid
                 JOIN c ca ON ca.vec_id = a.nid
                 JOIN c cb ON cb.vec_id = b.nid)
       SELECT id_a, id_b, score FROM pairs WHERE score >= 0.4""",
)
def dedup_semantic_ivf_q(spark, sf):
    """Semantic near-dup pairs blocked by IVF CELL membership
    (similarity.ivf_cell_assignments + embedding_near_dup_pairs): the
    at-scale arrangement where the blocking fabric itself is
    similarity-aware — cells group cosine-similar vectors, so within-cell
    pair generation FINDS MORE true near-dups than arbitrary metadata
    blocking (measured on this corpus: 24 pairs at the established 0.4
    threshold vs label blocking's 5) while still never going all-pairs.
    Assignment is one broadcast argmin pass; scoring is the shared
    Arrow-batched GEMM kernel, chunked per block.  Same threshold
    rationale as sim_embedding_near_dup (round-1 finding: this synthetic
    corpus tops out near cosine 0.5)."""
    emb = load_table(spark, sf, "embeddings")
    cells = similarity.ivf_cell_assignments(emb)
    return similarity.embedding_near_dup_pairs(
        emb.join(cells, "vec_id"), threshold=0.4, block_col="cell_id"
    )


@register(
    "dedup_semantic_incremental",
    f"""WITH corp AS (SELECT vec_id, label, {_QVEC} AS v FROM embeddings
                    WHERE vec_id % 5 <> 0),
       nw AS (SELECT vec_id, label, {_QVEC} AS v FROM embeddings
              WHERE vec_id % 5 = 0),
       cent AS (SELECT vec_id AS cell_id, v AS mv FROM corp
                WHERE vec_id % 97 = 0),
       casgn AS (SELECT nid AS cid, cell_id FROM (
           SELECT corp.vec_id AS nid, cell_id,
                  row_number() OVER (PARTITION BY corp.vec_id
                    ORDER BY {_COS.format(a='corp.v', b='cent.mv')} DESC,
                             cell_id ASC) AS r
           FROM corp CROSS JOIN cent) t WHERE r = 1),
       nasgn AS (SELECT nid, cell_id FROM (
           SELECT nw.vec_id AS nid, cell_id,
                  row_number() OVER (PARTITION BY nw.vec_id
                    ORDER BY {_COS.format(a='nw.v', b='cent.mv')} DESC,
                             cell_id ASC) AS r
           FROM nw CROSS JOIN cent) t WHERE r <= 2),
       flagged AS (SELECT DISTINCT na.nid
                   FROM nasgn na
                   JOIN casgn ca ON ca.cell_id = na.cell_id
                   JOIN nw ON nw.vec_id = na.nid
                   JOIN corp ON corp.vec_id = ca.cid
                   WHERE {_COS.format(a='nw.v', b='corp.v')} >= 0.4)
       SELECT vec_id, label FROM nw
       WHERE vec_id NOT IN (SELECT nid FROM flagged)""",
)
def dedup_semantic_incremental_q(spark, sf):
    """INCREMENTAL semantic dedup (similarity.semantic_incremental_dedup):
    every 5th embedding plays the NEW ingestion batch, the rest the
    indexed corpus; new vectors with a cosine >= 0.4 near-duplicate in
    the corpus (candidates restricted to the new vector's 2 best IVF
    cells under the CORPUS-derived stride quantizer, nprobe=2 — the
    persisted-index posture) are dropped, the remainder kept.  Completes
    the dedup matrix: within-corpus semantic (dedup_semantic_ivf) x
    incremental text (dedup_incremental) -> incremental semantic.  Both
    assignments are broadcast passes; the only data-sized join is keyed
    on cell_id; same 0.4 threshold rationale as the rest of the
    embedding family (this synthetic corpus tops out near cosine 0.5).
    Measured recall of the flag set vs exhaustive brute force at sf0.1:
    nprobe 1/2/4 -> 0.30/0.46/0.64 — low-by-construction on these
    near-uniform synthetic embeddings (the IVFADC grid's standing
    caveat); nprobe is the documented recall/cost dial, and the oracle
    certifies the nprobe=2 semantics exactly."""
    emb = load_table(spark, sf, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    return similarity.semantic_incremental_dedup(
        corpus, new, threshold=0.4, nprobe=2
    ).select("vec_id", "label")


@register(
    "sim_dim_stats",
    f"""WITH q AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
                        list_transform(embedding,
                          x -> CAST(round(CAST(x AS DOUBLE) * 10000)
                                    AS BIGINT)) AS v
              FROM embeddings),
       ex AS (SELECT i AS dim, v[i + 1] AS val
              FROM (SELECT v, unnest(range(0, len(v))) AS i FROM q)),
       a AS (SELECT CAST(dim AS BIGINT) AS dim,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(val) AS BIGINT) AS sum_q,
                    CAST(sum(val * val) AS BIGINT) AS sumsq_q
             FROM ex GROUP BY 1)
       SELECT dim, n, sum_q, sumsq_q,
              CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 AS mean,
              (CAST(sumsq_q AS DOUBLE)
               - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE)
                 / CAST(n AS DOUBLE))
              / CAST(n AS DOUBLE) / 100000000.0 AS variance
       FROM a""",
)
def sim_dim_stats_q(spark, sf):
    """Per-dimension embedding moments (similarity.embedding_dim_stats):
    the feature-normalization statistics computed before indexing or
    quantizer training — mean-centering offsets, variance scales,
    dead-dimension detection.  Components quantize to the 1e-4 integer
    lattice first, so the per-dim sum and sum-of-squares are EXACT
    integer aggregates (order/partition/retry-independent) and mean /
    population variance are fixed IEEE op sequences over exact integers
    — bit-identical in DuckDB, where a float SUM over raw components
    would not hash.  One posexplode + one map-side-combined (dim)
    aggregate; shuffle rows = dims x partials, output = one row per
    dimension."""
    return similarity.embedding_dim_stats(
        load_table(spark, sf, "embeddings")
    )


@register(
    "q18_large_orders",
    """WITH big AS (SELECT l_orderkey FROM lineitem
                  GROUP BY 1 HAVING SUM(CAST(l_quantity AS BIGINT)) > 200),
       q AS (SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                    o.o_totalprice,
                    CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT)
                      AS sum_qty
             FROM customer c
             JOIN orders o ON c.c_custkey = o.o_custkey
             JOIN lineitem l ON o.o_orderkey = l.l_orderkey
             WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
             GROUP BY 1, 2, 3, 4, 5)
       SELECT * FROM q
       ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""",
)
def q18_large_orders_q(spark, sf):
    """TPC-H Q18 (large-volume orders): a HAVING-on-aggregate subquery
    becomes an aggregate -> LEFT SEMI join on the fact key — the
    decorrelated shape (same treatment as q4's EXISTS) — then customer
    broadcasts onto the surviving orders and the per-order quantity
    re-aggregates.  Quantities cast to BIGINT before summing (integral
    by data contract; a double SUM would be order-dependent and
    un-hashable), and the top-100 cut is a deterministic
    TakeOrderedAndProject on (totalprice DESC, date, orderkey) — never a
    global sort.  The semi join's build side is the HAVING survivors
    (~6 % of orders at threshold 200), exactly the selective-filter
    regime runtime bloom pruning targets at scale."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    qty = F.col("l_quantity").cast("bigint")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("_q"))
        .filter(F.col("_q") > 200)
        .select("l_orderkey")
    )
    surviving = orders.join(
        big, orders["o_orderkey"] == big["l_orderkey"], "left_semi"
    )
    return (
        surviving.join(
            F.broadcast(cust),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(F.sum(qty).cast("bigint").alias("sum_qty"))
        .orderBy(
            F.col("o_totalprice").desc(),
            F.col("o_orderdate").asc(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
    )


@register(
    "text_collocations",
    f"""WITH toks AS (SELECT doc_id, {_GUARDED_TOKS} AS t FROM documents),
       tt AS (SELECT doc_id, list_filter(t, x -> x <> '') AS t FROM toks),
       pos AS (SELECT doc_id, unnest(t) AS term,
                      generate_subscripts(t, 1) AS p FROM tt),
       bg AS (SELECT a.doc_id, a.term AS w1, b.term AS w2
              FROM pos a JOIN pos b
                ON a.doc_id = b.doc_id AND b.p = a.p + 1),
       pairs AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
                 FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
       l AS (SELECT w1, CAST(count(*) AS BIGINT) AS n_w1
             FROM bg GROUP BY 1),
       r AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_w2
             FROM bg GROUP BY 1),
       t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM bg),
       s AS (SELECT w1, w2, n_pair, n_w1, n_w2,
                    CAST(n_total AS DOUBLE) * CAST(n_pair AS DOUBLE) /
                    (CAST(n_w1 AS DOUBLE) * CAST(n_w2 AS DOUBLE)) AS lift
             FROM pairs JOIN l USING (w1) JOIN r USING (w2), t)
       SELECT w1, w2, n_pair, n_w1, n_w2, lift
       FROM s ORDER BY lift DESC, w1, w2 LIMIT 20""",
)
def text_collocations_q(spark, sf):
    """Collocation mining (operators/lm.py::collocations): the corpus's
    top-20 bigrams by LIFT = N·c(w1,w2)/(c(w1·)·c(·w2)) — PMI's
    exponential twin (same ranking, log is monotone) expressed as a pure
    integer-count ratio so rows hash-compare across engines; min support 5
    floors the hapax-pair noise where lift saturates at N.  The phrase-
    mining pass that feeds tokenizer vocabularies and index phrase
    dictionaries.  ONE bigram explode (materialized once — it feeds four
    counts) -> three map-side-combined aggregates, unigram contexts
    joined back under the at-scale-safe hint="auto" default (AQE picks
    broadcast when the vocabulary fits, as it does here), TakeOrdered
    top-20."""
    from trafficbigdatasearch_spark.operators import lm

    return lm.collocations(
        load_table(spark, sf, "documents"), k=20, min_count=5
    )


def _stream_documents_source(spark, sf):
    """Bounded file-source STREAM over the documents table (the
    _stream_events_source arrangement, no ts normalization needed)."""
    import os

    schema = file_schema(spark, os.path.join(sf, "documents.parquet"))
    d = _scratch("stream_documents", sf)
    link = os.path.join(d, "documents.parquet")
    if not os.path.lexists(link):
        os.symlink(
            os.path.realpath(os.path.join(sf, "documents.parquet")), link
        )
    return spark.readStream.schema(schema).parquet(d)


def _stream_embeddings_source(spark, sf):
    """Bounded file-source STREAM over the embeddings table (the
    _stream_documents_source arrangement)."""
    import os

    schema = file_schema(spark, os.path.join(sf, "embeddings.parquet"))
    d = _scratch("stream_embeddings", sf)
    link = os.path.join(d, "embeddings.parquet")
    if not os.path.lexists(link):
        os.symlink(
            os.path.realpath(os.path.join(sf, "embeddings.parquet")), link
        )
    return spark.readStream.schema(schema).parquet(d)


@register("stream_lm_gate", _LM_FILTER_ORACLE)
def stream_lm_gate_q(spark, sf):
    """The LM fluency gate ON A STREAM — the production arrangement of
    pipeline_lm_filter: the bigram model trains OFFLINE on the static
    gated English slice (batch lm.bigram_lm, min_count=10), then gates
    arriving documents with a stream-static broadcast join + one
    streaming (doc, lang) aggregation, keeping docs at coverage >= 0.85
    (no-bigram docs produce no aggregate row and drop — the gate
    semantics, identical to the batch row).  One oracle pins the batch
    pipeline and this streaming twin to the same bits, the
    trend/merge-upsert pattern applied to corpus curation: train once,
    gate forever, no recompute on the stream."""
    from trafficbigdatasearch_spark.operators import lm

    docs = load_table(spark, sf, "documents")
    gated_static = docs.filter(T.token_count(F.col("text")) >= 5)
    model = lm.bigram_lm(
        gated_static.filter(F.col("lang") == "en").select("doc_id", "text"),
        min_count=10,
    ).select("w1", "w2", F.lit(True).alias("_known"))

    src = _stream_documents_source(spark, sf)
    gated = src.filter(T.token_count(F.col("text")) >= 5)
    # tokens() filters empties itself since the r13 rewrite (advice r13)
    toks = T.tokens(F.lower(F.col("text")))
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, F.lit(1), F.greatest(n - 1, F.lit(0))),
        F.slice(toks, F.lit(2), F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = gated.select(
        "doc_id", "lang", F.explode(bigrams).alias("bgp")
    ).select(
        "doc_id", "lang",
        F.col("bgp.w1").alias("w1"), F.col("bgp.w2").alias("w2"),
    )
    agg = (
        bg.join(F.broadcast(model), ["w1", "w2"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("_nb"),
            F.sum(
                F.when(F.col("_known"), F.lit(1)).otherwise(F.lit(0))
            ).alias("_nk"),
        )
    )
    drained = _drain_to_memory(agg, "stream_lm_gate")
    return drained.filter(
        F.col("_nk").cast("double") / F.col("_nb").cast("double") >= 0.85
    ).select("doc_id", "lang")


@register(
    "decontaminate_fuzzy",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
       idx AS (SELECT doc_id, t,
                      unnest(range(0, greatest(len(t) - 5, 0) + 1)) AS i
               FROM toks),
       sh AS (SELECT DISTINCT doc_id,
                     array_to_string(t[i + 1 : i + 5], ' ') AS s
              FROM idx
              WHERE array_to_string(t[i + 1 : i + 5], ' ') <> ''),
       bsh AS (SELECT doc_id AS bid, s FROM sh WHERE doc_id % 7 = 0),
       cand AS (SELECT DISTINCT sh.doc_id, bsh.bid
                FROM sh JOIN bsh USING (s)
                WHERE sh.doc_id <> bsh.bid),
       szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
               FROM sh GROUP BY 1),
       ov AS (SELECT c.doc_id, c.bid, CAST(count(*) AS BIGINT) AS shared
              FROM cand c
              JOIN sh a ON a.doc_id = c.doc_id
              JOIN bsh b ON b.bid = c.bid AND b.s = a.s
              GROUP BY 1, 2)
       SELECT ov.doc_id, ov.bid AS bench_id, ov.shared,
              sa.sz AS size_a, sb.sz AS size_b,
              CAST(shared AS DOUBLE) /
              (sa.sz + sb.sz - shared) AS jaccard
       FROM ov
       JOIN szs sa ON sa.doc_id = ov.doc_id
       JOIN szs sb ON sb.doc_id = ov.bid
       WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.5""",
)
def decontaminate_fuzzy_q(spark, sf):
    """FUZZY test-set decontamination
    (operators/decontam.py::fuzzy_contamination_pairs): (train doc, bench
    doc) pairs whose distinct 5-gram shingle sets overlap at Jaccard >=
    0.5 — the paraphrase/partial-copy leakage the exact hit counter
    (decontaminate) underweights for long documents, since Jaccard
    normalizes by both set sizes.  Benchmark = every 7th doc standing in
    for an eval suite; identity pairs excluded via exclude_same_id=True —
    an OPT-IN this fixture makes because its benchmark is carved from
    the corpus (shared id space); independent-namespace callers keep the
    default, where an id collision is a real pair.  Everything
    benchmark-sized ships
    broadcast — candidate postings and whole shingle sets — candidates
    exist only on shared shingles, and the verify is one row-local
    array_intersect per candidate: the corpus text never shuffles."""
    from trafficbigdatasearch_spark.operators import decontam

    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    return decontam.fuzzy_contamination_pairs(
        docs, bench, threshold=0.5, n=5, exclude_same_id=True
    )


@register(
    "decontaminate_semantic",
    f"""WITH c AS (SELECT vec_id, {_QVEC} AS v FROM embeddings),
       b AS (SELECT vec_id AS bench_id, v AS bv FROM c WHERE vec_id % 50 = 3)
       SELECT c.vec_id, bench_id,
              list_dot_product(c.v, bv) /
              (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(bv, bv))) AS cosine
       FROM c CROSS JOIN b
       WHERE list_dot_product(c.v, bv) /
             (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(bv, bv))) >= 0.4""",
)
def decontaminate_semantic_q(spark, sf):
    """SEMANTIC decontamination (operators/decontam.py::
    semantic_contamination_pairs, r10) — the family's third member after
    exact n-gram hits and shingle-Jaccard: corpus items whose EMBEDDING
    sits within cosine 0.4 of any benchmark item, the paraphrased/reworded
    leakage both text-level members structurally miss.  Benchmark = every
    50th embedding standing in for an eval suite; identity pairs are kept
    on purpose (a benchmark row physically present in the corpus is the
    most literal contamination), so the row is non-vacuous at every SF
    (14/15/81 pairs).  Same scale shape as the whole module: the quantized
    benchmark broadcasts, each corpus row scores map-side — the corpus
    never shuffles, one integer dot + one closing IEEE chain per pair."""
    from trafficbigdatasearch_spark.operators import decontam

    emb = load_table(spark, sf, "embeddings")
    return decontam.semantic_contamination_pairs(
        emb,
        emb.filter(F.col("vec_id") % 50 == 3).select(
            F.col("vec_id").alias("bench_id"), "embedding"
        ),
        threshold=0.4,
    )


@register("stream_semantic_gate", _REGISTRY["decontaminate_semantic"][1])
def stream_semantic_gate_q(spark, sf):
    """Semantic decontamination ON A STREAM — the production arrangement
    of decontaminate_semantic (the stream_lm_gate pattern applied to the
    embedding member): the quantized benchmark is STATIC and broadcast;
    each arriving embedding scores against it map-side (one integer dot +
    one closing IEEE chain per pair, stream-static broadcast join, no
    state, no watermark — append mode) and contaminated arrivals emit as
    (vec_id, bench_id, cosine) rows.  The batch operator runs UNCHANGED on
    the streaming DataFrame — same code path, so one oracle pins the batch
    row and this streaming twin to the same bits: gate forever, rescore
    never."""
    from trafficbigdatasearch_spark.operators import decontam

    emb = load_table(spark, sf, "embeddings")
    bench = emb.filter(F.col("vec_id") % 50 == 3).select(
        F.col("vec_id").alias("bench_id"), "embedding"
    )
    pairs = decontam.semantic_contamination_pairs(
        _stream_embeddings_source(spark, sf), bench, threshold=0.4
    )
    return _drain_to_memory(pairs, "stream_semantic_gate", "append")


@register(
    "graph_link_pred",
    """WITH raw AS (SELECT range AS u, (range + 1) % 1500 AS v
                  FROM range(1500)
                  UNION ALL
                  SELECT range, (range * 7 + 3) % 1500 FROM range(1500)),
       canon AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
                 FROM raw WHERE u <> v),
       adj AS (SELECT u AS n, v AS m FROM canon
               UNION ALL SELECT v AS n, u AS m FROM canon),
       deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
       w2 AS (SELECT a.m AS x, b.m AS y
              FROM adj a JOIN adj b ON a.n = b.n AND a.m < b.m),
       shared AS (SELECT x AS u, y AS v, CAST(count(*) AS BIGINT) AS shared
                  FROM w2 GROUP BY 1, 2 HAVING count(*) >= 2),
       nonadj AS (SELECT s.* FROM shared s
                  LEFT JOIN canon c ON c.u = s.u AND c.v = s.v
                  WHERE c.u IS NULL)
       SELECT na.u, na.v, na.shared,
              du.d AS deg_u, dv.d AS deg_v,
              CAST(na.shared AS DOUBLE) /
              (du.d + dv.d - na.shared) AS score
       FROM nonadj na
       JOIN deg du ON du.n = na.u
       JOIN deg dv ON dv.n = na.v""",
)
def graph_link_pred_q(spark, sf):
    """Neighbor-Jaccard link prediction (operators/graph.py::
    jaccard_link_prediction, Liben-Nowell & Kleinberg CIKM'03): scores
    every non-adjacent distance-2 pair with >= 2 common neighbors over
    the deterministic two-family graph — the "people you may know" /
    related-entities primitive, all-integer counts + one division so the
    168 scored pairs hash-compare exactly.  One wedge self-join on the
    common neighbor (the d(w)^2 fan-out is inherent to distance-2
    enumeration; the operator's max_degree cap is the documented hub
    guard), map-side-combined shared counts, broadcast degrees, anti join
    against existing edges."""
    from trafficbigdatasearch_spark.operators import graph as G

    ids = spark.range(1500)
    edges = ids.select(
        F.col("id").alias("u"), ((F.col("id") + 1) % 1500).alias("v")
    ).unionByName(
        ids.select(
            F.col("id").alias("u"),
            ((F.col("id") * 7 + 3) % 1500).alias("v"),
        )
    )
    return G.jaccard_link_prediction(edges, min_shared=2)


@register(
    "a_impute_median",
    """WITH nulled AS (SELECT event_id, event_type,
                     CASE WHEN event_id % 13 = 0 THEN NULL
                          ELSE value END AS v
              FROM events),
       med AS (SELECT event_type,
                      quantile_cont(CAST(round(v * 100) AS BIGINT), 0.5)
                        AS m_c
               FROM nulled WHERE v IS NOT NULL GROUP BY 1)
       SELECT n.event_id, n.event_type,
              COALESCE(n.v, m_c / CAST(100.0 AS DOUBLE)) AS value_filled,
              CAST(n.v IS NULL AS BIGINT) AS was_null
       FROM nulled n JOIN med USING (event_type)""",
)
def a_impute_median_q(spark, sf):
    """Missing-value repair (operators/validate.py::impute_group_median):
    every 13th event's value is deterministically NULLed (the fixture's
    stand-in for sensor dropouts), then filled with its event_type's
    EXACT median — computed on the integer-cent lattice so both engines
    interpolate between exact integers (the a_exact_percentiles
    contract; a raw-double median would not hash-match).  All rows
    returned with a was_null audit flag — repair never drops data and
    downstream must distinguish measured from imputed.  One grouped
    percentile broadcast back; the fact table never shuffles."""
    from trafficbigdatasearch_spark.operators import validate as VA

    ev = load_table(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    return VA.impute_group_median(ev, "v", ["event_type"]).select(
        "event_id",
        "event_type",
        F.col("v_filled").alias("value_filled"),
        "was_null",
    )


@register(
    "pipeline_mm_dedup",
    """WITH RECURSIVE fp AS (SELECT doc_id AS id,
                          CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT)
                            AS h
            FROM documents),
       prs AS (SELECT a.id AS id_a, b.id AS id_b
               FROM fp a JOIN fp b ON a.id < b.id
               WHERE bit_count(xor(a.h, b.h)) <= 3),
       eds AS (SELECT id_a AS u, id_b AS v FROM prs
               UNION SELECT id_b, id_a FROM prs),
       nds AS (SELECT DISTINCT u AS id FROM eds),
       walk(id, lab) AS (
         SELECT id, id FROM nds
         UNION
         SELECT w.id, e.v FROM walk w JOIN eds e ON e.u = w.lab
       ),
       comp AS (SELECT id, CAST(min(lab) AS BIGINT) AS component
                FROM walk GROUP BY id),
       labeled AS (SELECT d.doc_id,
                          COALESCE(c.component, d.doc_id) AS component
                   FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
       SELECT component, CAST(min(doc_id) AS BIGINT) AS keeper_id,
              CAST(count(*) AS BIGINT) AS n_members
       FROM labeled GROUP BY component""",
)
def pipeline_mm_dedup_q(spark, sf):
    """MULTIMODAL dedup composed end-to-end: perceptual-hash near-dup
    pairs (banded-Hamming engine, pigeonhole-lossless at radius 3) ->
    connected components (transitive closure, not pairwise order-bias)
    -> min-id keeper per visual cluster, singletons kept as their own
    component — the image-corpus twin of pipeline_dedup_corpus, proving
    the mm blocking path feeds the same CC + survivor machinery the text
    family uses.  Oracle: the all-pairs Hamming filter + a recursive-CTE
    closure (the pipeline_dedup_corpus verification pattern)."""
    from trafficbigdatasearch_spark.operators import graph as G
    from trafficbigdatasearch_spark.operators import multimodal

    docs = load_table(spark, sf, "documents")
    assets = multimodal.assets_from_documents(docs)
    pairs = multimodal.phash_pairs(assets).select("id_a", "id_b")
    comp = G.connected_components(pairs)
    labeled = docs.select("doc_id").join(
        comp, docs["doc_id"] == comp["id"], "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )
    return labeled.groupBy("component").agg(
        F.min("doc_id").cast("bigint").alias("keeper_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )
