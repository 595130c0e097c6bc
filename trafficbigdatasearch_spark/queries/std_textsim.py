"""Beyond-parity LLM-pipeline rows, first era: exact/MinHash/SimHash dedup,
text analysis, BPE, LSH/IVF similarity, multimodal plumbing.

Split from queries/standard.py (VERDICT r10 #7) with registration
order preserved by the aggregator's import order; see ROTATION.md
for the driver-window policy and ledger."""

from __future__ import annotations

from pyspark.sql import functions as F
from trafficbigdatasearch_spark.catalog import file_schema, load_table
from trafficbigdatasearch_spark.functions import text as T
from trafficbigdatasearch_spark.functions import vectors as V
from trafficbigdatasearch_spark.operators import (
    dedup,
    graph,
    multimodal,
    similarity,
)
from ._shared import _REGISTRY, register

# =============================================================================
# Beyond-parity: dedup / text analysis / similarity / multimodal
# =============================================================================


_MINHASH_K = 8


_MINHASH_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(dedup.minhash_params(_MINHASH_K))
)


_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"


@register(
    "dedup_exact",
    """SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
              min(doc_id) AS keep_id, COUNT(*) AS dup_count
       FROM documents GROUP BY 1""",
)
def dedup_exact_q(spark, sf):
    """Exact dedup groups by content fingerprint (operators/dedup.py)."""
    return dedup.exact_duplicates(load_table(spark, sf, "documents"))


@register(
    "dedup_minhash_signatures",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
       idx AS (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i FROM toks),
       sh AS (SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS s FROM idx),
       h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS hv FROM sh),
       params(h_idx, a, b) AS (VALUES {_MINHASH_VALUES})
       SELECT doc_id AS id, h_idx,
              min((a * hv + b) % 2147483647) AS minhash
       FROM h CROSS JOIN params GROUP BY doc_id, h_idx""",
)
def dedup_minhash_signatures_q(spark, sf):
    """MinHash signatures (k=8, word 3-gram shingles) — the building block of
    MinHash-LSH near-dedup; expression-only, zero shuffles."""
    return dedup.minhash_signatures(
        load_table(spark, sf, "documents"), k=_MINHASH_K, n=3
    )


@register(
    "dedup_ngram_jaccard",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
       idx AS (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i FROM toks),
       sh AS (SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS s FROM idx),
       sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       shared AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2
       )
       SELECT id_a, id_b, shared, sa.sz AS size_a, sb.sz AS size_b
       FROM shared
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.2""",
)
def dedup_ngram_jaccard_q(spark, sf):
    """n-gram Jaccard near-dup pairs via shingle-inverted-index blocking
    (never a cross join).  Threshold 0.2 so the synthetic corpus yields
    a non-trivial result set."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf, "documents"), threshold=0.2, max_shingle_freq=None
    )


@register(
    "dedup_jaccard_prefix",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
       idx AS (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i FROM toks),
       sh AS (SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS s FROM idx),
       sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       shared AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2
       )
       SELECT id_a, id_b, shared, sa.sz AS size_a, sb.sz AS size_b
       FROM shared
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.8""",
)
def dedup_jaccard_prefix_q(spark, sf):
    """AllPairs/PPJoin prefix-filtered exact Jaccard pairs — LOSSLESS at
    the threshold where the plain operator's hot-shingle guard trades
    recall: candidate generation indexes only each doc's rarity-ordered
    prefix (rarest shingles first), shrinking candidate volume to 34/9.7/
    3.8 % of the plain inverted index at t=0.5/0.8/0.9 (sf0.1, SCALING.md).
    Registered at t=0.8 — the operator's DESIGN regime (near-dup
    thresholds, short prefixes).  Honest toy-scale posture: the synthetic
    corpus's tiny shingle vocabulary makes every shingle common, so
    prefixes stay unselective HERE and the plain exact-count operator is
    ~2× faster at sf0.1 — the variant's value is the measured candidate
    cut on heavy-tailed real vocabularies (SCALING.md row), the same
    constant-vs-asymptote trade as the bloom joins.  Oracle is the SAME
    naive all-pairs SQL as dedup_ngram_jaccard — the whole point is that
    the optimized plan is output-identical."""
    return dedup.ngram_jaccard_pairs_prefix(
        load_table(spark, sf, "documents"), threshold=0.8
    )


@register(
    "text_dup_spans",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
       idx AS (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 8, 0) + 1)) AS i FROM toks),
       shp AS (SELECT doc_id, i AS start, array_to_string(t[i + 1 : i + 8], ' ') AS s FROM idx),
       hot AS (SELECT s FROM (SELECT s, COUNT(DISTINCT doc_id) AS d
                              FROM shp GROUP BY s) q WHERE d >= 2),
       pos AS (SELECT doc_id, start, start + 8 AS fin FROM shp
               WHERE s IN (SELECT s FROM hot)),
       m AS (SELECT doc_id, start, fin,
                    MAX(fin) OVER (PARTITION BY doc_id ORDER BY start, fin
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS pm
             FROM pos),
       g AS (SELECT doc_id, start, fin,
                    SUM(CASE WHEN pm IS NULL OR start > pm
                             THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY start, fin) AS gid
             FROM m)
       SELECT doc_id, CAST(MIN(start) AS INT) AS span_start,
              CAST(MAX(fin) AS INT) AS span_end,
              CAST(MAX(fin) - MIN(start) AS BIGINT) AS n_tokens
       FROM g GROUP BY doc_id, gid""",
)
def text_dup_spans_q(spark, sf):
    """SUBSTRING-level dedup (the training-data literature's exact
    substring deduplication, production-shaped): maximal per-doc token
    spans whose every 8-token window recurs in >= 2 documents —
    boilerplate/quote regions doc-level dedup can't see, located for
    surgical removal (operators/dedup.py::strip_duplicated_spans).  One
    shingle exchange for corpus-wide window frequencies + one per-doc
    two-window interval merge; output bounded by duplicated regions."""
    return dedup.duplicated_spans(
        load_table(spark, sf, "documents"), k=8, min_docs=2
    )


@register(
    "text_boilerplate_spans",
    f"""WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
       idx AS (SELECT doc_id, source, t,
                      unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i
               FROM toks),
       shp AS (SELECT doc_id, source, i AS start,
                      array_to_string(t[i + 1 : i + 3], ' ') AS s
               FROM idx),
       nd AS (SELECT source, count(DISTINCT doc_id) AS n_docs
             FROM documents GROUP BY 1),
       hot AS (SELECT q.source, q.s
               FROM (SELECT source, s, COUNT(DISTINCT doc_id) AS d
                     FROM shp GROUP BY 1, 2) q
               JOIN nd ON nd.source = q.source
               WHERE d >= 2 AND d * 100 >= 10 * n_docs),
       pos AS (SELECT shp.doc_id, shp.start, shp.start + 3 AS fin
               FROM shp JOIN hot
                 ON hot.source = shp.source AND hot.s = shp.s),
       m AS (SELECT doc_id, start, fin,
                    MAX(fin) OVER (PARTITION BY doc_id ORDER BY start, fin
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS pm
             FROM pos),
       g AS (SELECT doc_id, start, fin,
                    SUM(CASE WHEN pm IS NULL OR start > pm
                             THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY start, fin) AS gid
             FROM m)
       SELECT doc_id, CAST(MIN(start) AS INT) AS span_start,
              CAST(MAX(fin) AS INT) AS span_end,
              CAST(MAX(fin) - MIN(start) AS BIGINT) AS n_tokens
       FROM g GROUP BY doc_id, gid""",
)
def text_boilerplate_spans_q(spark, sf):
    """Per-SOURCE boilerplate detection (operators/dedup.py::
    boilerplate_spans) — the C4/RefinedWeb template-text signal: maximal
    per-doc token spans whose every 3-token window recurs in >= 2 docs
    AND >= 10 % of the SAME source's documents.  Group-scoped document
    frequency is what separates host chrome (cookie banners, nav,
    footers) from legitimate cross-site quotation — the global
    text_dup_spans threshold underweights the former on big corpora and
    flags the latter.  The DF ratio is an integer cross-multiplication
    (d*100 >= pct*n_docs), the per-source doc totals ride a broadcast
    join, and the spans land on the same token stream
    strip_duplicated_spans consumes — the strip half is shared."""
    return dedup.boilerplate_spans(
        load_table(spark, sf, "documents"),
        group_col="source",
        k=3,
        min_df_pct=10,
        min_docs=2,
    )


@register(
    "pipeline_boilerplate_strip",
    f"""WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
       idx AS (SELECT doc_id, source, t,
                      unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i
               FROM toks),
       shp AS (SELECT doc_id, source, i AS start,
                      array_to_string(t[i + 1 : i + 3], ' ') AS s
               FROM idx),
       nd AS (SELECT source, count(DISTINCT doc_id) AS n_docs
             FROM documents GROUP BY 1),
       hot AS (SELECT q.source, q.s
               FROM (SELECT source, s, COUNT(DISTINCT doc_id) AS d
                     FROM shp GROUP BY 1, 2) q
               JOIN nd ON nd.source = q.source
               WHERE d >= 2 AND d * 100 >= 10 * n_docs),
       pos AS (SELECT shp.doc_id, shp.start, shp.start + 3 AS fin
               FROM shp JOIN hot
                 ON hot.source = shp.source AND hot.s = shp.s),
       m AS (SELECT doc_id, start, fin,
                    MAX(fin) OVER (PARTITION BY doc_id ORDER BY start, fin
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS pm
             FROM pos),
       g AS (SELECT doc_id, start, fin,
                    SUM(CASE WHEN pm IS NULL OR start > pm
                             THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY start, fin) AS gid
             FROM m),
       spans AS (SELECT doc_id, MIN(start) AS span_start,
                        MAX(fin) AS span_end
                 FROM g GROUP BY doc_id, gid),
       tok AS (SELECT doc_id, t[i + 1] AS tok, i AS pos
               FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS i
                     FROM toks)),
       marked AS (SELECT tok.doc_id, tok.pos, tok.tok,
                         MAX(CASE WHEN s.doc_id IS NOT NULL
                                   AND tok.pos >= s.span_start
                                   AND tok.pos < s.span_end
                                  THEN 1 ELSE 0 END) AS in_bp
                  FROM tok LEFT JOIN spans s ON s.doc_id = tok.doc_id
                  GROUP BY 1, 2, 3),
       rebuilt AS (SELECT doc_id,
                          string_agg(tok, ' ' ORDER BY pos) AS text
                   FROM marked WHERE in_bp = 0 GROUP BY doc_id)
       SELECT d.doc_id, COALESCE(r.text, '') AS text
       FROM documents d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id""",
)
def pipeline_boilerplate_strip_q(spark, sf):
    """Boilerplate removal end-to-end: per-source span detection
    (text_boilerplate_spans' configuration) -> surgical token removal
    (operators/dedup.py::strip_duplicated_spans, shared with the global
    dup-span family) -> every document returned with its cleaned text —
    100 %-boilerplate docs come back EMPTY, never silently dropped (the
    strip contract).  The output hash covers the full rebuilt text of
    every document, so this row certifies detection + interval merge +
    positional strip + deterministic re-assembly (array_sort over (pos,
    token) structs, not a collect_list ordering assumption) in one
    oracle comparison."""
    docs = load_table(spark, sf, "documents")
    spans = dedup.boilerplate_spans(
        docs, group_col="source", k=3, min_df_pct=10, min_docs=2
    )
    return dedup.strip_duplicated_spans(docs, spans)


@register(
    "dedup_containment",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
       idx AS (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i FROM toks),
       sh AS (SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS s FROM idx),
       sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       shared AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2
       )
       SELECT id_a, id_b, shared, sa.sz AS size_a, sb.sz AS size_b
       FROM shared
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE CAST(shared AS DOUBLE) / least(sa.sz, sb.sz) >= 0.3""",
)
def dedup_containment_q(spark, sf):
    """Asymmetric containment near-dup (operators/dedup.py
    ngram_containment_pairs): pairs where the smaller doc's shingles are
    >= 30 % contained in the other — the quote/excerpt/boilerplate-wrapper
    duplication symmetric Jaccard under-scores (tiny union-normalized
    score, high containment).  Same single-exchange inverted-index plan as
    dedup_ngram_jaccard; only the final score differs."""
    return dedup.ngram_containment_pairs(
        load_table(spark, sf, "documents"), threshold=0.3, max_shingle_freq=None
    )


#: BPE training rounds for the registry pair (enough to learn multi-char
#: subwords on the synthetic corpus; the oracle chains one CTE stage per
#: round, so keep it small).


_BPE_ROUNDS = 6


def _bpe_oracle_ctes(n_rounds: int = _BPE_ROUNDS) -> str:
    """The k-round BPE chain as DuckDB CTEs (kcore-style generated SQL;
    MATERIALIZED is load-bearing — each round references the previous 2-3
    times).  Mirrors operators/bpe.py exactly: wrapped-token string repr,
    literal-replace merges, (weight DESC, a, b) top-pair tie-break."""
    parts = [
        r"""wf AS MATERIALIZED (
           SELECT word, COUNT(*) AS freq FROM (
             SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
             FROM documents) t
           WHERE regexp_matches(word, '^[a-z0-9]+$')
           GROUP BY word)""",
        r"""r0 AS MATERIALIZED (
           SELECT regexp_replace(word, '(.)', '|\1|', 'g') AS repr, freq FROM wf)""",
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f"""tk{r} AS MATERIALIZED (
           SELECT str_split(substring(repr, 2, length(repr) - 2), '||') AS t,
                  freq, repr
           FROM r{r - 1})"""
        )
        parts.append(
            f"""pc{r} AS MATERIALIZED (
           SELECT t[i] AS a, t[i + 1] AS b, SUM(freq) AS w
           FROM (SELECT t, freq, unnest(range(1, len(t))) AS i FROM tk{r}) u{r}
           GROUP BY 1, 2)"""
        )
        parts.append(
            f"""tp{r} AS MATERIALIZED (
           SELECT a, b, w FROM pc{r} ORDER BY w DESC, a ASC, b ASC LIMIT 1)"""
        )
        parts.append(
            f"""r{r} AS MATERIALIZED (
           SELECT replace(repr,
                          '|' || (SELECT a FROM tp{r}) || '||' ||
                                 (SELECT b FROM tp{r}) || '|',
                          '|' || (SELECT a FROM tp{r}) ||
                                 (SELECT b FROM tp{r}) || '|') AS repr, freq
           FROM r{r - 1})"""
        )
    return ",\n       ".join(parts)


def _bpe_merges_oracle(n_rounds: int = _BPE_ROUNDS) -> str:
    rows = "\n       UNION ALL\n       ".join(
        f"SELECT CAST({r - 1} AS INTEGER) AS rank, a AS lhs, b AS rhs, "
        f"CAST(w AS BIGINT) AS weight FROM tp{r}"
        for r in range(1, n_rounds + 1)
    )
    return f"WITH {_bpe_oracle_ctes(n_rounds)}\n       {rows}"


def _bpe_encode_oracle() -> str:
    return f"""WITH {_bpe_oracle_ctes()},
       final_tk AS (
         SELECT str_split(substring(repr, 2, length(repr) - 2), '||') AS t, freq
         FROM r{_BPE_ROUNDS}),
       tok AS (SELECT unnest(t) AS token, freq FROM final_tk)
       SELECT token, CAST(SUM(freq) AS BIGINT) AS n
       FROM tok GROUP BY token
       ORDER BY n DESC, token ASC LIMIT 20"""


@register("text_bpe_merges", _bpe_merges_oracle())
def text_bpe_merges_q(spark, sf):
    """BPE merge-rule LEARNING (operators/bpe.py learn_merges): 6 rounds of
    frequency-weighted adjacent-pair counting over the distinct-word table,
    each round's top pair (weight DESC, lexicographic tie-break) applied as
    one literal string replace whose left-to-right scan IS greedy-leftmost
    BPE pairing.  The corpus collapses once to (word, freq); every round is
    one explode + one map-side-combined sum + a 1-row collect — the
    bounded-fixpoint family (CC, k-means) applied to tokenizer TRAINING.
    The identical delimited-string formulation runs in DuckDB, so all six
    learned rules hash-match end-to-end."""
    from trafficbigdatasearch_spark.operators import bpe

    rules, _ = bpe.learn_merges(load_table(spark, sf, "documents"), _BPE_ROUNDS)
    return spark.createDataFrame(
        rules, "rank int, lhs string, rhs string, weight bigint"
    )


@register("text_bpe_encode", _bpe_encode_oracle())
def text_bpe_encode_q(spark, sf):
    """The learned subword inventory in action: corpus token frequencies
    AFTER the 6 merges (top-20, deterministic tie-break) — the token
    stream that feeds text_vocab_encode / pack_sequences once rules are
    trained.  Same chain as text_bpe_merges plus one final explode+sum."""
    from trafficbigdatasearch_spark.operators import bpe

    _, reprs = bpe.learn_merges(load_table(spark, sf, "documents"), _BPE_ROUNDS)
    return (
        bpe.token_counts(reprs)
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


def _bpe_apply_ctes() -> str:
    """Held-out documents (doc_id % 10 = 3) folded through the learned
    merges — the APPLY chain as CTEs ending in ``w{_BPE_ROUNDS}``.
    Positions come from the pre-filter whitespace token stream (matching
    apply_merges' posexplode-then-filter order)."""
    parts = [
        r"""toks2 AS (SELECT doc_id,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents WHERE doc_id % 10 = 3)""",
        """idx2 AS (SELECT doc_id, i AS pos, t[i + 1] AS word
           FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS i
                 FROM toks2) u)""",
        r"""w0 AS (SELECT doc_id, pos, word,
                  regexp_replace(word, '(.)', '|\1|', 'g') AS repr
           FROM idx2 WHERE regexp_matches(word, '^[a-z0-9]+$'))""",
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(
            f"""w{r} AS (SELECT doc_id, pos, word, replace(repr,
                          '|' || (SELECT a FROM tp{r}) || '||' ||
                                 (SELECT b FROM tp{r}) || '|',
                          '|' || (SELECT a FROM tp{r}) ||
                                 (SELECT b FROM tp{r}) || '|') AS repr
           FROM w{r - 1})"""
        )
    return ",\n       ".join(parts)


def _bpe_apply_oracle() -> str:
    return f"""WITH {_bpe_oracle_ctes()},
       {_bpe_apply_ctes()}
       SELECT doc_id, CAST(pos AS INT) AS pos, word,
              replace(substring(repr, 2, length(repr) - 2), '||', ' ')
                AS encoded
       FROM w{_BPE_ROUNDS}"""


@register("text_bpe_apply", _bpe_apply_oracle())
def text_bpe_apply_q(spark, sf):
    """Tokenizer INFERENCE (operators/bpe.py apply_merges): rules learned
    on the full corpus, applied to the held-out doc_id % 10 = 3 slice —
    the train→apply story a production tokenizer runs (learn once, encode
    every new shard).  The apply side is ZERO-shuffle: posexplode + k
    row-local literal replaces in rank order, identical greedy-leftmost
    semantics to training, OOV words degrading to character sequences."""
    from trafficbigdatasearch_spark.operators import bpe

    docs = load_table(spark, sf, "documents")
    rules, _ = bpe.learn_merges(docs, _BPE_ROUNDS)
    return bpe.apply_merges(docs.filter(F.col("doc_id") % 10 == 3), rules)


def _pipeline_bpe_oracle() -> str:
    return f"""WITH {_bpe_oracle_ctes()},
       {_bpe_apply_ctes()},
       final_tk2 AS (
         SELECT str_split(substring(repr, 2, length(repr) - 2), '||') AS t,
                freq
         FROM r{_BPE_ROUNDS}),
       inv AS (SELECT token, SUM(freq) AS n
               FROM (SELECT unnest(t) AS token, freq FROM final_tk2) x
               GROUP BY token),
       vocab AS (SELECT token FROM inv ORDER BY n DESC, token ASC LIMIT 30),
       enc_tok AS (
         SELECT doc_id,
                unnest(str_split(substring(repr, 2, length(repr) - 2), '||'))
                  AS token
         FROM w{_BPE_ROUNDS}),
       tok_stats AS (
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                CAST(SUM(CASE WHEN token IN (SELECT token FROM vocab)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_known
         FROM enc_tok GROUP BY doc_id),
       word_stats AS (
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
                CAST(SUM(length(word)) AS BIGINT) AS n_chars
         FROM w{_BPE_ROUNDS} GROUP BY doc_id)
       SELECT doc_id, n_words, n_chars, n_tokens, n_known
       FROM word_stats JOIN tok_stats USING (doc_id)"""


@register("pipeline_bpe", _pipeline_bpe_oracle())
def pipeline_bpe_q(spark, sf):
    """The composed tokenizer pipeline — learn → apply → vocab → per-doc
    stats in ONE plan (the composition flagship for the BPE family,
    mirroring pipeline_dedup_corpus's role for dedup): merge rules learned
    on the full corpus, applied to the held-out slice, the top-30 subword
    inventory taken from the TRAINING token frequencies (vocab.py's top-V
    TakeOrdered shape), and each held-out doc summarized as (n_words,
    n_chars, n_tokens, n_known) — chars-per-token and vocab coverage are
    the two numbers a tokenizer ablation reads.  Vocab membership is a
    broadcast join; both aggregates are map-side-combined on doc_id."""
    from trafficbigdatasearch_spark.operators import bpe

    docs = load_table(spark, sf, "documents")
    rules, reprs = bpe.learn_merges(docs, _BPE_ROUNDS)
    enc = bpe.apply_merges(docs.filter(F.col("doc_id") % 10 == 3), rules)
    vocab = (
        bpe.token_counts(reprs)
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(30)
        .select("token")
        .withColumn("_known", F.lit(1))
    )
    toks = enc.select(
        "doc_id", F.explode(F.split("encoded", " ")).alias("token")
    )
    tok_stats = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.coalesce(F.sum("_known"), F.lit(0))
            .cast("bigint")
            .alias("n_known"),
        )
    )
    word_stats = enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("word")).cast("bigint").alias("n_chars"),
    )
    return word_stats.join(tok_stats, "doc_id").select(
        "doc_id", "n_words", "n_chars", "n_tokens", "n_known"
    )


@register(
    "text_top_ngrams",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
       idx AS (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 2, 0) + 1)) AS i FROM toks),
       sh AS (SELECT array_to_string(t[i + 1 : i + 2], ' ') AS ngram FROM idx)
       SELECT ngram, COUNT(*) AS n FROM sh GROUP BY ngram
       ORDER BY n DESC, ngram ASC LIMIT 20""",
)
def text_top_ngrams_q(spark, sf):
    """Corpus-level vocabulary statistics: top-20 word bigrams by occurrence
    (non-distinct — term frequency, not document frequency).  One explode ->
    map-side-combined count -> top-k; ties broken by the ngram itself for
    determinism."""
    d = load_table(spark, sf, "documents")
    return (
        d.select(F.explode(T.word_shingles(F.col("text"), 2)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram").asc())
        .limit(20)
    )


_PII_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"


_PII_PHONE_SQL = "\\d[\\d\\-\\. ]{5,}\\d"


@register(
    "text_pii_scrub",
    f"""SELECT doc_id,
              md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL_SQL}', '<EMAIL>', 'g'),
                                 '{_PII_PHONE_SQL}', '<PHONE>', 'g')) AS scrubbed_md5,
              CAST(len(regexp_extract_all(text, '{_PII_EMAIL_SQL}')) +
                   len(regexp_extract_all(regexp_replace(text, '{_PII_EMAIL_SQL}', '<EMAIL>', 'g'),
                                          '{_PII_PHONE_SQL}')) AS BIGINT) AS n_redactions
       FROM documents""",
)
def text_pii_scrub_q(spark, sf):
    """PII scrubbing for training corpora: email/phone-shaped spans replaced
    by placeholders, with an audit count per document.  Regex-only (full
    scan speed); the md5 of the scrubbed text proves byte-identical
    redaction across engines."""
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.md5(T.pii_redact(F.col("text"))).alias("scrubbed_md5"),
        T.pii_count(F.col("text")).alias("n_redactions"),
    )


_GUARDED_TOKS = (
    r"CASE WHEN length(trim(text)) = 0 THEN [] "
    r"ELSE regexp_split_to_array(lower(trim(text)), '\s+') END"
)


_SIMHASH_BITS = 32


_SIMHASH_SUMS = ", ".join(
    f"sum(CASE WHEN (('0x' || substr(m, {b // 4 + 1}, 1))::INT & {1 << (b % 4)}) > 0"
    f" THEN 1 ELSE -1 END) AS s{b}"
    for b in range(_SIMHASH_BITS)
)


_SIMHASH_FP = " + ".join(
    f"CASE WHEN COALESCE(s{b}, 0) >= 0 THEN {1 << b} ELSE 0 END"
    for b in range(_SIMHASH_BITS)
)


_SIMHASH_CTE = f"""tok AS (SELECT doc_id, unnest({_GUARDED_TOKS}) AS tk FROM documents),
       n AS (SELECT doc_id, md5(tk) AS m FROM tok),
       s AS (SELECT doc_id, {_SIMHASH_SUMS} FROM n GROUP BY doc_id),
       fp AS (SELECT d.doc_id AS id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash
              FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id)"""


@register("dedup_simhash", f"WITH {_SIMHASH_CTE} SELECT id, simhash FROM fp")
def dedup_simhash_q(spark, sf):
    """32-bit SimHash fingerprints: per-bit signed sums over token-md5 bits,
    one explode + one hash aggregate (operators/dedup.py)."""
    return dedup.simhash_fingerprints(
        load_table(spark, sf, "documents"), n_bits=_SIMHASH_BITS
    )


@register(
    "dedup_simhash_pairs",
    f"""WITH {_SIMHASH_CTE},
       band AS (SELECT id, simhash, bd.band, (simhash >> (bd.band * 8)) & 255 AS val
                FROM fp CROSS JOIN (SELECT unnest(range(4)) AS band) bd)
       SELECT DISTINCT a.id AS id_a, b.id AS id_b,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       FROM band a JOIN band b
         ON a.band = b.band AND a.val = b.val AND a.id < b.id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
)
def dedup_simhash_pairs_q(spark, sf):
    """SimHash near-dup pairs: pigeonhole band blocking + exact
    bit_count(xor) Hamming filter — no quadratic comparison."""
    return dedup.simhash_pairs(
        load_table(spark, sf, "documents"),
        n_bits=_SIMHASH_BITS,
        band_bits=8,
        max_hamming=3,
    )


def _band_cte(src: str, sfx: str) -> str:
    """MinHash band-bucket CTE chain (k=8, bands=4x2) over relation ``src``,
    ending in ``band{sfx}(doc_id, band, bucket)`` — the SQL twin of
    operators/dedup.py::minhash_band_buckets.  The suffix keeps CTE names
    unique so one query can bucket two relations (incremental dedup)."""
    return f"""toks{sfx} AS (SELECT doc_id, {_TOKS} AS t FROM {src}),
       idx{sfx} AS (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i FROM toks{sfx}),
       sh{sfx} AS (SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS s FROM idx{sfx}),
       h{sfx} AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS hv FROM sh{sfx}),
       params{sfx}(h_idx, a, b) AS (VALUES {_MINHASH_VALUES}),
       sig{sfx} AS (SELECT doc_id, h_idx, min((a * hv + b) % 2147483647) AS minhash
               FROM h{sfx} CROSS JOIN params{sfx} GROUP BY doc_id, h_idx),
       band{sfx} AS (SELECT doc_id, h_idx // 2 AS band,
                       string_agg(minhash::VARCHAR, '_' ORDER BY h_idx) AS bucket
                FROM sig{sfx} GROUP BY doc_id, h_idx // 2)"""


def _lsh_pairs_cte(src: str) -> str:
    """Candidate-pair CTE chain over ``src``, ending in
    ``lsh_pairs(id_a, id_b)`` — shared by the standalone query and the
    composed cleaning pipelines."""
    return f"""{_band_cte(src, 'L')},
       lsh_pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                     FROM bandL a JOIN bandL b
                       ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""


@register(
    "eval_lsh_recall",
    f"""WITH {_lsh_pairs_cte('documents')},
       toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
       idx AS (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i FROM toks),
       sh AS (SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS s FROM idx),
       sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       shared AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2
       ),
       jac AS (SELECT id_a, id_b
               FROM shared
               JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
               WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.2),
       m AS (SELECT (SELECT count(*) FROM jac) AS n_truth,
                    (SELECT count(*) FROM lsh_pairs) AS n_cand,
                    (SELECT count(*) FROM lsh_pairs JOIN jac
                       USING (id_a, id_b)) AS n_tp)
       SELECT CAST(n_truth AS BIGINT) AS n_truth,
              CAST(n_cand AS BIGINT) AS n_cand,
              CAST(n_tp AS BIGINT) AS n_tp,
              CAST(n_tp AS DOUBLE) / CAST(n_cand AS DOUBLE) AS pair_precision,
              CAST(n_tp AS DOUBLE) / CAST(n_truth AS DOUBLE) AS pair_recall
       FROM m""",
)
def eval_lsh_recall_q(spark, sf):
    """Candidate-generation quality measured, not asserted (operators/
    evalrank.py::pair_set_metrics, r10): precision/recall of the MinHash
    band-bucket candidate pairs (k=8, 4×2 bands) against the EXACT
    n-gram-Jaccard ≥ 0.2 pair set — the blocked-fabric twin of
    eval_ivf_recall's ANN ladder, turning the LSH family's recall
    contract from a docstring claim into an oracle-verified number at
    every SF.  Three integer counts + two closing divisions; both pair
    sets are corpus-independent sizes by construction."""
    from trafficbigdatasearch_spark.operators import evalrank

    docs = load_table(spark, sf, "documents")
    cand = dedup.minhash_lsh_pairs(docs, k=_MINHASH_K, bands=4, n=3)
    truth = dedup.ngram_jaccard_pairs(
        docs, threshold=0.2, max_shingle_freq=None
    ).select("id_a", "id_b")
    return evalrank.pair_set_metrics(cand, truth)


@register(
    "dedup_minhash_lsh",
    f"WITH {_lsh_pairs_cte('documents')} SELECT id_a, id_b FROM lsh_pairs",
)
def dedup_minhash_lsh_q(spark, sf):
    """MinHash-LSH candidate pairs: k=8 signatures banded 4×2; documents
    sharing any band bucket collide.  The band-bucket equi join is the
    web-scale near-dedup fabric (uniform high-entropy key, no cross join)."""
    return dedup.minhash_lsh_pairs(
        load_table(spark, sf, "documents"), k=_MINHASH_K, bands=4, n=3
    )


@register(
    "dedup_clusters",
    f"""WITH RECURSIVE {_lsh_pairs_cte('documents')},
       eds AS (SELECT id_a AS u, id_b AS v FROM lsh_pairs
               UNION SELECT id_b, id_a FROM lsh_pairs),
       nds AS (SELECT DISTINCT u AS id FROM eds),
       walk(id, lab) AS (
         SELECT id, id FROM nds
         UNION
         SELECT w.id, e.v FROM walk w JOIN eds e ON e.u = w.lab
       )
       SELECT id, CAST(min(lab) AS BIGINT) AS component,
              (id = min(lab)) AS is_keeper
       FROM walk GROUP BY id""",
)
def dedup_clusters_q(spark, sf):
    """Near-dup CLUSTERS: LSH candidate pairs resolved into connected
    components via alternating large-star/small-star (operators/graph.py) —
    component = min doc id, the canonical survivor.  The oracle computes the
    same labels via a recursive reachability closure; min-label components
    are engine-independent, so the two agree exactly."""
    pairs = dedup.minhash_lsh_pairs(
        load_table(spark, sf, "documents"), k=_MINHASH_K, bands=4, n=3
    )
    return graph.dedup_clusters(pairs)


_TOKCOUNT_SQL = (
    r"CASE WHEN length(trim(text)) = 0 THEN 0 "
    r"ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END"
)


@register(
    "pipeline_clean_corpus",
    f"""WITH qf AS (SELECT doc_id, text FROM documents WHERE {_TOKCOUNT_SQL} >= 5),
       fpx AS (SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS f FROM qf),
       keepx AS (SELECT min(doc_id) AS doc_id FROM fpx GROUP BY f),
       d1 AS (SELECT qf.doc_id, qf.text FROM qf JOIN keepx USING (doc_id)),
       {_lsh_pairs_cte('d1')},
       dropx AS (SELECT DISTINCT id_b AS doc_id FROM lsh_pairs)
       SELECT doc_id FROM d1 WHERE doc_id NOT IN (SELECT doc_id FROM dropx)""",
)
def pipeline_clean_corpus_q(spark, sf):
    """The operators COMPOSED as a real training-data cleaning pass:
    quality gate (token count) -> exact dedup (min-id survivor per
    fingerprint) -> MinHash-LSH near-dedup (drop the id_b side of every
    candidate pair).  One declarative plan end-to-end; each stage is the
    already-oracle-verified operator, and the composition itself is verified
    here against the same chain in SQL."""
    docs = load_table(spark, sf, "documents")
    qf = docs.filter(T.token_count(F.col("text")) >= 5).select("doc_id", "text")
    d1 = dedup.dedup_exact(qf)
    pairs = dedup.minhash_lsh_pairs(d1, k=_MINHASH_K, bands=4, n=3)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return d1.join(drop, "doc_id", "left_anti").select("doc_id")


@register(
    "pipeline_dedup_corpus",
    f"""WITH RECURSIVE qf AS (SELECT doc_id, text FROM documents WHERE {_TOKCOUNT_SQL} >= 5),
       fpx AS (SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS f FROM qf),
       keepx AS (SELECT min(doc_id) AS doc_id FROM fpx GROUP BY f),
       d1 AS (SELECT qf.doc_id, qf.text FROM qf JOIN keepx USING (doc_id)),
       {_lsh_pairs_cte('d1')},
       eds AS (SELECT id_a AS u, id_b AS v FROM lsh_pairs
               UNION SELECT id_b, id_a FROM lsh_pairs),
       nds AS (SELECT DISTINCT u AS id FROM eds),
       walk(id, lab) AS (
         SELECT id, id FROM nds
         UNION
         SELECT w.id, e.v FROM walk w JOIN eds e ON e.u = w.lab
       ),
       dropx AS (SELECT id AS doc_id FROM walk GROUP BY id HAVING id <> min(lab))
       SELECT doc_id FROM d1 WHERE doc_id NOT IN (SELECT doc_id FROM dropx)""",
)
def pipeline_dedup_corpus_q(spark, sf):
    """The cleaning pipeline with CLUSTER-correct near-dedup: quality gate ->
    exact dedup -> LSH candidate pairs -> connected components -> keep only
    each component's min-id representative.  Unlike pipeline_clean_corpus
    (which drops the id_b side of every pair — pairwise, order-biased), the
    transitive closure keeps exactly ONE document per near-dup cluster even
    when the pair graph is a chain a-b-c with no (a, c) edge."""
    docs = load_table(spark, sf, "documents")
    qf = docs.filter(T.token_count(F.col("text")) >= 5).select("doc_id", "text")
    d1 = dedup.dedup_exact(qf)
    pairs = dedup.minhash_lsh_pairs(d1, k=_MINHASH_K, bands=4, n=3)
    drop = (
        graph.dedup_clusters(pairs)
        .filter(~F.col("is_keeper"))
        .select(F.col("id").alias("doc_id"))
    )
    return d1.join(drop, "doc_id", "left_anti").select("doc_id")


_ROLL_POWS = ", ".join(
    f"({i + 1}, {p})" for i, p in enumerate(T._roll_powers())
)


@register(
    "text_rolling_fingerprint",
    f"""WITH toks AS (SELECT doc_id, ({_GUARDED_TOKS})[1:{T.ROLL_MAX}] AS t FROM documents),
       tok AS (SELECT doc_id, unnest(t) AS tk, generate_subscripts(t, 1) AS i FROM toks),
       pw(i, p) AS (VALUES {_ROLL_POWS}),
       term AS (SELECT doc_id, (('0x' || substr(md5(tk), 1, 7))::BIGINT * p) % {T.ROLL_M} AS term
                FROM tok JOIN pw ON pw.i = tok.i),
       s AS (SELECT doc_id, sum(term) % {T.ROLL_M} AS fp FROM term GROUP BY doc_id)
       SELECT d.doc_id, CAST(COALESCE(s.fp, 0) AS BIGINT) AS fingerprint
       FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id""",
)
def text_rolling_fingerprint_q(spark, sf):
    """Rabin-Karp rolling-hash document fingerprint in closed form over a
    precomputed powers table (functions/text.py)."""
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", T.rolling_fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "text_metrics",
    r"""SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_chars,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(lower(trim(text)), '\s+')) END AS n_tokens,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       x -> list_contains(['the','and','of','to','in','is','that','for','with','as'], x))) END AS n_stopwords_en,
              len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
              len(regexp_extract_all(text, '[0-9]')) AS n_digits,
              len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS n_bpeish
       FROM documents""",
)
def text_metrics_q(spark, sf):
    """Quality-scoring counters per document (functions/text.py) — the
    integer inputs to length/punct/stopword-ratio filters."""
    d = load_table(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        *T.quality_metrics(t),
        T.bpe_ish_token_count(t).alias("n_bpeish"),
    )


@register(
    "quality_gopher",
    r"""WITH b AS (SELECT doc_id, trim(text) AS t,
                       CASE WHEN length(trim(text)) = 0 THEN []
                            ELSE regexp_split_to_array(trim(text), '\s+')
                       END AS toks
               FROM documents),
       m AS (SELECT doc_id,
                    CAST(len(toks) AS BIGINT) AS n_words,
                    CAST(length(regexp_replace(t, '\s', '', 'g')) AS BIGINT)
                      AS wc,
                    CAST(length(t) - length(replace(t, '#', '')) AS BIGINT)
                      AS n_hash,
                    CAST((length(t) - length(replace(t, '...', ''))) // 3
                         AS BIGINT) AS n_ell,
                    CAST(len(list_filter(toks,
                         x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                      AS n_alpha,
                    CAST(len(list_filter(toks,
                         x -> list_contains(['the','and','of','to','in',
                                             'is','that','for','with','as'],
                                            lower(x)))) AS BIGINT) AS n_stop
             FROM b)
       SELECT doc_id, n_words,
              n_words >= 30 AND n_words <= 100000 AS ok_word_count,
              3 * n_words <= wc AND wc <= 10 * n_words AS ok_mean_word_len,
              10 * (n_hash + n_ell) <= n_words AS ok_symbol_ratio,
              5 * n_alpha >= 4 * n_words AS ok_alpha_words,
              n_stop >= 2 AS ok_stopwords,
              (n_words >= 30 AND n_words <= 100000)
                AND (3 * n_words <= wc AND wc <= 10 * n_words)
                AND (10 * (n_hash + n_ell) <= n_words)
                AND (5 * n_alpha >= 4 * n_words)
                AND (n_stop >= 2) AS passes
       FROM m""",
)
def quality_gopher_q(spark, sf):
    """The Gopher quality-rule battery (operators/validate.py::
    gopher_quality_flags, r9 — Rae et al. 2021's published heuristic
    set, the starting filter of most pretraining pipelines): word-count
    bounds, mean word length in [3, 10], symbol-to-word ratio <= 0.1,
    >= 80% alphabetic words, >= 2 English stopwords — each reported as
    an independent per-document FLAG plus the conjunction, so a curation
    run measures every rule's kill rate before committing.  All
    thresholds are integer cross-multiplies (no float comparison
    anywhere), the whole battery is row-local codegen'd expressions
    (token split + two replace-occurrence counts + two higher-order
    filter lambdas — zero shuffles, zero Python), and the oracle
    recomputes the identical arithmetic."""
    from trafficbigdatasearch_spark.operators import validate as V

    return V.gopher_quality_flags(
        load_table(spark, sf, "documents"), min_words=30
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return (
        f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(list_filter("
        f"regexp_split_to_array(lower(trim(text)), '\\s+'), "
        f"x -> list_contains([{words}], x))) END"
    )


@register(
    "text_lang_id",
    f"""WITH s AS (SELECT doc_id, lang,
              {_lang_score_sql('en')} AS s_en, {_lang_score_sql('es')} AS s_es,
              {_lang_score_sql('fr')} AS s_fr, {_lang_score_sql('de')} AS s_de,
              {_lang_score_sql('zh')} AS s_zh
       FROM documents)
       SELECT doc_id, lang,
              CASE WHEN s_en = m AND m > 0 THEN 'en'
                   WHEN s_es = m AND m > 0 THEN 'es'
                   WHEN s_fr = m AND m > 0 THEN 'fr'
                   WHEN s_de = m AND m > 0 THEN 'de'
                   WHEN s_zh = m AND m > 0 THEN 'zh'
                   ELSE 'und' END AS pred_lang
       FROM (SELECT *, greatest(s_en, s_es, s_fr, s_de, s_zh) AS m FROM s) t""",
)
def text_lang_id_q(spark, sf):
    """Language-ID heuristic: argmax of per-language stopword hits —
    explode + conditional-sum shape (T.lang_id_table), ~3x the per-row
    interpreted-fold formulation."""
    d = load_table(spark, sf, "documents")
    return T.lang_id_table(d).join(
        d.select("doc_id", "lang"), "doc_id"
    ).select("doc_id", "lang", "pred_lang")


@register(
    "text_fingerprint",
    """SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
       FROM documents""",
)
def text_fingerprint_q(spark, sf):
    """Content-defined document fingerprint."""
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))


_QVEC = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000))"


@register(
    "sim_brute_topk",
    f"""WITH q AS (SELECT vec_id AS query_id, {_QVEC} AS qv FROM embeddings WHERE vec_id < 10),
       c AS (SELECT vec_id AS neighbor_id, {_QVEC} AS cv FROM embeddings),
       s AS (SELECT query_id, neighbor_id,
                    list_dot_product(qv, cv) /
                    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS score
             FROM c CROSS JOIN q WHERE neighbor_id <> query_id)
       SELECT query_id, neighbor_id, rnk, score FROM (
         SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rnk
         FROM s) r
       WHERE rnk <= 5""",
)
def sim_brute_topk_q(spark, sf):
    """Exact cosine top-5 for probe vectors vec_id<10 over the full corpus
    (operators/similarity.py — quantized arithmetic for cross-engine bits)."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5
    ).withColumnRenamed("rank", "rnk")


@register(
    "sim_lsh_buckets",
    f"""WITH c AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
       e AS (SELECT vec_id, unnest(qv) AS comp, generate_subscripts(qv, 1) AS d FROM c),
       proj AS (
         SELECT vec_id, p,
                sum(comp * ((('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d - 1 AS VARCHAR)), 1, 7))::BIGINT % 2001) - 1000)) AS pr
         FROM e CROSS JOIN (SELECT unnest(range(8)) AS p) planes
         GROUP BY vec_id, p)
       SELECT vec_id AS id, CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
       FROM proj GROUP BY vec_id""",
)
def sim_lsh_buckets_q(spark, sf):
    """Random-hyperplane LSH bucket assignment — the ANN/blocking fabric;
    md5-derived hyperplanes make it reproducible in any engine."""
    return similarity.bucket_assignments(load_table(spark, sf, "embeddings"), 8)


_LSH_BUCKET_CTE = f"""cv AS (SELECT vec_id, {_QVEC} AS v FROM embeddings),
       e AS (SELECT vec_id, unnest(v) AS comp, generate_subscripts(v, 1) AS d FROM cv),
       proj AS (
         SELECT vec_id, p,
                sum(comp * ((('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d - 1 AS VARCHAR)), 1, 7))::BIGINT % 2001) - 1000)) AS pr
         FROM e CROSS JOIN (SELECT unnest(range(8)) AS p) planes
         GROUP BY vec_id, p),
       bk AS (SELECT vec_id, CAST(sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
              FROM proj GROUP BY vec_id)"""


@register(
    "sim_lsh_topk",
    f"""WITH {_LSH_BUCKET_CTE},
       q AS (SELECT c.vec_id AS query_id, v AS qv, bucket
             FROM cv c JOIN bk USING (vec_id) WHERE c.vec_id < 10),
       cand AS (SELECT c.vec_id AS neighbor_id, v AS nv, bucket
                FROM cv c JOIN bk USING (vec_id)),
       s AS (SELECT query_id, neighbor_id,
                    list_dot_product(qv, nv) /
                    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))) AS score
             FROM q JOIN cand USING (bucket)
             WHERE neighbor_id <> query_id)
       SELECT query_id, neighbor_id, rnk, score FROM (
         SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rnk
         FROM s) r
       WHERE rnk <= 5""",
)
def sim_lsh_topk_q(spark, sf):
    """LSH-bucketed approximate top-5: candidates restricted to the query's
    hyperplane bucket, exact cosine rerank inside — completes the similarity
    family's query surface (brute / LSH / IVF), all oracle-matched."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.lsh_bucketed_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_planes=8
    ).withColumnRenamed("rank", "rnk")


@register(
    "sim_embedding_near_dup",
    f"""WITH c AS (SELECT vec_id, label, {_QVEC} AS qv FROM embeddings)
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              list_dot_product(a.qv, b.qv) /
              (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))) AS score
       FROM c a JOIN c b ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE list_dot_product(a.qv, b.qv) /
             (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv))) >= 0.4""",
)
def sim_embedding_near_dup_q(spark, sf):
    """Embedding-cosine near-dup pairs with label blocking.  Threshold 0.4:
    the synthetic embeddings top out near cosine 0.5, so 0.7 matched on
    empty sets at every SF (vacuous 0=0 oracle — round-1 finding); 0.4
    yields 5/5/86 pairs at sf0.001/0.01/0.1."""
    return similarity.embedding_near_dup_pairs(
        load_table(spark, sf, "embeddings"), threshold=0.4, block_col="label"
    )


_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@register(
    "eval_cluster_purity",
    f"""WITH c AS (SELECT vec_id, label, {_QVEC} AS v FROM embeddings),
       cent AS (SELECT vec_id AS cell_id, v AS mv FROM c WHERE vec_id % 97 = 0),
       asim AS (SELECT c.vec_id AS vid, label, cell_id,
                       list_dot_product(v, mv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(mv, mv))) AS s
                FROM c CROSS JOIN cent),
       assign AS (SELECT vid, label, cell_id FROM (
           SELECT *, row_number() OVER (PARTITION BY vid ORDER BY s DESC, cell_id ASC) AS r
           FROM asim) t WHERE r = 1),
       bl AS (SELECT cell_id, label, CAST(count(*) AS BIGINT) AS cnt
              FROM assign WHERE label IS NOT NULL GROUP BY 1, 2),
       top AS (SELECT cell_id, label AS majority_label, cnt AS n_majority,
                      CAST(sum(cnt) OVER (PARTITION BY cell_id) AS BIGINT) AS n_members,
                      row_number() OVER (PARTITION BY cell_id
                                         ORDER BY cnt DESC, label ASC) AS r
               FROM bl)
       SELECT cell_id, n_members, majority_label,
              CAST(n_majority AS BIGINT) AS n_majority,
              CAST(n_majority AS DOUBLE) / CAST(n_members AS DOUBLE) AS purity
       FROM top WHERE r = 1""",
)
def eval_cluster_purity_q(spark, sf):
    """Clustering-quality measurement (operators/evalrank.py::
    cluster_purity, r10): per-cluster label purity of the IVF cell
    assignment over the labeled embeddings — the measurement loop for the
    engine's blocking/clustering fabrics (the same cells semantic dedup
    blocks on), completing the eval family alongside the ANN recall
    ladder (eval_ivf_recall) and the recsys holdout rows.  Determinism:
    integer counts, majority ties to the smallest label, purity is the
    single closing IEEE division — hash-comparable.  Plan: one id join +
    two map-side-combined exchanges; one output row per cell."""
    from trafficbigdatasearch_spark.operators import evalrank

    emb = load_table(spark, sf, "embeddings")
    return evalrank.cluster_purity(
        similarity.ivf_cell_assignments(emb, centroid_stride=97),
        emb,
    )


@register(
    "eval_score_calibration",
    f"""WITH gop AS (SELECT doc_id, passes
                   FROM ({_REGISTRY["quality_gopher"][1]}) t),
       s AS (SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS score, gop.passes
             FROM documents d JOIN gop USING (doc_id)),
       n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM s),
       h AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY score),
       b AS (SELECT score,
                    CAST(SUM(c) OVER (ORDER BY score) AS BIGINT) AS cum
             FROM h)
       SELECT CAST((10 * cum + nn - 1) // nn AS BIGINT) AS bucket,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
              CAST(min(score) AS BIGINT) AS score_lo,
              CAST(max(score) AS BIGINT) AS score_hi,
              CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS DOUBLE)
                / count(*) AS pos_rate
       FROM s JOIN b USING (score) CROSS JOIN n
       GROUP BY 1""",
)
def eval_score_calibration_q(spark, sf):
    """Score-calibration report (operators/evalrank.py::score_calibration,
    r10): document LENGTH deciles (exact histogram-CDF global quantiles —
    the w_quality_deciles_global machinery, no global sort) against the
    Gopher-battery pass flag — the reliability curve behind "does this
    cheap signal predict the expensive gate?" threshold decisions.  Ties
    three families together (ranks bucketing, the validate rule battery,
    the eval family's integer-counts-plus-one-division contract); the
    oracle embeds quality_gopher's full SQL as its outcome subquery, so
    the calibration row re-certifies the gate end-to-end too."""
    from trafficbigdatasearch_spark.operators import evalrank, validate

    docs = load_table(spark, sf, "documents")
    # min_words=30 matches the embedded quality_gopher oracle (its
    # registration threshold for this corpus), not the operator default
    gf = validate.gopher_quality_flags(docs, min_words=30).select(
        "doc_id", "passes"
    )
    scored = docs.select(
        "doc_id", F.col("n_chars").cast("bigint").alias("score")
    ).join(gf, "doc_id")
    return evalrank.score_calibration(scored, "score", "passes", n_buckets=10)


@register(
    "sim_bitext_margin",
    f"""WITH c AS (SELECT vec_id, label, {_QVEC} AS v FROM embeddings),
       a AS (SELECT vec_id AS id_a, v FROM c WHERE label = 0),
       b AS (SELECT vec_id AS id_b, v FROM c WHERE label = 1),
       s AS (SELECT id_a, id_b,
                    list_dot_product(a.v, b.v) /
                    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
             FROM a CROSS JOIN b),
       r AS (SELECT *,
                    row_number() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b) AS ra,
                    row_number() OVER (PARTITION BY id_b ORDER BY cosine DESC, id_a) AS rb
             FROM s),
       ka AS (SELECT id_a, min(cosine) AS kth_a FROM r WHERE ra <= 4 GROUP BY id_a),
       kb AS (SELECT id_b, min(cosine) AS kth_b FROM r WHERE rb <= 4 GROUP BY id_b),
       cand AS (SELECT id_a, id_b, cosine FROM r WHERE ra = 1)
       SELECT cand.id_a, cand.id_b, cosine, kth_a, kth_b,
              (2 * cosine - kth_a) - kth_b AS score
       FROM cand JOIN ka USING (id_a) JOIN kb USING (id_b)
       WHERE (2 * cosine - kth_a) - kth_b >= 0.1""",
)
def sim_bitext_margin_q(spark, sf):
    """Margin-based bitext mining (operators/similarity.py::
    margin_bitext_pairs, r10) — the CCMatrix/LASER curation primitive:
    each side-A vector's best cross-side match, scored by the margin over
    both local neighborhoods so hub vectors (close to everything) don't
    flood the mined set.  Engine-reproducible margin variant: the
    k-th-neighbor margin (2·cos − kth_a) − kth_b, every term one closing
    IEEE chain over integer dot products, no float SUM anywhere — which is
    what makes the row hash-comparable (the textbook mean-of-k margin is
    order-dependent and unusable under the determinism contract).  Sides
    here are embedding labels 0/1 (the synthetic stand-in for a language
    pair); k=4, threshold 0.1 keeps 34/38/119 of 56/50/199 candidates at
    sf0.001/0.01/0.1 — non-vacuous at every SF.  Exact cross mode at
    registered scale; the ``blocks`` parameter (ivf_cell_assignments) is
    the documented ANN-retrieval regime at corpus scale."""
    return similarity.margin_bitext_pairs(
        load_table(spark, sf, "embeddings"),
        side_col="label",
        side_a=0,
        side_b=1,
        k=4,
        threshold=0.1,
    )


#: Shared by ``sim_ivf_topk`` (inline assignment) and ``sim_ivf_indexed``
#: (persisted index) — same deterministic centroids, so identical results.
# Shared IVF CTE chain (through `scored`, plus the base `c` and query `q`
# sets) — consumed by the sim_ivf_* oracles below AND composed with an
# exact-cosine leg by eval_ivf_recall's oracle in the round-7 section.


_IVF_CTES = f"""c AS (SELECT vec_id, {_QVEC} AS v FROM embeddings),
       cent AS (SELECT vec_id AS cell_id, v AS mv FROM c WHERE vec_id % 97 = 0),
       asim AS (SELECT c.vec_id AS nid, cell_id,
                       {_COS.format(a='v', b='mv')} AS s
                FROM c CROSS JOIN cent),
       assign AS (SELECT nid, cell_id FROM (
           SELECT *, row_number() OVER (PARTITION BY nid ORDER BY s DESC, cell_id ASC) AS r
           FROM asim) t WHERE r = 1),
       q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
       psim AS (SELECT query_id, cell_id, qv,
                       row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cell_id ASC) AS r
                FROM (SELECT query_id, cell_id, qv, {_COS.format(a='qv', b='mv')} AS s
                      FROM q CROSS JOIN cent) t),
       probes AS (SELECT query_id, cell_id, qv FROM psim WHERE r <= 2),
       scored AS (SELECT query_id, assign.nid AS neighbor_id,
                         {_COS.format(a='qv', b='v')} AS score
                  FROM probes JOIN assign USING (cell_id)
                  JOIN c ON c.vec_id = assign.nid
                  WHERE assign.nid <> query_id)"""


_IVF_ORACLE = f"""WITH {_IVF_CTES}
       SELECT query_id, neighbor_id, rnk, score FROM (
         SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rnk
         FROM scored) r
       WHERE rnk <= 5"""


@register("sim_ivf_topk", _IVF_ORACLE)
def sim_ivf_topk_q(spark, sf):
    """IVF-style ANN: deterministic centroid sample, broadcast argmin cell
    assignment, nprobe=2 probe join, exact rerank (operators/similarity.py)."""
    emb = load_table(spark, sf, "embeddings")
    # validate=True at the registered layer (ADVICE r2): the fail-fast
    # isEmpty job is cheap here, and a mis-sized stride must not ship a
    # silently-empty ANN result to the driver
    return similarity.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        nprobe=2,
        centroid_stride=97,
        validate=True,
    ).withColumnRenamed("rank", "rnk")


# ---------------------------------------------------------------------------
# Process-lifetime scratch: ONE tempdir root for every on-disk artifact a
# registered query materializes (IVF index, text index, streaming source
# symlink dirs), keyed by (artifact, sf).  Repeated driver / bench
# invocations reuse the same subdirectory — O(1) tempdirs per process — and
# the whole root is removed at interpreter exit.
# ---------------------------------------------------------------------------


_SCRATCH_ROOT: str | None = None


def _scratch(artifact: str, sf: str) -> str:
    """Stable scratch directory for one (artifact, sf-dir) pair."""
    global _SCRATCH_ROOT
    import hashlib
    import os

    if _SCRATCH_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="tbds_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    key = hashlib.md5(os.path.realpath(sf).encode()).hexdigest()[:8]
    d = os.path.join(_SCRATCH_ROOT, f"{artifact}-{key}")
    os.makedirs(d, exist_ok=True)
    return d


def _stream_events_source(spark, sf):
    """Bounded file-source STREAM over the events table, ts normalized the
    same way catalog.load_table does it.  The file stream source wants a
    DIRECTORY base; testdata tables are single files, so stream from a
    symlink inside the per-(artifact, sf) scratch dir — no copy, created
    once per process and cleaned at exit."""
    import os

    # load_table pins the nanos/UTC confs on the caller's session (result
    # unused — the streaming read below needs those confs in place)
    load_table(spark, sf, "events")
    schema = file_schema(spark, os.path.join(sf, "events.parquet"))
    d = _scratch("stream_events", sf)
    link = os.path.join(d, "events.parquet")
    if not os.path.lexists(link):
        os.symlink(os.path.realpath(os.path.join(sf, "events.parquet")), link)
    src = spark.readStream.schema(schema).parquet(d)
    _ts_type = dict(src.dtypes).get("ts")
    if _ts_type == "bigint":
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif _ts_type == "timestamp_ntz":
        # timestamp[us] file reads as NTZ; wall-clock identity cast under
        # the UTC session zone (same normalization as catalog.load_table)
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return src


def _drain_to_memory(
    agg,
    name_prefix: str,
    output_mode: str = "complete",
    no_data_batch: bool = True,
):
    """Run a bounded stream to completion (availableNow) into a memory sink
    and return the sink table.  Memory-sink verification shape ONLY — result
    sets here are small aggregates; the production path is watermark +
    append to a real sink (pinned in tests/test_streaming.py).

    ``no_data_batch=False`` skips the trailing zero-input micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``).  Only valid for
    operators that emit EAGERLY — inner stream-stream joins and
    dropDuplicates*, where the no-data batch exists purely to evict state
    the bounded drain is about to discard anyway (r14 probe: the eviction
    batch re-reads and re-commits every state store instance for zero
    output — 2.4 s of stream_attribution's 5.8 s at sf0.1).  NEVER pass
    False for watermark-finalized append aggregates: their results are
    EMITTED by that batch.  Scale-valid: on a continuous production stream
    eviction rides later data batches; nothing here is local tuning."""
    import uuid

    spark = agg.sparkSession
    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(conf_key)
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    try:
        if not no_data_batch:
            spark.conf.set(conf_key, "false")
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(f"{name_prefix}: stream did not drain in 300s")
    finally:
        spark.conf.set(conf_key, prev)
    return spark.table(name)


#: Per-(sf dir) cache of a built on-disk IVF index, so repeated driver /
#: bench calls exercise the READ path (build once, query forever).


_IVF_INDEX_CACHE: dict[str, str] = {}


@register("sim_ivf_indexed", _IVF_ORACLE)
def sim_ivf_indexed_q(spark, sf):
    """The persisted-index ANN path: build_ivf_index writes the inverted
    lists PARTITIONED by cell_id, then ivf_topk_indexed's broadcast probe
    join dynamic-partition-prunes the scan to ~nprobe/n_cells of the corpus
    bytes (operators/similarity.py:277,333).  Same deterministic centroids
    as sim_ivf_topk, hence the same oracle — the green row proves the full
    build -> partitioned write -> pruned read -> rerank seam.  The index
    build on first call is an eager write (to the process-lifetime scratch
    dir, cleaned at exit); every later call is pure pruned reads."""
    import os

    emb = load_table(spark, sf, "embeddings")
    path = _IVF_INDEX_CACHE.get(sf)
    if path is None:
        path = os.path.join(_scratch("ivf_index", sf), "ivf")
        similarity.build_ivf_index(emb, path, centroid_stride=97)
        _IVF_INDEX_CACHE[sf] = path
    return similarity.ivf_topk_indexed(
        spark, path, emb.filter(F.col("vec_id") < 10), k=5, nprobe=2
    ).withColumnRenamed("rank", "rnk")


#: sim_ivf_append's oracle IS the full rebuild over corpus ∪ batch at the
#: SAME fixed centroids (the standing corpus's stride sample): the append
#: path must answer identically, which is exactly the index-maintenance
#: contract (verdict r9 #6).  One textual delta from _IVF_ORACLE: the
#: centroid CTE excludes the appended batch (vec_id % 10 = 7), matching the
#: Spark side where centroids were sampled BEFORE the batch arrived.


_IVF_APPEND_ORACLE = _IVF_ORACLE.replace(
    "WHERE vec_id % 97 = 0", "WHERE vec_id % 97 = 0 AND vec_id % 10 <> 7"
)


assert _IVF_APPEND_ORACLE != _IVF_ORACLE


#: Per-(sf dir) cache of the appended IVF index (standing build + one
#: appended batch), mirroring _IVF_INDEX_CACHE's build-once contract.


_IVF_APPEND_CACHE: dict[str, str] = {}


@register("sim_ivf_append", _IVF_APPEND_ORACLE)
def sim_ivf_append_q(spark, sf):
    """IVF index MAINTENANCE (verdict r9 #6): build the persisted index on
    the standing corpus (vec_id % 10 != 7), then ivf_index_append folds the
    held-out batch in against the STORED centroids — the standing inverted
    lists are never read or rewritten, maintenance is O(|batch|)
    (operators/similarity.py::ivf_index_append).  The query then runs
    ivf_topk_indexed over the merged index; the oracle computes the full
    rebuild over corpus ∪ batch at the same fixed centroids, so a green row
    proves merged-index ≡ full-rebuild equivalence end-to-end, including
    queries whose neighbors live in appended files (vec_id 7 is itself a
    query point)."""
    import os

    emb = load_table(spark, sf, "embeddings")
    path = _IVF_APPEND_CACHE.get(sf)
    if path is None:
        path = os.path.join(_scratch("ivf_append", sf), "ivf")
        batch_pred = F.col("vec_id") % 10 == 7
        similarity.build_ivf_index(
            emb.filter(~batch_pred), path, centroid_stride=97
        )
        similarity.ivf_index_append(spark, path, emb.filter(batch_pred))
        _IVF_APPEND_CACHE[sf] = path
    return similarity.ivf_topk_indexed(
        spark, path, emb.filter(F.col("vec_id") < 10), k=5, nprobe=2
    ).withColumnRenamed("rank", "rnk")


@register(
    "sim_kmeans_refine",
    f"""WITH c AS (SELECT vec_id, {_QVEC} AS v FROM embeddings),
       cent AS (SELECT vec_id AS cell_id, v AS mv FROM c WHERE vec_id % 97 = 0),
       asim AS (SELECT c.vec_id AS vid, cell_id,
                       {_COS.format(a='v', b='mv')} AS s
                FROM c CROSS JOIN cent),
       assign AS (SELECT vid, cell_id, s FROM (
           SELECT *, row_number() OVER (PARTITION BY vid ORDER BY s DESC, cell_id ASC) AS r
           FROM asim) t WHERE r = 1)
       SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_members,
              CAST(SUM(CAST(round(s * 1e9) AS BIGINT)) AS DOUBLE) / (1e9 * COUNT(*)) AS avg_sim
       FROM assign GROUP BY cell_id""",
)
def sim_kmeans_refine_q(spark, sf):
    """Spherical k-means refinement of the IVF centroids (one Lloyd
    iteration) — the iterative assignment/re-estimation loop as DataFrame
    ops.  With n_iter=1 the returned stats ARE the first assignment pass
    (the re-estimated centroids feed iteration 2+ / the centroid column),
    so one Lloyd step is exactly SQL-expressible: broadcast-argmin
    assignment + grouped count/avg, with avg_sim quantized to 1e-9 for
    cross-engine determinism (operators/similarity.py).  Multi-iteration
    objective monotonicity is pinned in tests/test_entry_correctness.py."""
    return similarity.kmeans_refine(
        load_table(spark, sf, "embeddings"), n_iter=1, validate=True
    ).select("cell_id", "n_members", "avg_sim")


@register(
    "mm_features",
    """SELECT doc_id AS asset_id,
              CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              CAST(octet_length(encode(text)) AS DOUBLE) AS f0,
              CAST(ascii(substr(text, 1, 1)) AS DOUBLE) AS f1,
              CAST(ascii(substr(text, length(text), 1)) AS DOUBLE) AS f2,
              CAST(list_sum(list_transform(regexp_extract_all(text, '.'), c -> ascii(c))) % 997 AS DOUBLE) AS f3
       FROM documents""",
)
def mm_features_q(spark, sf):
    """Multimodal plumbing: binary payload column -> Arrow-batched
    ``mapInPandas`` feature extraction (operators/multimodal.py).  The decode
    kernel is a deterministic stub (no media libs in container); the oracle
    reproduces its formula.  Corpus is ASCII, so first/last byte == ascii()."""
    docs = load_table(spark, sf, "documents")
    feats = multimodal.extract_features(multimodal.assets_from_documents(docs))
    return feats.select(
        "asset_id",
        "media_type",
        "n_bytes",
        F.col("features")[0].alias("f0"),
        F.col("features")[1].alias("f1"),
        F.col("features")[2].alias("f2"),
        F.col("features")[3].alias("f3"),
    )


@register(
    "mm_frame_sample",
    """SELECT doc_id AS asset_id,
              unnest(range(0, octet_length(encode(text)) // 3000 + 1)) AS frame_idx,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
       FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 2""",
)
def mm_frame_sample_q(spark, sf):
    """Video frame-sampling plumbing: Python-side row fan-out per asset."""
    docs = load_table(spark, sf, "documents")
    return multimodal.frame_sample_stub(
        multimodal.assets_from_documents(docs), every_n=30
    )
