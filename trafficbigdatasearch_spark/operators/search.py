"""Document search operators: keyword search and TF-IDF-style ranking.

The reference is a "big data search" system over traffic records (bbox +
time predicates); these extend the same idea to the text corpus — the
retrieval surface of a data-curation pipeline (find near-matches to a
prompt, audit corpus coverage of a topic, rank docs for inspection).

Shapes (the 100 TB posture):

- :func:`keyword_search` is a pure row-local token-containment filter —
  scan speed, zero shuffles, predicate-pushdown friendly.  For repeated
  interactive queries, pair with a persisted token inverted index the same
  way operators/similarity.py persists the IVF index.
- :func:`tfidf_topk` pre-filters each row's token array to the query terms
  BEFORE exploding (``F.filter``, keeping duplicates for term frequency),
  so the exploded posting set is O(matching tokens), not O(corpus tokens).
  One small shuffle on (term, doc) for tf, a broadcast of the per-term
  document frequencies, and a per-term top-k window over the scored
  postings.

Determinism: scores are ``tf * N / df`` — integer term frequency times an
IEEE-double corpus/document-frequency ratio, the same two correctly-rounded
ops in any engine (deliberately NOT log-scaled: ``ln`` is not guaranteed
correctly rounded across math libraries, a raw ratio is; the ranking is
order-isomorphic to the log form for fixed N).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from trafficbigdatasearch_spark import partitioning as P
from trafficbigdatasearch_spark.catalog import file_schema
from trafficbigdatasearch_spark.functions import text as T


def keyword_search(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "all",
) -> DataFrame:
    """Documents whose lowercased whitespace tokens contain the query terms
    (``mode='all'``: every term; ``mode='any'``: at least one).

    Row-local containment over the token array — no shuffle, no explode;
    returns (id_col, n_terms_hit) for the matching docs."""
    if not terms:
        raise ValueError("terms must be non-empty")
    if mode not in ("all", "any"):
        raise ValueError(f"mode must be 'all' or 'any', got {mode}")
    toks = T.tokens(F.lower(F.col(text_col)))
    hits = [F.array_contains(toks, t).cast("bigint") for t in terms]
    n_hit = hits[0]
    for h in hits[1:]:
        n_hit = n_hit + h
    need = len(terms) if mode == "all" else 1
    return (
        docs.select(F.col(id_col), n_hit.alias("n_terms_hit"))
        .filter(F.col("n_terms_hit") >= need)
    )


def tfidf_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-term top-``k`` documents ranked by ``tf * (N / df)``.

    tf = occurrences of the term in the doc, df = docs containing the term,
    N = corpus size.  Ties broken by ascending doc id, so the result is a
    total function of the corpus.  Returns (term, id_col, tf, df, score,
    rank)."""
    if not terms:
        raise ValueError("terms must be non-empty")
    # conditional spread before the tokenize explode: identity at scale,
    # parallelizes the CPU-heavy token pass on low-split local sources
    docs = P.ensure_compute_width(docs, id_col)
    term_arr = F.array(*[F.lit(t) for t in terms])
    toks = T.tokens(F.lower(F.col(text_col)))
    matching = F.filter(toks, lambda t: F.array_contains(term_arr, t))
    postings = docs.select(
        F.col(id_col), F.explode(matching).alias("term")
    )
    tf = postings.groupBy("term", id_col).agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            id_col,
            "tf",
            "df",
            (F.col("tf") * F.col("n") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact consecutive-token phrase match via a POSITIONAL posting join —
    the inverted-index-with-positions primitive under every phrase query.

    Each document's tokens are position-exploded, postings are filtered to
    the phrase's terms BEFORE any join (the posting set is O(term matches),
    not O(corpus tokens)), then adjacent terms chain with equi joins on
    (doc, position + offset).  At scale this is exactly how a persisted
    positional index answers phrases: k-1 hash joins over per-term posting
    lists, each join keyed on (doc, pos) — no document text is re-read.

    Returns (id_col, n_hits) for documents with >= 1 occurrence; n_hits
    counts occurrences (overlapping ones included, matching the naive
    sliding-window count an oracle computes).
    """
    if len(phrase) < 2:
        raise ValueError("phrase must have at least 2 tokens")
    # conditional spread before the tokenize explode: identity at scale,
    # parallelizes the CPU-heavy token pass on low-split local sources
    docs = P.ensure_compute_width(docs, id_col)
    toks = T.tokens(F.lower(F.col(text_col)))
    postings = (
        docs.select(F.col(id_col), F.posexplode(toks).alias("pos", "term"))
        .filter(F.col("term").isin(phrase))
    )
    return _chain_phrase(postings, phrase, id_col)


def _chain_phrase(postings: DataFrame, phrase: list[str], id_col: str) -> DataFrame:
    """Chain per-term posting lists on (doc, pos + offset) -> (id, n_hits)."""
    first = phrase[0]
    acc = (
        postings.filter(F.col("term") == first)
        .select(id_col, F.col("pos").alias("p0"))
    )
    for i, term in enumerate(phrase[1:], start=1):
        nxt = postings.filter(F.col("term") == term).select(
            id_col, (F.col("pos") - i).alias("p0")
        )
        acc = acc.join(nxt, [id_col, "p0"])
    return acc.groupBy(id_col).agg(F.count("*").cast("bigint").alias("n_hits"))


def _bucket_of(term: str, n_buckets: int) -> int:
    """Driver-side twin of ``T.shingle_hash(term) % n_buckets`` (md5-prefix
    hash — engine-reproducible by construction)."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:7], 16) % n_buckets


def build_text_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist a POSITIONAL inverted index: (term, doc, pos) postings
    written partitioned by a stable hash bucket of the term.

    The build-once-query-forever seam for text, mirroring
    similarity.build_ivf_index: one posexplode pass over the corpus, one
    shuffle into term-bucket partitions.  Buckets (not raw terms) as the
    partition key keep the directory count fixed at ``n_buckets`` no matter
    the vocabulary size; md5-prefix bucketing means a QUERY can compute its
    terms' buckets driver-side and read only those partitions.

    Alongside the postings, per-doc token lengths land in the sibling
    ``{path}_stats`` directory — the corpus statistics (dl, N, avgdl) that
    ranked retrieval (:func:`bm25_indexed`) needs without re-tokenizing
    the corpus at query time."""
    _write_index_parts(docs, path, n_buckets, id_col, text_col, "overwrite")


def _write_index_parts(
    docs: DataFrame,
    path: str,
    n_buckets: int,
    id_col: str,
    text_col: str,
    mode: str,
) -> None:
    """One posexplode pass -> bucket-partitioned postings + (doc, dl)
    stats sidecar; shared by the build (overwrite) and append paths."""
    # conditional spread before the tokenize explode: identity at scale,
    # parallelizes the CPU-heavy token pass on low-split local sources
    docs = P.ensure_compute_width(docs, id_col)
    toks = T.tokens(F.lower(F.col(text_col)))
    base = docs.select(
        F.col(id_col),
        toks.alias("_t"),
    )
    postings = base.select(
        F.col(id_col), F.posexplode("_t").alias("pos", "term")
    ).withColumn(
        "bucket", (T.shingle_hash(F.col("term")) % n_buckets).cast("int")
    )
    (
        postings.repartition(F.col("bucket"))
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )
    (
        base.select(F.col(id_col), F.size("_t").cast("bigint").alias("dl"))
        .write.mode(mode)
        .parquet(path + "_stats")
    )


def text_index_append(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a new document batch into a persisted :func:`build_text_index`
    WITHOUT a rebuild — the text-index maintenance twin of
    ``similarity.ivf_index_append`` (and the r10 completion of the
    build-once-query-forever story).

    The inverted index is ADDITIVE by construction: postings for the new
    batch land in the same md5-bucket partitions (one posexplode + one
    bucket exchange over the batch alone), and the ``{path}_stats`` sidecar
    gains the batch's (doc, dl) rows.  Every corpus statistic ranked
    retrieval uses — N, avgdl from the sidecar; df from the matched
    postings — is DERIVED AT QUERY TIME from the stored rows, so the merged
    index answers :func:`bm25_indexed` and :func:`phrase_search_indexed`
    IDENTICALLY to a full rebuild over corpus ∪ batch (oracle row
    ``text_bm25_append``).  Standing index bytes are never read, shuffled,
    or rewritten — maintenance cost is O(|batch|).

    ``n_buckets`` MUST match the build: the bucket hash is the physical
    layout contract that lets queries compute their partitions driver-side.
    Deletions/updates are out of scope by design (immutable-corpus
    contract); compaction after many small appends is
    ``sources.parquet.compact_parquet_dir`` on the bucket directories.
    """
    _write_index_parts(docs, path, n_buckets, id_col, text_col, "append")


def phrase_search_indexed(
    spark,
    path: str,
    phrase: list[str],
    n_buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Phrase search over a :func:`build_text_index` index: identical
    results to :func:`phrase_search`, but the scan touches ONLY the phrase
    terms' bucket partitions (static partition pruning on the literal
    bucket list — visible as PartitionFilters in the plan) — at 100 TB the
    difference between re-tokenizing a corpus and reading a few hundred MB
    of posting lists."""
    if len(phrase) < 2:
        raise ValueError("phrase must have at least 2 tokens")
    buckets = sorted({_bucket_of(t, n_buckets) for t in phrase})
    postings = (
        spark.read.schema(file_schema(spark, path)).parquet(path)
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(phrase))
    )
    return _chain_phrase(postings, phrase, id_col)


def _idf_factor(idf: str):
    """idf column builder shared by the scan and indexed BM25 paths.

    - ``"raw"`` (default): the ratio N/df — division is correctly rounded
      in IEEE 754, so scores hash-compare across engines (the registry
      oracle requires this).  Per-term rankings are IDENTICAL to any
      monotone idf, because idf is constant within a term.
    - ``"robertson"``: textbook BM25+ idf ln((N-df+0.5)/(df+0.5)+1) for
      users expecting standard score magnitudes; ``ln`` is platform-math,
      so this variant is pytest-pinned (rank equivalence), not
      oracle-hashed."""
    if idf == "raw":
        return F.col("n") / F.col("df")
    if idf == "robertson":
        return F.log(
            (F.col("n") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
    raise ValueError(f"idf must be 'raw' or 'robertson', got {idf!r}")


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    idf: str = "raw",
) -> DataFrame:
    """Un-windowed BM25 scores, one row per (term, matching doc): the
    scored-posting set :func:`bm25_topk` windows per-term and
    fusion.hybrid machinery aggregates per-doc.  Columns: (term, id_col,
    tf, dl, df, score).  Plan and determinism contract are bm25_topk's —
    this is the shared scoring stage, factored out so the hybrid path
    doesn't pay a second tokenize+shuffle."""
    if not terms:
        raise ValueError("terms must be non-empty")
    # conditional spread before the tokenize explode: identity at scale,
    # parallelizes the CPU-heavy token pass on low-split local sources
    docs = P.ensure_compute_width(docs, id_col)
    term_arr = F.array(*[F.lit(t) for t in terms])
    toks = T.tokens(F.lower(F.col(text_col)))
    base = docs.select(
        F.col(id_col),
        F.filter(toks, lambda t: F.array_contains(term_arr, t)).alias("_m"),
        F.size(toks).cast("bigint").alias("dl"),
    )
    lens = base.agg(
        F.sum("dl").alias("_tot"), F.count(F.lit(1)).alias("n")
    ).select(
        "n", (F.col("_tot").cast("double") / F.col("n")).alias("avgdl")
    )
    postings = base.select(id_col, "dl", F.explode("_m").alias("term"))
    tf = postings.groupBy("term", id_col).agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    sat = (F.col("tf") * F.lit(k1 + 1)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(lens))
        .select(
            "term",
            id_col,
            "tf",
            "dl",
            "df",
            (sat * _idf_factor(idf)).alias("score"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    idf: str = "raw",
) -> DataFrame:
    """Per-term top-``k`` documents under BM25 — TF-IDF's production
    successor: term-frequency saturation (k1) plus document-length
    normalization (b), so a term repeated 50 times in a short doc stops
    outranking genuinely relevant long docs.

    Same plan shape as :func:`tfidf_topk` — postings pre-filtered to the
    query terms BEFORE exploding (O(matches), never O(corpus)), df/N/avgdl
    broadcast, one small (term, doc) shuffle, per-term top-k window.  The
    extra ingredient, per-doc token length, is a row-local ``size()`` on
    the scan.

    Determinism: the default idf factor is the raw ratio N/df (same
    rationale as tfidf_topk — ``ln`` is not correctly rounded across math
    libraries, a ratio is, and the ranking is order-isomorphic for fixed
    N; pass ``idf="robertson"`` for textbook ln((N-df+.5)/(df+.5)+1)
    score magnitudes — identical per-term rankings, pinned in
    tests/test_search.py); the saturation term is the FIXED IEEE op
    sequence
    ``(tf*(k1+1)) / (tf + k1*((1-b) + b*dl/avgdl))`` with
    ``avgdl = total_tokens/N`` — reproducible bit-for-bit in any engine
    that evaluates the same expression tree.  Returns (term, id_col, tf,
    dl, df, score, rank)."""
    scored = bm25_scores(docs, terms, k1, b, id_col, text_col, idf)
    w = Window.partitionBy("term").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def bm25_indexed(
    spark,
    path: str,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    idf: str = "raw",
) -> DataFrame:
    """BM25 over a :func:`build_text_index` index: identical results to
    :func:`bm25_topk` (pinned in tests), but tf comes from the PRUNED
    posting partitions (only the query terms' buckets are read — static
    partition pruning) and dl/N/avgdl from the tiny ``{path}_stats``
    sidecar — at 100 TB the difference between re-tokenizing the corpus
    per query and reading a few hundred MB of postings plus a doc-stats
    table.  The (term, doc) tf set is O(matches); corpus-level N/avgdl
    are one aggregate over the stats sidecar.  The tf <-> stats join is a
    plain equi join sized by AQE at runtime: tf is bounded by the query
    terms' postings, which is broadcast-small for selective terms but can
    approach |docs| rows for stop-word-like terms — so a hard broadcast
    hint would be wrong in general, and AQE's runtime size check picks
    broadcast exactly when tf actually is small."""
    if not terms:
        raise ValueError("terms must be non-empty")
    buckets = sorted({_bucket_of(t, n_buckets) for t in terms})
    postings = (
        spark.read.schema(file_schema(spark, path)).parquet(path)
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
    )
    stats_path = path + "_stats"
    stats = spark.read.schema(file_schema(spark, stats_path)).parquet(stats_path)
    lens = stats.agg(
        F.sum("dl").alias("_tot"), F.count(F.lit(1)).alias("n")
    ).select("n", (F.col("_tot").cast("double") / F.col("n")).alias("avgdl"))
    tf = postings.groupBy("term", id_col).agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.join(stats, id_col)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    sat = (F.col("tf") * F.lit(k1 + 1)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(lens))
        .select(
            "term", id_col, "tf", "dl", "df",
            (sat * _idf_factor(idf)).alias("score"),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def doc_keywords(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hint: str = "auto",
) -> DataFrame:
    """Per-DOCUMENT top-``k`` characteristic terms by ``tf * (N / df)`` —
    the inversion of :func:`tfidf_topk` (per-term top docs): the
    keyword-extraction pass that labels every document in a corpus, feeding
    topic routing, index pruning, and human inspection samples.

    Returns (id_col, term, tf, df, score, rank), rank 1..k per doc, ties
    broken by ascending term so the labeling is a total function of the
    corpus.  Same raw-ratio idf policy as tfidf_topk/BM25 (a ratio is
    correctly rounded where ln is platform math), so rows hash-compare
    across engines.

    Plan: one full token explode (the text family's standard cost) -> one
    map-side-combined (term, doc) tf aggregate -> per-term df aggregate.
    UNLIKE the query-driven searchers, the df table here is the WHOLE
    vocabulary — Heaps-sublinear but ~1e8+ terms at 100 TB, far past
    broadcast range — so the tf<-df join defaults to an AQE-sized equi
    join on the term (``hint="auto"``); pass ``hint="broadcast"`` only
    for corpora whose vocabulary demonstrably fits."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if hint not in ("broadcast", "auto"):
        raise ValueError(f"hint must be 'broadcast' or 'auto', got {hint!r}")
    # conditional spread before the tokenize explode: identity at scale,
    # parallelizes the CPU-heavy token pass on low-split local sources
    docs = P.ensure_compute_width(docs, id_col)
    # tokens() filters empties itself since the r13 rewrite — no outer
    # empty-token pass needed (advice r13)
    toks = T.tokens(F.lower(F.col(text_col)))
    postings = docs.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = postings.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if hint == "broadcast":
        df_ = F.broadcast(df_)
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            (F.col("tf") * F.col("n") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )
