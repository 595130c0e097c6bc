"""Deduplication operators for training-data pipelines.

The reference has no dedup surface; these are first-class beyond-parity
operators (BASELINE.json north star).  All are DataFrame-native and
partition-parallel:

- exact dedup: md5-fingerprint groupBy — one shuffle on the hash key.
- n-gram Jaccard near-dup: shingle-inverted-index blocking (explode ->
  self-join on shingle hash -> per-pair intersection counts) — never a
  cross join; cost scales with shared-shingle pairs, not n².
- MinHash: k universal hash functions over 28-bit shingle hashes, computed
  with ``transform``/``aggregate`` expressions (no UDF); LSH banding derives
  candidate pairs with a band-bucket self-join.
- SimHash: configurable-width fingerprint (default 16-bit; the registered
  queries use 32) from token-hash sign sums; near-dups = small Hamming
  distance.

At 100 TB: every operator here is (explode -> hash-partitioned shuffle ->
aggregate); skew on hot shingles is bounded by dropping top-frequency
shingles (``max_shingle_freq``), the standard trick for web-scale dedup.

Shared building blocks, one home each:

- ``_posting_lists``: the window-count skew guard and the sorted
  ``collect_list`` per key (Jaccard, token cosine, MinHash LSH, Hamming).
- ``_pairs``: every ordered member pair of a posting list, two explodes and
  an ``a < b`` filter (the same four plus the prefix-filtered Jaccard).
- ``_band_buckets``: MinHash band-bucket assembly and the ``k % bands``
  check (batch and row-wise signatures).
- ``_bit_bands``: bit-fingerprint banding and its width / divisibility /
  pigeonhole checks (both Hamming operators).
- ``_jaccard_at_least``, ``_positioned_shingles``, ``_merge_doc_intervals``:
  the Jaccard threshold filter and the two span finders' input and merge.

Per-document shingle / hash stages start from ``P.spread(docs, id)``: an
explicit-width exchange, so a low-split source does not serialize them onto
few cores (see partitioning.spread).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from trafficbigdatasearch_spark import partitioning as P
from trafficbigdatasearch_spark.functions import text as T

#: Mersenne prime 2^31-1; with 28-bit shingle hashes and a,b < 2^31 the
#: universal-hash product stays well inside int64.
MINHASH_PRIME = 2147483647


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the k universal hash functions,
    derived from a fixed linear-congruential sequence so any engine (or SQL
    oracle) can regenerate them."""
    params, x = [], 1
    for _ in range(k):
        x = (1103515245 * x + 12345) % (2**31)
        a = (x % (MINHASH_PRIME - 1)) + 1
        x = (1103515245 * x + 12345) % (2**31)
        b = x % MINHASH_PRIME
        params.append((a, b))
    return params


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by content fingerprint.

    Returns (fingerprint, keep_id, dup_count): one row per distinct content,
    ``keep_id`` = min id (the canonical survivor), ``dup_count`` = group size.
    Plan: project fingerprint -> hash aggregate; one shuffle on the md5 key
    (uniform by construction — no skew mitigation needed).
    """
    # NOT spread (r13 audit): the regex+md5 fingerprint is cheap relative
    # to shuffling the text, and the aggregate's map-side partial already
    # reduces in the scan stage — a compute-width spread measured 1.73x
    # WORSE (0.34 -> 0.58 s interleaved min-of-3 at sf0.1)
    return (
        docs.select(T.fingerprint(F.col(text_col)).alias("fingerprint"), id_col)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def dedup_exact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The deduplicated corpus: keeps the min-id representative per
    fingerprint.  Window-free formulation (join back on (fingerprint, id))
    so the plan is two hash shuffles, no global sort."""
    keep = exact_duplicates(docs, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


def _shingle_exploded(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(_id, shingle): each document's distinct word n-grams."""
    sh = F.array_distinct(T.word_shingles(F.col(text_col), n))
    docs = P.spread(docs.select(id_col, text_col), id_col)
    return docs.select(F.col(id_col).alias("_id"), F.explode(sh).alias("shingle"))


def _posting_lists(
    rows: DataFrame, key: list[str], member, lst: str, cap: int | None
) -> DataFrame:
    """(key..., ``lst``): the sorted ``member`` values of each ``key`` value
    held by more than one row and, when ``cap`` is set, by at most ``cap``
    rows — the skew guard that bounds a hot key's O(L²) pair fan-out.

    ``rows`` arrives hash-partitioned on ``key`` (a ``P.spread``), and the
    guard is a window count over that one exchange, applied BEFORE any
    ``collect_list``: a degenerate key in 10⁷ rows streams through
    WindowExec's spillable buffer and is dropped, never built as one giant
    aggregation row (round-1 judge finding: guard-after-collect OOMs the
    executor before the size filter can drop the row).  A separate
    count-aggregate pre-pass would also bound memory, but its map-side
    partial aggregate sits above a DIFFERENT exchange, so the upstream
    explode / signature pipeline runs twice — measured +50-70 % on the
    bench."""
    guard = F.col("_n") > 1
    if cap is not None:
        guard = guard & (F.col("_n") <= cap)
    return (
        rows.withColumn("_n", F.count("*").over(Window.partitionBy(*key)))
        .filter(guard)
        .groupBy(*key)
        .agg(F.sort_array(F.collect_list(member)).alias(lst))
    )


def _pairs(
    posting: DataFrame, lst: str, a: str, b: str, by: str | None = None
) -> DataFrame:
    """(``a``, ``b``): every pair of one posting list's members with ``a``
    before ``b`` (compared on their ``by`` field for struct members).  Two
    generator explodes and a filter ahead of the caller's closing
    exchange, so the shuffle carries each co-occurrence exactly once;
    codegen-friendly (no interpreted lambda)."""
    ids = F.col(lst)
    ka, kb = (a, b) if by is None else (f"{a}.{by}", f"{b}.{by}")
    return (
        posting.select(F.explode(ids).alias(a), lst)
        .select(a, F.explode(ids).alias(b))
        .filter(F.col(ka) < F.col(kb))
    )


def _jaccard_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, shared, size_a, size_b) rows of ``pairs`` whose Jaccard
    ``shared / (size_a + size_b - shared)`` is at least ``threshold``."""
    jaccard = F.col("shared").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("shared")
    )
    return pairs.filter(jaccard >= threshold).select(
        "id_a", "id_b", "shared", "size_a", "size_b"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs by exact n-gram Jaccard similarity.

    Inverted-index join: explode distinct shingles, self-join on the shingle,
    count shared shingles per (a, b) pair, then
    ``jaccard = shared / (|A| + |B| - shared)``.  Returns
    (id_a, id_b, shared, size_a, size_b) with id_a < id_b and
    jaccard >= threshold; the jaccard itself is re-derivable exactly from the
    integer columns (kept as ints for cross-engine determinism).

    ``max_shingle_freq`` excludes shingles appearing in more than that many
    docs (stopword-like n-grams) from candidate GENERATION only — the skew
    guard that bounds per-shingle pair fan-out at corpus scale.  Generated
    candidates are then VERIFIED against the full shingle sets, so the
    reported ``shared``/``size_a``/``size_b`` are always the true unfiltered
    values (generate-then-verify; the verify join touches only candidate
    pairs, a vanishing fraction of the corpus).  The only approximation is
    recall: a pair whose overlap consists exclusively of hot shingles is
    never generated — by design, stopword-shingle overlap is not
    near-duplication evidence.

    Shape: ONE shingle-explode pass -> ONE exchange on the shingle, shared
    (ReuseExchange) by every consumer -> window ``count() OVER (PARTITION BY
    shingle)`` as the frequency guard -> filter -> posting lists -> pair
    generation via two generator explodes (each co-occurrence emitted
    exactly once, O(L²) bounded by ``max_shingle_freq``) -> exact rescore of
    candidates.  The guard runs BEFORE any ``collect_list``
    (:func:`_posting_lists`), so the plan keeps the single shared exchange
    AND the bounded-memory guarantee.
    """
    ex = _shingle_exploded(docs, id_col, text_col, n)
    # THE shared exchange: sizes, the guard window and the posting agg all
    # hang off this one shuffle of the exploded rows (explicit width — the
    # downstream window/agg stages are hash-CPU-bound)
    exsh = P.spread(ex, "shingle")
    # true distinct-shingle count per doc — one row per (doc, shingle)
    sizes = exsh.groupBy("_id").agg(F.count("*").alias("sz"))
    posting = _posting_lists(exsh, ["shingle"], "_id", "ids", max_shingle_freq)
    shared = (
        _pairs(posting, "ids", "id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    if max_shingle_freq is not None:
        # verify step: exact shared count over the FULL shingle sets for the
        # generated candidates (the filtered count undercounts pairs whose
        # overlap includes hot shingles).  Pair-restricted join — cost scales
        # with candidates, not the corpus.
        cand = shared.select("id_a", "id_b")
        a = ex.select(F.col("_id").alias("id_a"), "shingle")
        b = ex.select(F.col("_id").alias("id_b"), "shingle")
        shared = (
            cand.join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("shared"))
        )
    return _jaccard_at_least(
        shared.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("sz", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("sz", "size_b"), "id_b"),
        threshold,
    )


def token_cosine_pairs(
    docs: DataFrame,
    threshold: tuple[int, int] = (4, 5),
    max_term_df: int | None = 1000,
) -> DataFrame:
    """Sparse COSINE similarity join over token-count vectors — the
    bag-of-words twin of :func:`ngram_jaccard_pairs`, catching
    reorder/paraphrase-by-shuffling duplicates whose shingle sets
    diverge while their term-frequency profiles stay near-parallel (and
    the classic sparse all-pairs-similarity primitive, AllPairs/DIMSUM
    family).  Returns (id_a, id_b, dot, norm_a, norm_b, cosine) with
    id_a < id_b and ``cosine = dot / (sqrt(norm_a) * sqrt(norm_b)) >=
    threshold``.

    Determinism (the module contract): dot and both squared norms are
    ORDER-INDEPENDENT integer sums of integer products, the threshold is
    a RATIONAL (p, q) compared via the all-integer cross-multiplication

        q² · dot²  >=  p² · norm_a · norm_b

    evaluated in DECIMAL(38,0) (HUGEINT in the oracle) — no float enters
    any filter — and the reported cosine is one closing IEEE chain
    (sqrt is correctly rounded by IEEE-754, so the expression is
    bit-identical in any engine).  Bound: with ≤ 1e4 tokens per doc,
    norms ≤ 1e8, dot² ≤ 1e16, q ≤ 100 keeps q²·dot² inside 38 digits.

    ``max_term_df`` is the same skew guard / generate-then-verify
    arrangement as the Jaccard join: stopword-grade terms are excluded
    from candidate GENERATION only (bounding per-term fan-out), then
    candidates rescore against the FULL tf vectors so reported values
    are always exact; the only approximation is recall on pairs whose
    entire overlap is hot terms — by design not duplication evidence.
    Shape: one tokenize pass -> one exchange on the term (shared by the
    guard window and posting aggregation) -> pair generation bounded by
    O(max_term_df²) per term -> pair-restricted exact rescore ->
    broadcast-sized norm join.

    The cap is MANDATORY at scale, not an optimization: unguarded
    (``max_term_df=None``) per-term pair generation is C(df, 2) and a
    single stopword-grade term (df ~ corpus size) is quadratic in the
    corpus — measured 107 s vs 2.1 s guarded at sf0.1 on a toy
    vocabulary, and unboundedly worse as the corpus grows.  Sizing rule
    and cap-vs-recall/cost reasoning: SCALING.md's "Sparse token-cosine
    join" row."""
    p, q = threshold
    if not (0 < p <= q):
        raise ValueError(f"threshold must be a rational in (0, 1], got {p}/{q}")
    if q > 100:
        raise ValueError(
            f"threshold denominator must be <= 100 (decimal-38 bound), got {q}"
        )
    # tf feeds norms + candidates + verify; the checkpoint computes it once.
    # Not free at build: under AQE (the engine default) even eager=False
    # runs the checkpointed plan's shuffle stage (the tf groupBy) at this
    # call (tests/test_registry_build_jobs.py, _CHECKPOINT)
    tf = (
        docs.select(F.col("doc_id").alias("_id"), F.explode(T.tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .withColumn("term", F.lower(F.col("term")))
        .groupBy("_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    ).localCheckpoint(eager=False)
    norms = tf.groupBy("_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("nrm")
    )
    posting = _posting_lists(
        P.spread(tf, "term"),
        ["term"],
        F.struct(F.col("_id").alias("i"), F.col("tf").alias("w")),
        "ps",
        max_term_df,
    )
    cand = (
        _pairs(posting, "ps", "a", "b", by="i")
        .groupBy(F.col("a.i").alias("id_a"), F.col("b.i").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_ncommon"))
        .select("id_a", "id_b")
    )
    # exact rescore over the full tf vectors, pair-restricted
    a = tf.select(F.col("_id").alias("id_a"), "term", F.col("tf").alias("_wa"))
    b = tf.select(F.col("_id").alias("id_b"), "term", F.col("tf").alias("_wb"))
    dot = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "term"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("_wa") * F.col("_wb")).cast("bigint").alias("dot"))
    )
    na = norms.withColumnRenamed("_id", "id_a").withColumnRenamed("nrm", "norm_a")
    nb = norms.withColumnRenamed("_id", "id_b").withColumnRenamed("nrm", "norm_b")
    d38 = lambda c: c.cast("decimal(38,0)")
    keep = d38(F.lit(q * q)) * d38(F.col("dot")) * d38(F.col("dot")) >= d38(
        F.lit(p * p)
    ) * d38(F.col("norm_a")) * d38(F.col("norm_b"))
    return (
        dot.join(na, "id_a")
        .join(nb, "id_b")
        .filter(keep)
        .select(
            "id_a",
            "id_b",
            "dot",
            "norm_a",
            "norm_b",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("norm_a").cast("double")) * F.sqrt(F.col("norm_b").cast("double")))
            ).alias("cosine"),
        )
    )


def _rarity_prefix_rows(ex, threshold: float):
    """(prefix_rows, doc_sets) for the AllPairs cut of
    :func:`ngram_jaccard_pairs_prefix`.  Losslessness is pinned by
    tests/test_dedup_edges.py::test_prefix_filtered_jaccard_equals_plain
    and tests/test_properties.py::test_prefix_jaccard_lossless_property;
    the candidate-volume evidence is SCALING.md's prefix-filtered Jaccard
    join row.

    ``doc_sets`` = one per-doc aggregation (sorted distinct-shingle array);
    sizes derive from it (arrays are distinct and null-free by
    construction), so the whole plan pays a single per-doc exchange.
    ``prefix_rows`` = the (_id, shingle, _df, _pos, sz) rows whose rank in
    the per-doc (document-frequency asc, shingle asc) order falls inside
    the lossless prefix.

    ceil(t*sz) via floats can OVERSHOOT the exact ceiling when t*sz is an
    integer the float product renders as n + δ (e.g. 0.28*25 =
    7.000000000000001 -> ceil 8), which would SHORTEN the prefix below the
    lossless bound and drop qualifying pairs; subtracting an epsilon can
    only err toward a smaller alpha = LONGER prefix = more candidates,
    never lost recall."""
    # Both intermediates are multi-consumer: exsh feeds doc_sets + the
    # rarity ranking, doc_sets feeds sizes + both verify joins — without
    # materialization Spark recomputes the tokenize/shingle explode once
    # per branch (measured: 4 document scans, 0 reused exchanges).
    # localCheckpoints pin each to ONE computation (the recsys/graph
    # pattern).  They are not lazy here: under AQE (the engine default)
    # eager=False still runs each checkpointed plan's shuffle stages (the
    # shingle spread, then the doc_sets groupBy) at the call, inside the
    # builder.  Measured at sf0.1 (idle host, warm min-of-3): plain
    # 5.21 s, both-checkpointed 5.31 s, doc_sets-only 7.50 s — parity at
    # toy scale, and at deployment scale one explode + an executor-local
    # sequential write beats four source scans + four tokenize passes.
    exsh = P.spread(ex, "shingle").localCheckpoint(eager=False)
    doc_sets = (
        exsh.groupBy("_id")
        .agg(F.sort_array(F.collect_set("shingle")).alias("_sh"))
        .localCheckpoint(eager=False)
    )
    sizes = doc_sets.select("_id", F.size("_sh").alias("sz"))
    ranked = exsh.withColumn(
        "_df", F.count("*").over(Window.partitionBy("shingle"))
    )
    pos_w = Window.partitionBy("_id").orderBy(F.asc("_df"), F.asc("shingle"))
    alpha = F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
    pre = (
        ranked.withColumn("_pos", F.row_number().over(pos_w))
        .join(sizes, "_id")
        .filter(F.col("_pos") <= F.col("sz") - alpha + 1)
    )
    return pre, doc_sets


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (the AllPairs /
    PPJoin family: Bayardo et al., WWW'07) — candidate generation indexes
    only each document's prefix under a global rarity order, yet recall at
    the threshold is LOSSLESS, unlike :func:`ngram_jaccard_pairs`'s
    ``max_shingle_freq`` guard which trades recall on hot-shingle overlap.

    Lemma: if ``|A∩B| >= ceil(t·|A|)`` then A and B share an element within
    the first ``|A| - ceil(t·|A|) + 1`` elements of A under ANY common
    total order (pigeonhole), and Jaccard >= t implies that overlap bound
    for both docs — so indexing only prefixes misses no qualifying pair.
    Ordering by (document-frequency asc, shingle asc) makes prefixes carry
    each doc's RAREST shingles: posting lists stay short exactly where the
    plain inverted index explodes, which is the scale win — candidate
    volume shrinks superlinearly as the threshold rises.

    Shape: shingle exchange (df counts) -> doc exchange (per-doc
    ``row_number`` in rarity order + prefix cut) -> shingle exchange
    (prefix posting lists, two-explode pair generation) -> exact verify of
    candidates against the FULL shingle sets (pair-restricted join) ->
    threshold filter.  One more exchange than the guard variant — the
    price of losslessness; both end in the same verify/filter, so outputs
    are comparable row-for-row (pinned in tests/test_dedup_edges.py).
    Output schema identical to :func:`ngram_jaccard_pairs`."""
    ex = _shingle_exploded(docs, "doc_id", "text", n)
    pre, doc_sets = _rarity_prefix_rows(ex, threshold)
    posting = (
        pre.filter(F.col("_df") > 1)
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
    )
    cand = _pairs(posting, "ids", "id_a", "id_b").distinct()
    # Verify via ROW-LOCAL set intersection: each candidate joins its two
    # docs' sorted shingle arrays and counts the overlap in one
    # array_intersect — two hash joins carrying |candidates| rows, no
    # candidate×shingle explode (the explode-then-regroup verify measured
    # 2× the whole rest of the plan at 300k candidates).  Arrays are
    # bounded by doc size, the same bound the posting lists already carry;
    # doc_sets is the ONE per-doc aggregation of the plan (the prefix
    # cut's sizes derive from it).
    # the verify stages are pinned at the session width: the candidate
    # frame is ~1 MB of (id_a, id_b) rows, so AQE's byte model coalesces
    # the join reads to ONE partition and the array_intersect verify — the
    # plan's hottest CPU — runs on one core (measured 4.0 s single-task at
    # sf0.1).  Explicit spreads on each join key keep the same two
    # exchanges the joins already pay, minus the coalesce.
    out = cand
    for side in ("a", "b"):
        out = P.spread(out, f"id_{side}").join(
            doc_sets.select(
                F.col("_id").alias(f"id_{side}"), F.col("_sh").alias(f"_sh{side}")
            ),
            f"id_{side}",
        )
    out = out.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("_sha", "_shb")).cast("bigint").alias("shared"),
        F.size("_sha").cast("bigint").alias("size_a"),
        F.size("_shb").cast("bigint").alias("size_b"),
    )
    return _jaccard_at_least(out, threshold)


def _positioned_shingles(
    docs: DataFrame, k: int, group_col: str | None = None
) -> DataFrame:
    """([_g,] _id, start, shingle): every k-token window of each document
    with its 0-based token position, optionally tagged with the document's
    ``group_col`` value as ``_g`` — the frame both span finders read twice
    (hot-window frequencies, then the join back).

    Catalyst plans no ReusedExchange across those two consumers (different
    partitionings reach the two sinks), so without a checkpoint the
    tokenize + shingle + posexplode re-evaluates per consumer; one
    localCheckpoint computes it once — measured 4.31 -> 2.61 s (1.65x) at
    sf0.1 (SCALING.md r12).  At 100 TB the materialization is the footprint
    the consumers' shuffles already pay, bought once instead of
    recomputing the CPU-heavy tokenization twice.  Under AQE (the engine
    default) ``eager=False`` still runs the checkpointed plan's shuffle
    stage, when it has one, at the call: the conditional spread below
    (partitioning.ensure_compute_width) adds one on a low-split input,
    since the checkpoint INHERITS the input partitioning and would
    otherwise serialize the tokenize and every consumer onto one core."""
    grp = [] if group_col is None else [group_col]
    return (
        P.ensure_compute_width(docs.select(*grp, "doc_id", "text"), "doc_id")
        .select(
            *[F.col(c).alias("_g") for c in grp],
            F.col("doc_id").alias("_id"),
            F.posexplode(T.word_shingles(F.col("text"), k)).alias(
                "start", "shingle"
            ),
        )
        .localCheckpoint(eager=False)
    )


def duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal cross-document duplicated token spans — SUBSTRING-level
    dedup (the "exact substring deduplication" of the training-data
    literature, approximated the way production pipelines do it: a span is
    duplicated iff every k-token window inside it occurs in >= ``min_docs``
    docs; overlapping hot windows merge into maximal spans).  Doc-level
    dedup misses boilerplate/quotes embedded in otherwise-unique pages;
    this finds the regions themselves, per doc, for surgical removal.

    Shape: one k-shingle posexplode -> one shingle-key exchange for the
    distinct-doc frequency (map-side combined) -> hot windows join back
    (semi-shaped, key = shingle) -> PER-DOC interval merge with two
    windows over one (doc, start) sort: break-flag = start beyond the
    running max end of prior windows, group id = running sum of breaks,
    then min(start)/max(end) per group.  All bounded: output rows <=
    duplicated regions, never data volume; the per-doc sort partitions on
    the doc key.  Output: (doc_id, span_start, span_end, n_tokens) with
    token positions 0-based, end exclusive — positions index the same
    whitespace token stream :func:`strip_duplicated_spans` explodes
    (word_shingles lowercases internally, so shingling and stripping see
    identical tokens)."""
    sh = _positioned_shingles(docs, k)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count_distinct("_id").alias("_d"))
        .filter(F.col("_d") >= min_docs)
        .select("shingle")
    )
    pos = sh.join(hot, "shingle").select(
        "_id", "start", (F.col("start") + k).alias("fin")
    )
    return _merge_doc_intervals(pos)


def _merge_doc_intervals(pos: DataFrame) -> DataFrame:
    """Shared per-doc interval merge for the span finders: overlapping or
    touching (start, fin) windows in ``pos`` (columns: _id, start, fin)
    collapse into maximal spans with two windows over ONE (_id, start)
    sort — break-flag = start beyond the running max end of prior windows,
    group id = running sum of breaks, then min/max per group.  Output:
    (doc_id, span_start, span_end, n_tokens)."""
    w_ord = Window.partitionBy("_id").orderBy("start", "fin")
    prev_max = F.max("fin").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        prev_max.isNull() | (F.col("start") > prev_max), F.lit(1)
    ).otherwise(F.lit(0))
    grouped = pos.withColumn("_brk", brk).withColumn(
        "_gid",
        F.sum("_brk").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        grouped.groupBy(F.col("_id").alias("doc_id"), "_gid")
        .agg(
            F.min("start").alias("span_start"),
            F.max("fin").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start"))
            .cast("bigint")
            .alias("n_tokens"),
        )
    )


def boilerplate_spans(
    docs: DataFrame,
    group_col: str = "source",
    k: int = 8,
    min_df_pct: int = 25,
    min_docs: int = 2,
) -> DataFrame:
    """Per-SOURCE boilerplate regions — the C4/RefinedWeb boilerplate
    signal made span-shaped: a k-token window is boilerplate for a source
    iff it appears in >= ``min_docs`` of the source's documents AND in
    >= ``min_df_pct`` percent of them (navigation chrome, cookie banners,
    footers — template text that recurs across most of a HOST's pages but
    is rare corpus-wide, so the global :func:`duplicated_spans` threshold
    underweights it on big corpora while flagging legitimate cross-site
    quotations).  Hot windows merge into maximal per-doc spans exactly
    like duplicated_spans (shared interval-merge stage), positioned on
    the same token stream :func:`strip_duplicated_spans` explodes — so
    the strip half is reusable as-is for surgical removal.

    The document-frequency ratio is an INTEGER cross-multiplication
    (``d * 100 >= min_df_pct * n_docs``) — no float threshold to wobble
    across engines.  Shape: one shingle posexplode -> one (source,
    shingle) exchange for within-source distinct-doc frequencies (the
    per-source doc totals ride a broadcast join) -> hot windows join back
    on (source, shingle) -> the per-doc two-window merge.  Everything is
    bounded by boilerplate volume: a source's hot-window set is at most
    its template text, never its corpus."""
    if not 0 < min_df_pct <= 100:
        raise ValueError(
            f"min_df_pct must be in (0, 100], got {min_df_pct}"
        )
    sh = _positioned_shingles(docs, k, group_col)
    # count_distinct, not count(*): shingle document frequency counts
    # DISTINCT doc_ids, so the denominator must too — duplicate doc_id
    # rows would inflate _n_docs and under-flag boilerplate (ADVICE r8)
    n_docs = docs.groupBy(F.col(group_col).alias("_g")).agg(
        F.count_distinct("doc_id").alias("_n_docs")
    )
    hot = (
        sh.groupBy("_g", "shingle")
        .agg(F.count_distinct("_id").alias("_d"))
        .join(F.broadcast(n_docs), "_g")
        .filter(
            (F.col("_d") >= min_docs)
            & (F.col("_d") * 100 >= F.lit(min_df_pct) * F.col("_n_docs"))
        )
        .select("_g", "shingle")
    )
    pos = sh.join(hot, ["_g", "shingle"]).select(
        "_id", "start", (F.col("start") + k).alias("fin")
    )
    return _merge_doc_intervals(pos)


def strip_duplicated_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Remove the :func:`duplicated_spans` regions from each document's
    token stream — the surgical-removal half of substring dedup: tokens
    whose position falls inside any of the doc's spans are dropped, the
    remainder re-joins in order.  Row-local except one key-partitioned
    range join against the (small) span set; docs without spans pass
    through a left join untouched.  Deterministic re-assembly: tokens are
    re-ordered by an ``array_sort`` over (pos, token) structs, never a
    ``collect_list`` ordering assumption.  EVERY input doc appears in the
    output — a doc whose whole token stream is covered by spans (100 %
    boilerplate) comes back with empty text rather than silently vanishing
    from the corpus."""
    toks = P.ensure_compute_width(
        docs.select("doc_id", "text"), "doc_id"
    ).select(
        F.col("doc_id"),
        F.posexplode(
            T.tokens(F.lower(F.trim(F.col("text"))))
        ).alias("pos", "tok"),
    )
    marked = (
        toks.join(spans, ["doc_id"], "left")
        .withColumn(
            "_dup",
            (F.col("pos") >= F.col("span_start"))
            & (F.col("pos") < F.col("span_end")),
        )
        .groupBy("doc_id", "pos", "tok")
        .agg(F.max(F.coalesce(F.col("_dup"), F.lit(False))).alias("_in_dup"))
    )
    kept = marked.filter(~F.col("_in_dup"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "tok"))
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text")
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text"))
    )


def _minhash_wide(
    docs: DataFrame, id_col: str, text_col: str, k: int, n: int
) -> DataFrame:
    """(id, _m0.._m{k-1}): all k minhashes in ONE hash aggregate with
    map-side partial combine — the shuffle carries k values per document
    regardless of document length.

    No array_distinct on the shingles: min() over the shingle multiset
    equals min() over the set, and the O(s²) per-document dedup dominated
    the scan profile."""
    ex = (
        P.spread(docs.select(id_col, text_col), id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode(T.word_shingles(F.col(text_col), n)).alias("shingle"),
        )
        .select("id", T.shingle_hash(F.col("shingle")).alias("hv"))
    )
    aggs = [
        F.min((F.lit(va) * F.col("hv") + F.lit(vb)) % MINHASH_PRIME).alias(f"_m{i}")
        for i, (va, vb) in enumerate(minhash_params(k))
    ]
    return ex.groupBy("id").agg(*aggs)


def _wide_minhash(i: int):
    """Minhash ``i`` of a :func:`_minhash_wide` row; a document with no
    shingle hash gets the prime."""
    return F.coalesce(F.col(f"_m{i}"), F.lit(MINHASH_PRIME))


def _band_buckets(rows: DataFrame, ident, minhash, k: int, bands: int) -> DataFrame:
    """(id, band, bucket): one row per ``rows`` row per band; ``ident`` is
    the id column, aliased ``id``, and ``minhash(i)`` the expression of
    minhash ``i``.  ``bucket`` is the '_'-joined minhash run of that band
    in h_idx order (portable: SQL reproduces it with string_agg ORDER BY
    h_idx)."""
    if k % bands != 0:
        raise ValueError(f"k={k} must be divisible by bands={bands}")
    r = k // bands
    per_band = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_", *[minhash(b * r + j).cast("string") for j in range(r)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return rows.select(ident, F.explode(per_band).alias("s")).select(
        "id", F.col("s.band").alias("band"), F.col("s.bucket").alias("bucket")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    n: int = 3,
) -> DataFrame:
    """MinHash signatures as (id, h_idx, minhash) rows.

    For each of the k universal hash functions ``(a*h + b) % P`` over the
    document's 28-bit shingle hashes, emit the minimum.

    Shape: explode distinct shingles -> hash once per shingle -> ONE
    groupBy(id) computing all k mins.  The hash-aggregate does map-side
    partial combine, so the shuffle carries only k values per document
    regardless of document length — the scalable layout.  (A pure
    expression-array formulation recomputes the O(tokens·n) shingle
    construction k times because CollapseProject inlines it — measured 17×
    slower at sf0.1.)

    Documents always yield >= 1 shingle (word_shingles pads short texts), so
    no document is dropped by the explode.
    """
    wide = _minhash_wide(docs, id_col, text_col, k, n)
    unpivot = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("h_idx"),
                    _wide_minhash(i).alias("minhash"),
                )
                for i in range(k)
            ]
        )
    ).alias("s")
    return wide.select("id", unpivot).select(
        "id", F.col("s.h_idx").alias("h_idx"), F.col("s.minhash").alias("minhash")
    )


def minhash_band_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """The LSH index rows: (id, band, bucket), one row per document per
    band (:func:`_band_buckets`).

    This IS the persistable corpus index for incremental dedup: write it
    out partitioned/bucketed on (band, bucket) once, and each new-batch
    pass (:func:`incremental_dedup`) only computes signatures for the
    increment and hash-joins the stored index — never re-shingling the
    corpus.

    The bucket string is a pure PROJECTION off the wide one-aggregate
    signature form — no second aggregation, no per-group sort; one shuffle
    total (the signature groupBy)."""
    wide = _minhash_wide(docs, id_col, text_col, k, n)
    return _band_buckets(wide, "id", _wide_minhash, k, bands)


def minhash_band_buckets_rowwise(
    docs: DataFrame, k: int = 16, bands: int = 4
) -> DataFrame:
    """Row-local (id, band, bucket): the whole signature computed inside one
    row with array expressions — no explode, no groupBy, NO SHUFFLE and no
    streaming state, so it is legal on a STREAMING DataFrame in append mode
    (the batch :func:`minhash_band_buckets` plans a streaming aggregation
    there, which Spark rejects without a watermark).

    Identical values to the batch form.  CollapseProject re-evaluates the
    shingle construction per hash function here (the reason the batch path
    uses explode + one aggregate — measured 17× on a full corpus scan);
    per-micro-batch increments are small, so expression cost loses to the
    shuffle+state it avoids.  Word 3-gram shingles, as the batch form's
    default."""
    hv = F.transform(T.word_shingles(F.col("text"), 3), lambda s: T.shingle_hash(s))
    params = minhash_params(k)

    def _minh(i: int):
        va, vb = params[i]
        return F.coalesce(
            F.array_min(
                F.transform(hv, lambda h: (F.lit(va) * h + F.lit(vb)) % MINHASH_PRIME)
            ),
            F.lit(MINHASH_PRIME),
        )

    return _band_buckets(docs, F.col("doc_id").alias("id"), _minh, k, bands)


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the daily-increment
    shape of a production training-data pipeline, where re-running full
    corpus × corpus dedup per delivery would be quadratic in deliveries.

    Returns one row per new document: (id, verdict) with verdict ``'exact'``
    (byte-identical content already in the corpus), ``'near'`` (shares a
    MinHash-LSH band bucket with a corpus document), or ``'keep'``.  Exact
    takes precedence over near, so the labeling is deterministic.

    Join directions are chosen for the 100 TB asymmetry (corpus huge,
    increment small): both probes stream the CORPUS side and broadcast the
    increment's fingerprints/buckets, so no corpus shuffle ever happens —
    and with ``corpus_index`` pointing at a persisted
    :func:`minhash_band_buckets` table (bucketed on band+bucket) the near
    probe is a scan of the index, not a re-shingling of the corpus
    (fuzz-pinned verdict-identical to the re-shingling path,
    tests/test_oracle_fuzz.py).
    """
    new_fp = new_docs.select(
        F.col("doc_id").alias("_nid"), T.fingerprint(F.col("text")).alias("_f")
    )
    corpus_fp = corpus.select(T.fingerprint(F.col("text")).alias("_f"))
    exact_hits = (
        corpus_fp.join(F.broadcast(new_fp), "_f").select("_nid").distinct()
    )
    if corpus_index is None:
        corpus_index = minhash_band_buckets(corpus, k=k, bands=bands, n=n)
    new_buckets = minhash_band_buckets(new_docs, k=k, bands=bands, n=n).select(
        F.col("id").alias("_nid"), "band", "bucket"
    )
    near_hits = (
        corpus_index.select("band", "bucket")
        .join(F.broadcast(new_buckets), ["band", "bucket"])
        .select("_nid")
        .distinct()
    )
    # the hit sets are subsets of the increment — broadcast them so the
    # verdict assembly never sorts/shuffles either side
    return (
        new_docs.select(F.col("doc_id").alias("_nid"))
        .join(F.broadcast(exact_hits.withColumn("_exact", F.lit(True))), "_nid", "left")
        .join(F.broadcast(near_hits.withColumn("_near", F.lit(True))), "_nid", "left")
        .select(
            F.col("_nid").alias("doc_id"),
            F.when(F.col("_exact"), "exact")
            .when(F.col("_near"), "near")
            .otherwise("keep")
            .alias("verdict"),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """LSH candidate pairs: signatures split into ``bands`` bands of
    ``k/bands`` rows; documents sharing any band bucket become a candidate
    pair.  Returns distinct (id_a, id_b), id_a < id_b.

    Plan: signature rows -> band key = '_'-joined minhashes in h_idx order
    (portable: SQL reproduces it with string_agg ORDER BY h_idx) -> group by
    (band, bucket) -> ordered pairs from each bucket's posting list.  The
    posting-list shape computes the signature pipeline ONCE — a self-join
    would evaluate it twice, once per side, since the broadcast and stream
    sides cannot share an exchange — and shuffles on a high-entropy key
    (uniform, scales linearly with collisions, which is the point of LSH).

    ``max_bucket_size`` drops degenerate buckets (e.g. a whole corpus of
    empty documents sharing one signature) whose O(L²) pair fan-out would
    land on a single task — the skew guard (:func:`_posting_lists`, run
    before any ``collect_list`` on the one bucket-key exchange); a bucket
    that large is noise, not near-duplication signal.
    """
    banded = minhash_band_buckets(docs, id_col, text_col, k, bands, n)
    posting = _posting_lists(
        P.spread(banded, "band", "bucket"), ["band", "bucket"], "id", "ids",
        max_bucket_size,
    )
    return _pairs(posting, "ids", "id_a", "id_b").distinct()


def simhash_fingerprints(docs: DataFrame, n_bits: int = 16) -> DataFrame:
    """(id, simhash) per document: for each bit, sum +1/-1 over the token
    multiset weighted by the token-md5 bit; the sign forms the fingerprint
    bit.  Near-dup detection joins on small Hamming distance
    (``bit_count(x ^ y)``, see :func:`simhash_pairs`).

    Shape: explode tokens -> md5 ONCE per token (hex nibbles shared by 4
    bits) -> one hash aggregate with n_bits signed sums -> pack bits.  The
    shuffle carries n_bits ints per document (map-side combine), and the md5
    work is O(tokens), not O(tokens * n_bits) as a per-bit expression
    formulation would be.  Tokenless documents (empty text) have every
    contribution sum 0 -> all bits set, preserved via the left join.

    ``n_bits`` must be in [1, 63]: bit 63 would be the BIGINT sign bit,
    whose ``1 << 63`` term no BIGINT literal holds.
    """
    if not 0 < n_bits < 64:
        raise ValueError(f"n_bits={n_bits} must be in [1, 63] (a BIGINT simhash)")
    ex = P.spread(docs.select("doc_id", "text"), "doc_id").select(
        F.col("doc_id").alias("id"),
        F.explode(T.tokens(F.lower(F.col("text")))).alias("tok"),
    )
    m = F.md5(F.col("tok"))
    n_nibs = (n_bits + 3) // 4
    ex = ex.select(
        "id",
        *[
            F.conv(F.substring(m, nib + 1, 1), 16, 10).cast("int").alias(f"_n{nib}")
            for nib in range(n_nibs)
        ],
    )
    aggs = [
        F.sum(
            F.when(
                F.col(f"_n{b // 4}").bitwiseAND(F.lit(1 << (b % 4))) > 0, 1
            ).otherwise(-1)
        ).alias(f"_s{b}")
        for b in range(n_bits)
    ]
    sums = ex.groupBy("id").agg(*aggs)
    fp = F.lit(0).cast("bigint")
    for b in range(n_bits):
        fp = fp + F.when(
            F.coalesce(F.col(f"_s{b}"), F.lit(0)) >= 0, F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return (
        docs.select(F.col("doc_id").alias("id"))
        .join(sums, "id", "left")
        .select("id", fp.alias("simhash"))
    )


def simhash_pairs(
    docs: DataFrame,
    n_bits: int = 16,
    band_bits: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """SimHash near-dup pairs: (id_a, id_b, hamming) with id_a < id_b and
    Hamming distance <= ``max_hamming``.

    Blocking: the fingerprint is split into ``n_bits/band_bits`` bands;
    documents sharing any band value become candidates (two fingerprints
    within Hamming d of each other must agree on >= 1 band when
    d < n_bands — the pigeonhole guarantee).  Candidates come from posting
    lists per (band, value) — computing the fingerprints once, where a
    self-join would run the whole fingerprint pipeline once per side — and
    the exact ``bit_count(xor)`` filter runs on candidates only.
    """
    fps = simhash_fingerprints(docs, n_bits)
    return hamming_pairs(
        fps,
        n_bits=n_bits,
        band_bits=band_bits,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


def _bit_bands(
    fps: DataFrame,
    n_bits: int,
    band_bits: int,
    max_hamming: int,
    id_name: str,
    hash_name: str,
) -> DataFrame:
    """(``id_name``, ``hash_name``, band, val): each (id, simhash)
    fingerprint of ``fps`` split into ``n_bits / band_bits`` bands of
    ``band_bits`` bits.  Two fingerprints within Hamming ``max_hamming``
    agree on at least one band when ``max_hamming < n_bands`` (pigeonhole),
    so blocking on (band, val) misses no pair.  Checked before any Spark
    call: ``n_bits`` in [1, 64] (a BIGINT fingerprint; the top band of a
    64-bit one comes out right because the mask drops the sign extension),
    ``band_bits`` in [1, 63] (its mask must fit a BIGINT), divisibility
    and the pigeonhole bound."""
    if not 0 < n_bits <= 64:
        raise ValueError(f"n_bits={n_bits} must be in [1, 64] (a BIGINT fingerprint)")
    if not 0 < band_bits < 64:
        raise ValueError(f"band_bits={band_bits} must be in [1, 63]")
    if n_bits % band_bits != 0:
        raise ValueError(f"n_bits={n_bits} must be divisible by band_bits={band_bits}")
    n_bands = n_bits // band_bits
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: the pigeonhole "
            f"guarantee (every pair within max_hamming agrees on some band) "
            f"requires max_hamming < n_bands — use more/narrower bands"
        )
    mask = (1 << band_bits) - 1
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("simhash"), b * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("val"),
                )
                for b in range(n_bands)
            ]
        )
    ).alias("b")
    return fps.select(
        F.col("id").alias(id_name), F.col("simhash").alias(hash_name), bands
    ).select(
        id_name, hash_name, F.col("b.band").alias("band"), F.col("b.val").alias("val")
    )


def hamming_pairs(
    fps: DataFrame,
    n_bits: int = 16,
    band_bits: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """Banded near-dup pairs over ANY precomputed (id, simhash)
    bit-fingerprint frame — the blocking+verify engine shared by text
    SimHash and media perceptual hashes (operators/multimodal.py::phash_pairs).
    Complete for ``max_hamming < n_bands`` by the pigeonhole bound
    (:func:`_bit_bands`), so the result EQUALS the all-pairs
    bit_count(xor) filter — which is what the oracles compare against;
    fuzz-pinned across (band_bits, max_hamming) draws in
    tests/test_oracle_fuzz.py.  ``max_bucket_size`` caps a degenerate band
    value's O(L²) single-task fan-out (:func:`_posting_lists`)."""
    banded = _bit_bands(fps, n_bits, band_bits, max_hamming, "id", "simhash")
    posting = _posting_lists(
        P.spread(banded, "band", "val"), ["band", "val"],
        F.struct("id", "simhash"), "ms", max_bucket_size,
    )
    return (
        _pairs(posting, "ms", "a", "b", by="id")
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """ASYMMETRIC near-duplication: pairs where the smaller document's
    shingle set is mostly CONTAINED in the other's —
    ``containment = shared / min(|A|, |B|)``.

    Jaccard misses exactly this case: a short document quoted whole inside
    a long one has tiny ``shared / (|A| + |B| - shared)`` but containment
    ~1.0 — the quote/boilerplate-wrapper/excerpt duplication a training
    corpus needs caught (a contained document adds no new text, only a
    length prior).  Same inverted-index plan as
    :func:`ngram_jaccard_pairs` (one shared shingle exchange, window
    frequency guard, generate-then-verify under ``max_shingle_freq``) —
    only the final score changes, so the scale posture is identical.
    Output: (id_a, id_b, shared, size_a, size_b) with id_a < id_b;
    containment is re-derivable exactly from the integer columns.  Word
    3-gram shingles.
    """
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.0, max_shingle_freq=max_shingle_freq
    )
    cont = F.col("shared").cast("double") / F.least("size_a", "size_b")
    return pairs.filter(cont >= threshold)


def hamming_pairs_incremental(
    corpus_fps: DataFrame,
    new_fps: DataFrame,
    n_bits: int = 16,
    band_bits: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Banded Hamming near-dup of a NEW fingerprint batch against an
    EXISTING corpus — the incremental twin of :func:`hamming_pairs` for
    bit-fingerprint families (text SimHash, media pHash), completing the
    incremental story (text shingles: :func:`incremental_dedup`;
    embeddings: similarity.incremental_semantic_dedup; bits: this).

    Returns (new_id, corpus_id, hamming) for every cross pair within
    ``max_hamming`` — COMPLETE by the same pigeonhole bound as the batch
    operator (max_hamming < n_bands, validated), and cross-pairs only
    (new x new is the next batch-level job, corpus x corpus was last
    delivery's).

    Join directions follow the 100 TB asymmetry (the incremental_dedup
    posture): the corpus fingerprints STREAM through their band expansion
    while the increment's banded rows BROADCAST onto them — the corpus is
    scanned once and never shuffled, and with the corpus band expansion
    persisted (a (band, val, id, hash) table) the probe is an index scan,
    not a recompute.  Verify is the row-local bit_count on candidate
    pairs only.  Fuzz-pinned equal to the batch operator's cross subset
    (tests/test_oracle_fuzz.py).
    """
    c = _bit_bands(corpus_fps, n_bits, band_bits, max_hamming, "corpus_id", "_ch")
    nw = _bit_bands(new_fps, n_bits, band_bits, max_hamming, "new_id", "_nh")
    return (
        c.join(F.broadcast(nw), ["band", "val"])
        .select(
            "new_id",
            "corpus_id",
            F.bit_count(F.col("_nh").bitwiseXOR(F.col("_ch")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def syndication_matrix(
    docs: DataFrame,
    threshold: float = 0.2,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """CROSS-SOURCE near-duplication matrix — which feeds syndicate each
    other: the exact-Jaccard pair set restricted to pairs whose documents
    come from DIFFERENT sources, counted per unordered source pair.  The
    curation question behind per-feed dedup budgets and crawl blocklists
    (a feed pair with a heavy cell is one content wire republished twice —
    drop one side at ingest instead of paying pair-level dedup forever).

    Returns (source_a, source_b, n_pairs) with source_a < source_b, over
    word 3-gram shingles and the ``source`` column.

    Scale shape: rides the inverted-index pair generator (never
    all-pairs); the source lookup is two joins against the (id, source)
    projection — thin but CORPUS-SIZED, so at scale they hash-join on the
    pair ids (shuffle bounded by pair volume + the two-column projection;
    AQE broadcasts it only while it fits — the 1KB audit shape); the
    closing count is map-side combined with output bounded by
    |sources|².
    """
    pairs = ngram_jaccard_pairs(
        docs, threshold=threshold, max_shingle_freq=max_shingle_freq
    )
    src = docs.select(F.col("doc_id").alias("_id"), F.col("source").alias("_src"))
    labeled = (
        pairs.join(
            src.select(F.col("_id").alias("id_a"), F.col("_src").alias("sa")),
            "id_a",
        )
        .join(
            src.select(F.col("_id").alias("id_b"), F.col("_src").alias("sb")),
            "id_b",
        )
        .filter(F.col("sa") != F.col("sb"))
    )
    return (
        labeled.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def cross_corpus_pairs(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """SYMMETRIC cross-corpus near-dup candidates — the corpus-MERGER
    shape (unify two crawls, absorb an acquired dataset): both sides are
    LARGE, so neither the incremental operator's broadcast-the-increment
    posture nor decontamination's broadcast-the-benchmark posture applies.
    Instead both corpora band independently and meet in ONE equi-join on
    the (band, bucket) key — the only plan that scales when both sides are
    data-sized, and exactly the shape a persisted band index on either
    side slots into (join the other side's banding against the index).

    Returns (id_a, id_b) with id_a from A and id_b from B, distinct —
    cross pairs ONLY (within-corpus dedup is each side's own batch job).
    Feed the pairs to a verify stage (``ngram_jaccard_pairs``-style exact
    rescore) or directly to connected components for merge survivorship.

    Skew guard: the bucket cap bounds each (band, bucket) cell's fan-out
    ON EACH SIDE before the join (window count over each side's own
    banding exchange — the hamming_pairs guard applied per corpus), so a
    boilerplate band value cannot explode the cross product; candidates
    lost to the cap are the usual noise-bucket recall trade, documented at
    the cap row in SCALING.md.  With caps disabled the result is
    fuzz-pinned equal to the union corpus LSH's cross subset
    (tests/test_oracle_fuzz.py).
    """
    def side(corpus: DataFrame, id_name: str) -> DataFrame:
        b = minhash_band_buckets(corpus, k=k, bands=bands, n=n).select(
            F.col("id").alias(id_name), "band", "bucket"
        )
        if max_bucket_size is None:
            return b
        return (
            b.withColumn("_n", F.count("*").over(Window.partitionBy("band", "bucket")))
            .filter(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )

    return (
        side(corpus_a, "id_a")
        .join(side(corpus_b, "id_b"), ["band", "bucket"])
        .select("id_a", "id_b")
        .distinct()
    )
