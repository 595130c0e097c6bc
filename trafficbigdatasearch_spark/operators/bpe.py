"""Distributed BPE merge-rule learning — the tokenizer-TRAINING step.

Not in the reference (no text processing at all); completes this engine's
tokenizer-prep story: ``vocab.py`` builds word vocabularies,
``learn_merges`` here learns subword MERGE RULES (byte-pair encoding over
word characters, weighted by word frequency), and the merged token stream
feeds ``text_vocab_encode`` / ``pack_sequences``.

Distributed shape per round (same bounded-fixpoint family as connected
components / k-means):

- the corpus collapses ONCE to the distinct-word frequency table (at
  100 TB: ~1e8 rows, trivially partitioned — BPE statistics depend only on
  (word, freq), never on document order);
- adjacent-pair counts are one explode + one map-side-combined sum over
  that table;
- the round's top pair is ``ORDER BY weight DESC, a, b LIMIT 1`` — a
  1-row collect per round, bounded by construction (the codebook-collect
  contract), deterministic under ties;
- the merge applies as ONE literal string ``replace`` per row.

The token sequence is carried as a DELIMITED STRING, each token wrapped
``|t|`` (word ``abc`` -> ``|a||b||c|``): applying merge (a, b) is then
``replace(repr, '|a||b|', '|ab|')``, whose left-to-right non-overlapping
scan IS standard BPE's greedy leftmost pairing (``aaa`` + merge (a,a) ->
``aa``+``a``, pinned in tests).  Everything stays whole-stage-codegen'd
string/array expressions — no UDFs — and the identical formulation runs in
DuckDB, so the full k-round training is oracle-hashable (see
``queries/standard.py::_bpe_oracle``).  Words are restricted to
``[a-z0-9]+`` so the delimiter can never collide with content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Tokens-array expression over the delimited repr column.
_TK = r"split(substring(repr, 2, length(repr) - 2), '\\|\\|')"

#: Adjacent (a, b) pairs of the token array (empty for 1-token words).
_PAIRS = (
    "transform(sequence(1, size(tk) - 1), "
    "i -> struct(element_at(tk, i) AS a, element_at(tk, CAST(i + 1 AS INT)) AS b))"
)


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over lowercase whitespace tokens, restricted to
    ``[a-z0-9]+`` (the delimiter-safety contract).  The one corpus-wide
    pass; every BPE round after this touches only the word table."""
    words = docs.select(
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("word")
    )
    return (
        words.filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _with_tokens(df: DataFrame) -> DataFrame:
    return df.withColumn("tk", F.expr(_TK))


def pair_counts(reprs: DataFrame) -> DataFrame:
    """(a, b, weight) counts of adjacent token pairs, weighted by word
    frequency — one explode + one map-side-combined sum."""
    return (
        _with_tokens(reprs)
        .filter(F.expr("size(tk) >= 2"))
        .select("freq", F.explode(F.expr(_PAIRS)).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").cast("bigint").alias("weight"))
    )


def initial_reprs(wf: DataFrame) -> DataFrame:
    """(repr, freq): each word as its wrapped-character sequence."""
    return wf.select(
        F.regexp_replace(F.col("word"), "(.)", r"|$1|").alias("repr"),
        "freq",
    )


def apply_merge(reprs: DataFrame, a: str, b: str) -> DataFrame:
    """One literal-replace merge application (greedy leftmost pairing)."""
    return reprs.withColumn(
        "repr",
        F.replace(F.col("repr"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")),
    )


def _safe_batch(
    top: list, remaining: int
) -> list[tuple[str, str, int]]:
    """The contiguous prefix of the round's sorted pair ranking that can
    merge in ONE round with rules PROVABLY identical to one-at-a-time BPE.

    ``top`` is the collected (a, b, weight) ranking, sorted by (weight
    DESC, a ASC, b ASC) — possibly truncated to a batch window.  Scan in
    order, accepting pairs pairwise SYMBOL-DISJOINT from every accepted
    pair, and STOP at the first conflict (shared symbol).  Disjoint
    merges commute and their ``|a||b|`` patterns cannot overlap, so one
    chained application equals sequential application.

    Equivalence to sequential BPE needs one more guard: merging p1 can
    only (a) leave disjoint pairs' counts untouched, (b) decrease counts
    of pairs sharing a symbol with p1, and (c) create pairs involving the
    new token whose weight is bounded by some pre-round pair adjacent to
    p1's symbols — a CONFLICTING pair, which (contiguity) ranks after the
    accepted prefix.  So every changed or new pair is bounded by
    ``w_conf``, the first conflict's weight, and any accepted pair with
    ``weight > w_conf`` is still sequential BPE's unique next choice —
    STRICTLY greater, because at equal weight a new token's pair can
    win the lexical tie-break (e.g. merged "az" sorting before "m").
    The prefix is truncated to that strict bound; p1 alone is always
    safe.  When the window ends without a conflict but more pairs exist
    beyond it (``remaining``), the last collected weight is the
    conservative bound."""
    accepted: list[tuple[str, str, int]] = []
    symbols: set[str] = set()
    w_conf = 0
    for row in top:
        a, b, w = row["a"], row["b"], int(row["weight"])
        if accepted and ({a, b} & symbols):
            w_conf = w
            break
        accepted.append((a, b, w))
        symbols.update((a, b))
    else:
        if remaining > 0 and top:
            w_conf = int(top[-1]["weight"])
    if not accepted:
        return []
    return [accepted[0]] + [p for p in accepted[1:] if p[2] > w_conf]


def learn_merges(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    batch_size: int = 64,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE rules; returns (rules, final_reprs) where
    rules = [(rank, lhs, rhs, weight)] and final_reprs is the (repr, freq)
    word table after all merges (feed to :func:`token_counts`).

    Driver loop of bounded rounds.  Each round collects the top
    ``batch_size + 1`` pairs (a bounded collect — the codebook contract)
    and accepts the :func:`_safe_batch` prefix: multiple merges per
    Spark job wherever the ranking allows, with a rule list PROVABLY
    identical to ``batch_size=1``'s one-at-a-time loop (pinned in
    tests/test_bpe.py, including tie and conflict corpora).  This is the
    VERDICT r8 #4 scalability fix: a production 32k-merge vocabulary no
    longer pays ~2 jobs per merge of scheduler round-trips — measured at
    sf0.01, 300 merges run ~8x fewer rounds (SCALING.md's BPE merge
    learning row; multi-merge rounds pinned by
    tests/test_bpe.py::test_batched_accepts_disjoint_prefix_in_one_round).
    One lazy ``localCheckpoint`` per round truncates the replace lineage.
    Stops early if no adjacent pair remains."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    cur = initial_reprs(word_freqs(docs, text_col)).localCheckpoint(eager=False)
    rules: list[tuple[int, str, str, int]] = []
    while len(rules) < n_merges:
        want = min(batch_size, n_merges - len(rules))
        top = (
            pair_counts(cur)
            .orderBy(F.desc("weight"), F.asc("a"), F.asc("b"))
            .limit(want + 1)
            .collect()
        )
        if not top:
            break
        batch = _safe_batch(top[:want], remaining=len(top) - want)
        for a, b, w in batch:
            rules.append((len(rules), a, b, w))
            cur = apply_merge(cur, a, b)
        cur = cur.localCheckpoint(eager=False)
    return rules, cur


def apply_merges(
    docs: DataFrame,
    rules: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_every: int = 128,
) -> DataFrame:
    """Encode UNSEEN documents with a learned rule list — the INFERENCE
    half of the tokenizer (:func:`learn_merges` is the training half).

    Tokenizes to whitespace words under the same ``[a-z0-9]+``
    delimiter-safety contract as training, wraps each word's characters
    (``abc`` -> ``|a||b||c|``), folds the k merges IN RANK ORDER as
    sequential literal ``replace`` expressions — identical greedy-leftmost
    semantics to training, so a word seen in training encodes exactly as
    its final training repr — and returns
    ``(id, pos, word, encoded)`` with ``encoded`` the space-joined subword
    sequence.  ``pos`` is the word's position in the document's whitespace
    token stream (pre-filter, so positions are stable under the contract
    filter).

    Scale posture: ZERO shuffles in the fold — posexplode + k row-local
    string replaces, all whole-stage-codegen'd; the rule list rides into
    the plan as k scalar literals, never a literal array.  Catalyst
    PLANNING cost grows with the replace-chain depth (~15 ms/rule
    measured — a 30k-rule tokenizer would spend hours analyzing one
    projection), so the fold truncates lineage with a lazy
    ``localCheckpoint`` every ``checkpoint_every`` merges: each chunk
    plans against a flat scan, planning cost returns to linear with small
    constant, execution order is unchanged.  OOV words degrade gracefully
    to their character sequence — no failure mode on unseen text."""
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    words = _word_stream(docs, text_col, id_col)
    return _fold_rules_on_words(words, rules, id_col, checkpoint_every)


def _word_stream(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, word): the positioned whitespace word stream under the
    ``[a-z0-9]+`` delimiter-safety contract — THE shared tokenization of
    apply_merges and apply_merges_memoized (one definition, so the memo
    join can never see different words/positions than the fold)."""
    return docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "word"),
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))


def apply_merges_memoized(
    docs: DataFrame,
    rules: list[tuple[int, str, str, int]],
    train_reprs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_every: int = 128,
) -> DataFrame:
    """:func:`apply_merges` with the training word table as a MEMO: words
    seen in training take their final repr from ``train_reprs`` via one
    hash join (broadcast under AQE for dim-sized vocabularies, shuffle
    otherwise) — zero per-rule work; only OOV words pay the k-deep replace
    fold.  Result is row-identical to :func:`apply_merges` (pinned in
    tests/test_bpe.py).

    This is the production shape once rule counts reach real-tokenizer
    sizes (30k+): the fold's Catalyst planning cost is per-QUERY
    (~6 ms/rule with chunked lineage) and its execution cost per-ROW —
    both acceptable for the OOV MINORITY, wasteful for the bulk that the
    training table already encodes.  At 100 TB the training word table is
    ~1e8 rows (join-sized, not broadcast) and OOV is typically a few
    percent of tokens."""
    words = _word_stream(docs, text_col, id_col)
    memo = train_reprs.select(
        F.replace(F.col("repr"), F.lit("|"), F.lit("")).alias("word"),
        F.replace(
            F.expr("substring(repr, 2, length(repr) - 2)"),
            F.lit("||"),
            F.lit(" "),
        ).alias("_memo_encoded"),
    ).distinct()
    joined = words.join(memo, "word", "left")
    known = joined.filter(F.col("_memo_encoded").isNotNull()).select(
        id_col, "pos", "word", F.col("_memo_encoded").alias("encoded")
    )
    oov = joined.filter(F.col("_memo_encoded").isNull()).select(
        id_col, "pos", "word"
    )
    return known.unionByName(
        _fold_rules_on_words(oov, rules, id_col, checkpoint_every)
    )


def _fold_rules_on_words(
    words: DataFrame,
    rules: list[tuple[int, str, str, int]],
    id_col: str,
    checkpoint_every: int,
) -> DataFrame:
    """Fold the rank-ordered replace chain over an (id, pos, word) stream —
    the shared fold of :func:`apply_merges` (which tokenizes first) and
    :func:`apply_merges_memoized`'s OOV lane."""
    out = words.withColumn(
        "repr", F.regexp_replace(F.col("word"), "(.)", r"|$1|")
    )
    for i, (_rank, a, b, _w) in enumerate(sorted(rules)):
        if i and i % checkpoint_every == 0:
            out = out.localCheckpoint(eager=False)
        out = out.withColumn(
            "repr",
            F.replace(F.col("repr"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")),
        )
    return out.select(
        id_col,
        "pos",
        "word",
        F.replace(
            F.expr("substring(repr, 2, length(repr) - 2)"),
            F.lit("||"),
            F.lit(" "),
        ).alias("encoded"),
    )


def token_counts(reprs: DataFrame) -> DataFrame:
    """(token, n) frequency of the current subword inventory — corpus
    token occurrences weighted by word freq."""
    return (
        _with_tokens(reprs)
        .select("freq", F.explode(F.col("tk")).alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").cast("bigint").alias("n"))
    )
