"""Edge-case regression tests for the dedup/join fixes found in review:
frequency-filter size semantics, NULL-key OR joins, as-of determinism."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from trafficbigdatasearch_spark.operators import dedup
from trafficbigdatasearch_spark.operators import joins as J


def test_jaccard_sizes_survive_frequency_filter(spark):
    """Docs sharing one rare shingle while their common shingles are dropped
    by max_shingle_freq must NOT become near-dups: sizes are the true
    distinct-shingle counts, so the denominator stays honest."""
    # 4 filler docs make the shared shingle 'common common common' exceed
    # max_shingle_freq=4; docs a and b share one rare shingle besides it.
    rows = [
        (1, "common common common rare1 x y z"),
        (2, "common common common rare1 p q r"),
        (3, "common common common aaa bbb ccc"),
        (4, "common common common ddd eee fff"),
        (5, "common common common ggg hhh iii"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, max_shingle_freq=4
    ).collect()
    assert pairs == []  # true jaccard of (1,2) is 2/8 = 0.25 < 0.5
    # sizes must reflect ALL shingles (5 per doc), not post-filter residue
    low = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.1, max_shingle_freq=4
    ).collect()
    got = {(r["id_a"], r["id_b"]): (r["size_a"], r["size_b"]) for r in low}
    assert got[(1, 2)] == (5, 5)


def test_or_key_join_matches_through_null_first_key(spark):
    left = spark.createDataFrame([(10, "L")], ["k", "lv"])
    right = spark.createDataFrame(
        [(None, 10, "null-first-key"), (10, 99, "first-key")],
        "a int, b int, rv string",
    )
    out = J.union_of_joins_on_either_key(left, right, "k", ("a", "b"))
    assert sorted(r["rv"] for r in out.collect()) == ["first-key", "null-first-key"]


def test_asof_join_rejects_column_collision(spark):
    left = spark.createDataFrame([(1, 5, "x")], ["id", "ts", "note"])
    right = spark.createDataFrame([(1, 3, "y")], ["id", "ts", "note"])
    with pytest.raises(ValueError, match="collide"):
        J.asof_join(left, right, ["id"], "ts", "ts")


def test_asof_join_duplicate_right_ts_deterministic(spark):
    left = spark.createDataFrame([(1, 10)], ["id", "ts"])
    right = spark.createDataFrame(
        [(1, 5, "small"), (1, 5, "zbig")], ["id", "rts", "val"]
    )
    for _ in range(3):
        out = J.asof_join(left, right, ["id"], "ts", "rts").collect()
        assert len(out) == 1 and out[0]["val"] == "zbig"  # max struct wins


def test_asof_join_tolerance(spark):
    """r9 — merge_asof's max-gap contract: the NEAREST match nulls out
    when it sits farther than `tolerance` from the left timestamp (a
    farther in-tolerance row is never better, so this is a row-local
    post-filter); no-match rows stay NULL; both directions honor it; no
    tolerance keeps the old inclusive as-of behavior."""
    left = spark.createDataFrame(
        [(1, 100), (1, 12), (2, 50)], ["id", "ts"]
    )
    right = spark.createDataFrame(
        [(1, 10, "a"), (2, 49, "b")], ["id", "rts", "val"]
    )
    base = {(r["id"], r["ts"]): r["val"] for r in
            J.asof_join(left, right, ["id"], "ts", "rts").collect()}
    assert base == {(1, 100): "a", (1, 12): "a", (2, 50): "b"}
    tol = {(r["id"], r["ts"]): r["val"] for r in
           J.asof_join(left, right, ["id"], "ts", "rts", tolerance=5).collect()}
    # (1,100): nearest match at 10 is 90 away -> nulled; (1,12): 2 away OK
    assert tol == {(1, 100): None, (1, 12): "a", (2, 50): "b"}
    fwd = {(r["id"], r["ts"]): r["val"] for r in
           J.asof_join(left.filter(F.col("ts") == 12), right.filter(F.col("id") == 1),
                       ["id"], "ts", "rts", direction="forward",
                       tolerance=5).collect()}
    assert fwd == {(1, 12): None}  # forward nearest is... none after 12
    # interval-string tolerance on real timestamps
    lt = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], ["id", "ts"]
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    rt = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", "x")], ["id", "rts", "val"]
    ).select("id", F.col("rts").cast("timestamp").alias("rts"), "val")
    hit = J.asof_join(lt, rt, ["id"], "ts", "rts",
                      tolerance="INTERVAL 45 minutes").collect()
    miss = J.asof_join(lt, rt, ["id"], "ts", "rts",
                       tolerance="INTERVAL 15 minutes").collect()
    assert hit[0]["val"] == "x" and miss[0]["val"] is None


def test_asof_join_nearest(spark):
    """direction='nearest' (r10): the closer of the backward/forward
    candidates wins, equidistant ties go to the BACKWARD row (pandas
    merge_asof parity), one-sided cases degrade to that side, and
    tolerance applies to the absolute gap of the CHOSEN row."""
    left = spark.createDataFrame(
        [(1, 10), (1, 100), (1, 7)], ["id", "ts"]
    )
    right = spark.createDataFrame(
        [(1, 5, "b5"), (1, 12, "f12"), (1, 15, "f15")],
        "id bigint, rts bigint, val string",
    )
    out = {r["ts"]: r["val"] for r in
           J.asof_join(left, right, ["id"], "ts", "rts",
                       direction="nearest").collect()}
    # ts=10: backward 5 (gap 5) vs forward 12 (gap 2) -> forward
    # ts=7:  backward 5 (gap 2) vs forward 12 (gap 5) -> backward
    # ts=100: forward side empty -> backward 15
    assert out == {10: "f12", 7: "b5", 100: "f15"}
    # equidistant: ts=10 vs right {5, 15} -> backward (pandas rule)
    tie = J.asof_join(
        left.filter(F.col("ts") == 10),
        right.filter(F.col("rts") != 12),
        ["id"], "ts", "rts", direction="nearest",
    ).collect()
    assert tie[0]["val"] == "b5"
    # tolerance on the chosen row's absolute gap
    tol = {r["ts"]: r["val"] for r in
           J.asof_join(left, right, ["id"], "ts", "rts",
                       direction="nearest", tolerance=3).collect()}
    assert tol == {10: "f12", 7: "b5", 100: None}


def test_asof_join_null_value_in_matched_row_not_backfilled(spark):
    """ADVICE r9: the matched right row is carried as ONE struct, so a
    NULL value column in the NEAREST right row is emitted as NULL — never
    back-filled from an OLDER right row (which may itself sit outside
    tolerance).  merge_asof parity: the match is a row, not a per-column
    scavenger hunt."""
    left = spark.createDataFrame([(1, 100)], ["id", "ts"])
    right = spark.createDataFrame(
        [(1, 10, "old"), (1, 99, None)], "id bigint, rts bigint, val string"
    )
    # no tolerance: the nearest row (rts=99) matches; its val is NULL and
    # must stay NULL, not borrow "old" from rts=10
    out = J.asof_join(left, right, ["id"], "ts", "rts").collect()
    assert len(out) == 1 and out[0]["val"] is None
    # with tolerance=5 the nearest row is in tolerance (gap 1) — same NULL
    tol = J.asof_join(left, right, ["id"], "ts", "rts", tolerance=5).collect()
    assert tol[0]["val"] is None
    # multi-column: one NULL, one set — both come from the matched row
    right2 = spark.createDataFrame(
        [(1, 10, "old", 7.0), (1, 99, None, 3.0)],
        "id bigint, rts bigint, a string, b double",
    )
    row = J.asof_join(left, right2, ["id"], "ts", "rts", tolerance=5).collect()[0]
    assert row["a"] is None and row["b"] == 3.0
    # forward direction honors the same contract
    fwd = J.asof_join(
        left,
        spark.createDataFrame(
            [(1, 101, None), (1, 200, "far")], "id bigint, rts bigint, val string"
        ),
        ["id"], "ts", "rts", direction="forward", tolerance=5,
    ).collect()
    assert fwd[0]["val"] is None


def test_minhash_lsh_rejects_indivisible_bands(spark):
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="divisible"):
        dedup.minhash_lsh_pairs(docs, k=16, bands=5)


def test_null_text_semantics(spark):
    """NULL text must not crash any text/dedup operator; pinned behavior:
    fingerprint NULL (groups apart), no shingles (dropped from jaccard),
    simhash all-bits-set (same as tokenless), rolling fingerprint 0."""
    from trafficbigdatasearch_spark.functions import text as T

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real text here")], "doc_id bigint, text string"
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in
          docs.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint")).collect()}
    assert fp[1] is None and fp[2] is not None

    ex = dedup.exact_duplicates(docs).collect()
    assert len(ex) == 3  # null, empty, real all distinct groups

    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.0, max_shingle_freq=None).collect()
    assert all({r["id_a"], r["id_b"]} <= {2, 3} for r in jac)  # null doc absent

    sh = {r["id"]: r["simhash"] for r in dedup.simhash_fingerprints(docs, n_bits=8).collect()}
    assert sh[1] == sh[2] == 255  # tokenless -> every bit set
    assert sh[3] != 255

    rf = {r["doc_id"]: r["fp"] for r in
          docs.select("doc_id", T.rolling_fingerprint(F.col("text")).alias("fp")).collect()}
    assert rf[2] == 0 and rf[3] != 0
    assert rf[1] == 0  # NULL text pinned to 0 (matches the SQL oracle)


def test_jaccard_verify_restores_true_shared(spark):
    """Generate-then-verify: candidates generated from frequency-filtered
    postings are rescored against the FULL shingle sets, so hot-shingle
    overlap still counts toward `shared`."""
    rows = [
        (1, "common common common rare1 x y z"),
        (2, "common common common rare1 p q r"),
        (3, "common common common aaa bbb ccc"),
        (4, "common common common ddd eee fff"),
        (5, "common common common ggg hhh iii"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    low = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.1, max_shingle_freq=4
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["shared"] for r in low}
    # docs 1,2 share 'common common rare1' (generated: rare) AND
    # 'common common common' (hot, excluded from generation) -> true shared=2
    assert got[(1, 2)] == 2


def test_skew_guard_runs_before_collect(spark):
    """A degenerate hot key (whole corpus in one shingle/bucket) must be
    dropped by the window-count guard BEFORE any posting list is collected —
    guard-after-collect would materialize the full member list in one
    aggregation row first (executor OOM at scale; round-1 finding).  The
    window formulation keeps ONE exchange (no recompute of the expensive
    explode/signature pipeline) while hot keys stream through WindowExec's
    spillable buffer instead of an aggregation row."""
    docs = spark.createDataFrame(
        [(i, "same text for everyone here") for i in range(30)],
        ["doc_id", "text"],
    )
    builders = [
        dedup.ngram_jaccard_pairs(docs, threshold=0.0, max_shingle_freq=5),
        dedup.minhash_lsh_pairs(docs, k=8, bands=2, max_bucket_size=5),
        dedup.simhash_pairs(docs, max_bucket_size=5),
    ]
    for df in builders:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # the guard window (count over the bucket key) must sit in the plan
        assert "windowspecdefinition" in plan.lower(), plan
        # every key is degenerate here, so the guarded output is empty
        assert df.collect() == []
    # sanity: with the guard off the same corpus is all-pairs duplicates
    n_pairs = 30 * 29 // 2
    assert dedup.minhash_lsh_pairs(
        docs, k=8, bands=2, max_bucket_size=None
    ).count() == n_pairs


@pytest.mark.parametrize("entry", ["hamming_pairs", "hamming_pairs_incremental"])
@pytest.mark.parametrize(
    "kw, match",
    [
        (dict(n_bits=16, band_bits=5), "divisible"),
        (dict(n_bits=16, band_bits=8, max_hamming=3), "pigeonhole"),
        (dict(n_bits=0), "n_bits"),
        (dict(n_bits=65, band_bits=5), "n_bits"),
        (dict(n_bits=64, band_bits=64, max_hamming=0), "band_bits"),
    ],
    ids=["divisible", "pigeonhole", "n_bits_0", "n_bits_65", "band_bits_64"],
)
def test_hamming_banding_rejects_bad_params(entry, kw, match):
    """Both Hamming entry points share one banding check, run before any
    Spark call: the fingerprint frames are never touched (None stands in).
    A 64-bit band would need a mask no BIGINT literal holds."""
    fps = [None] * (1 if entry == "hamming_pairs" else 2)
    with pytest.raises(ValueError, match=match):
        getattr(dedup, entry)(*fps, **kw)


@pytest.mark.parametrize("n_bits", [0, 64])
def test_simhash_rejects_bits_outside_bigint(n_bits):
    """Bit 63 of a simhash would need a ``1 << 63`` BIGINT literal (it used
    to fail inside py4j with NumberFormatException); both builders refuse
    before any Spark call."""
    for build in (dedup.simhash_fingerprints, dedup.simhash_pairs):
        with pytest.raises(ValueError, match="n_bits"):
            build(None, n_bits=n_bits)


def test_hamming_pairs_64_bit_fingerprints(spark):
    """64-bit fingerprints (phash_decoded's default width) band correctly,
    sign bit included: the mask drops the arithmetic shift's sign
    extension, and bit_count counts all 64 bits."""
    def signed(x):
        return x - (1 << 64) if x >= 1 << 63 else x

    raw = [0x0123456789ABCDEF, 0x0123456789ABCDEF ^ 0b11, 0xF0F0F0F0F0F0F0F0,
           0xF0F0F0F0F0F0F0F0 ^ (1 << 63), 0x5555555555555555]
    fps = spark.createDataFrame(
        [(i, signed(v)) for i, v in enumerate(raw)], "id: bigint, simhash: bigint"
    )
    kw = dict(n_bits=64, band_bits=16, max_hamming=3)
    assert sorted(map(tuple, dedup.hamming_pairs(fps, **kw).collect())) == [
        (0, 1, 2), (2, 3, 1)
    ]
    got = dedup.hamming_pairs_incremental(fps.filter("id >= 2"), fps.filter("id = 3"), **kw)
    assert sorted(map(tuple, got.collect())) == [(3, 2, 1), (3, 3, 0)]


def test_incremental_dedup_verdicts(spark):
    """exact beats near; near = shared band bucket; untouched docs keep."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different corpus content about databases"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            # byte-identical to corpus doc 1 (after fingerprint normalization)
            (10, "The quick brown fox jumps over the lazy dog today"),
            # same text => identical signatures => near hit via every band,
            # but exact must win the CASE
            (11, "the quick brown fox jumps over the lazy dog today"),
            # no token overlap with the corpus
            (12, "zzz yyy xxx www vvv uuu ttt sss rrr qqq"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["verdict"]
        for r in dedup.incremental_dedup(new, corpus, k=8, bands=4).collect()
    }
    assert got == {10: "exact", 11: "exact", 12: "keep"}


def test_incremental_dedup_near_without_exact(spark):
    """A one-token edit keeps some shared band buckets (near) without an
    exact fingerprint match."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    corpus = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(10, base + " extraword")], ["doc_id", "text"]
    )
    got = dedup.incremental_dedup(new, corpus, k=8, bands=4).collect()
    assert [(r["doc_id"], r["verdict"]) for r in got] == [(10, "near")]


def test_incremental_dedup_prebuilt_index_equivalent(spark):
    """Passing a persisted minhash_band_buckets table must give the same
    verdicts as inline corpus bucketing — the build-once path."""
    docs = [
        (i, f"document number {i} shares a lot of common boilerplate text")
        for i in range(8)
    ]
    corpus = spark.createDataFrame(docs, ["doc_id", "text"])
    new = spark.createDataFrame(
        [(100, docs[3][1]), (101, "entirely unrelated words only here")],
        ["doc_id", "text"],
    )
    inline = dedup.incremental_dedup(new, corpus, k=8, bands=4).collect()
    idx = dedup.minhash_band_buckets(corpus, k=8, bands=4)
    via_index = dedup.incremental_dedup(
        new, corpus, k=8, bands=4, corpus_index=idx
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, via_index))
    got = {r["doc_id"]: r["verdict"] for r in inline}
    assert got[100] == "exact" and got[101] == "keep"


def test_rowwise_band_buckets_equal_batch(spark):
    """The streaming-safe rowwise band buckets must be value-identical to
    the explode+aggregate batch form."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, dedup.minhash_band_buckets(docs, k=8, bands=4).collect()))
    b = sorted(
        map(tuple, dedup.minhash_band_buckets_rowwise(docs, k=8, bands=4).collect())
    )
    assert a == b


def test_containment_catches_quoted_doc(spark):
    """A short doc quoted verbatim inside a long one: Jaccard stays small
    (union-normalized) but containment is 1.0 — the asymmetric case the
    operator exists for."""
    from pyspark.sql import functions as F

    from trafficbigdatasearch_spark.operators import dedup as D

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, filler + " " + short + " " + filler)],
        "doc_id bigint, text string",
    )
    cont = D.ngram_containment_pairs(docs, threshold=0.9, max_shingle_freq=None)
    rows = cont.collect()
    assert len(rows) == 1 and rows[0]["id_a"] == 1 and rows[0]["id_b"] == 2
    r = rows[0]
    jaccard = r["shared"] / (r["size_a"] + r["size_b"] - r["shared"])
    containment = r["shared"] / min(r["size_a"], r["size_b"])
    assert containment == 1.0 and jaccard < 0.05


def test_prefix_filtered_jaccard_equals_plain(spark):
    """Prefix filtering is LOSSLESS at the threshold: output must be
    row-identical to the unguarded inverted-index operator at several
    thresholds."""
    from trafficbigdatasearch_spark.catalog import load_table
    from trafficbigdatasearch_spark.operators import dedup

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    for t in (0.5, 0.8):
        plain = sorted(
            map(
                tuple,
                dedup.ngram_jaccard_pairs(
                    docs, threshold=t, max_shingle_freq=None
                ).collect(),
            )
        )
        pref = sorted(
            map(
                tuple,
                dedup.ngram_jaccard_pairs_prefix(docs, threshold=t).collect(),
            )
        )
        assert pref == plain, (t, len(pref), len(plain))


def test_duplicated_spans_finds_and_strips_shared_region(spark):
    """A 10-token region shared by two docs is reported as ONE maximal
    span per doc at the right offsets, a unique doc reports nothing, and
    strip_duplicated_spans removes exactly the spans."""
    from trafficbigdatasearch_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and unique tail here"),
            (2, "some prefix words the quick brown fox jumps over the lazy dog and"),
            (3, "entirely different content with no repeated region at all present"),
        ],
        "doc_id bigint, text string",
    )
    spans = dedup.duplicated_spans(docs, k=4)
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_tokens"])
        for r in spans.collect()
    }
    assert got == {1: (0, 10, 10), 2: (3, 13, 10)}

    stripped = {
        r["doc_id"]: r["text"]
        for r in dedup.strip_duplicated_spans(docs, spans).collect()
    }
    assert stripped[1] == "unique tail here"
    assert stripped[2] == "some prefix words"
    assert stripped[3].startswith("entirely different")


def test_duplicated_spans_merges_overlaps_and_gaps(spark):
    """Two hot windows overlapping by one token merge into one span; a
    clean gap yields two separate spans."""
    from trafficbigdatasearch_spark.operators import dedup

    # a b c d shared AND f g h i shared, with unique 'e' between in doc 1
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i"),
            (2, "a b c d x y z w q"),
            (3, "p q r s t f g h i"),
        ],
        "doc_id bigint, text string",
    )
    spans = dedup.duplicated_spans(docs, k=4)
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"]) for r in spans.collect()
    )
    assert got == [
        (1, 0, 4), (1, 5, 9),
        (2, 0, 4),
        (3, 5, 9),
    ]


def test_prefix_jaccard_exact_integer_threshold_boundary(spark):
    """Regression (review r6): float ceil(0.28*25)=8 would shorten the
    prefix below the lossless bound and miss a pair sitting EXACTLY at the
    threshold.  Doc B holds 7 of A's 25 shingles (J = 7/25 = 0.28), chosen
    as A's most-frequent shingles so they sit at the END of A's rarity
    order — only a correct 19-long prefix reaches them."""
    from trafficbigdatasearch_spark.operators import dedup

    # words w0..w24 -> doc A's 1-gram shingles; B shares w0..w6; filler
    # docs make w0..w6 the most common shingles corpus-wide
    a_words = " ".join(f"w{i}" for i in range(25))
    b_words = " ".join(f"w{i}" for i in range(7))
    rows = [(1, a_words), (2, b_words)]
    rows += [(100 + j, " ".join(f"w{i}" for i in range(7))) for j in range(5)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dedup.ngram_jaccard_pairs_prefix(docs, n=1, threshold=0.28)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs, pairs
    plain = dedup.ngram_jaccard_pairs(
        docs, n=1, threshold=0.28, max_shingle_freq=None
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_strip_spans_keeps_fully_covered_doc(spark):
    """A 100%-boilerplate doc must come back with empty text, not vanish."""
    from trafficbigdatasearch_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")],
        "doc_id bigint, text string",
    )
    spans = dedup.duplicated_spans(docs, k=4)
    out = {r["doc_id"]: r["text"] for r in
           dedup.strip_duplicated_spans(docs, spans).collect()}
    assert out == {1: "", 2: "", 3: "x y z w"}


def test_boilerplate_spans_group_scoped(spark):
    """boilerplate_spans: a footer phrase recurring across most of ONE
    source's docs flags there — but the same phrase in a source where it
    appears once does not (group-scoped DF is the whole point); strip
    removes exactly the flagged tokens."""
    footer = "subscribe to our newsletter today"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + footer, "hostA"),
            (2, "delta epsilon zeta " + footer, "hostA"),
            (3, "eta theta iota " + footer, "hostA"),
            (4, "unique words only here entirely", "hostA"),
            (5, "kappa lambda mu " + footer, "hostB"),
            (6, "nu xi omicron pi rho sigma", "hostB"),
        ],
        "doc_id BIGINT, text STRING, source STRING",
    )
    spans = dedup.boilerplate_spans(
        docs, group_col="source", k=5, min_df_pct=60, min_docs=2
    )
    rows = spans.collect()
    # hostA: 3/4 docs carry the footer (75% >= 60%) -> flagged there;
    # hostB: 1/2 docs (50% < 60%) -> NOT flagged
    assert {r["doc_id"] for r in rows} == {1, 2, 3}
    for r in rows:
        assert r["span_start"] == 3 and r["span_end"] == 8  # the 5 footer tokens
    stripped = {
        r["doc_id"]: r["text"]
        for r in dedup.strip_duplicated_spans(docs, spans).collect()
    }
    assert stripped[1] == "alpha beta gamma"
    assert stripped[4] == "unique words only here entirely"
    assert stripped[5] == "kappa lambda mu " + footer  # hostB untouched
    with pytest.raises(ValueError, match="min_df_pct"):
        dedup.boilerplate_spans(docs, min_df_pct=0)
    # advice r8: the DF denominator must count DISTINCT doc_ids like the
    # shingle DF numerator does — duplicate doc_id rows (re-ingest, a
    # messy upstream union) must not inflate n_docs and under-flag
    # boilerplate.  Doubling hostA's rows leaves the 75% ratio intact.
    doubled = docs.unionByName(docs.filter(F.col("source") == "hostA"))
    spans_dup = dedup.boilerplate_spans(
        doubled, group_col="source", k=5, min_df_pct=60, min_docs=2
    )
    assert {r["doc_id"] for r in spans_dup.collect()} == {1, 2, 3}


def test_token_cosine_pairs_hand_case(spark):
    """token_cosine_pairs (r9): integer dot/norms with the rational
    cross-multiplied threshold; reordered token profiles hit cosine 1;
    disjoint docs never pair; the closing cosine is the one IEEE chain."""
    import math

    docs = spark.createDataFrame(
        [
            (1, "a a b"),
            (2, "a a b b"),
            (3, "c d"),
            (4, "b a a"),       # doc 1 reordered -> identical profile
        ],
        "doc_id bigint, text string",
    )
    out = {(r["id_a"], r["id_b"]): r for r in
           dedup.token_cosine_pairs(docs, threshold=(4, 5)).collect()}
    assert set(out) == {(1, 2), (1, 4), (2, 4)}
    r = out[(1, 2)]
    assert (r["dot"], r["norm_a"], r["norm_b"]) == (6, 5, 8)
    assert r["cosine"] == 6.0 / (math.sqrt(5.0) * math.sqrt(8.0))
    # the closing chain is deterministic IEEE, not symbolic: sqrt(5)^2
    # lands at 4.999...8, so equality is against the same expression (and
    # the INTEGER threshold filter is what keeps cutoffs exact)
    assert out[(1, 4)]["cosine"] == 5.0 / (math.sqrt(5.0) * math.sqrt(5.0))
    # tighter threshold drops the 0.9487 pair but keeps the identical one
    tight = {(r["id_a"], r["id_b"]) for r in
             dedup.token_cosine_pairs(docs, threshold=(99, 100)).collect()}
    assert tight == {(1, 4)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rational"):
        dedup.token_cosine_pairs(docs, threshold=(5, 4))
    with _pytest.raises(ValueError, match="denominator"):
        dedup.token_cosine_pairs(docs, threshold=(1, 101))


def test_token_cosine_guard_verifies_exactly(spark):
    """The max_term_df guard bounds candidate generation only: a pair
    generated through a rare term still rescores against the FULL tf
    vectors (hot terms included), so dot/norms/cosine are exact; a pair
    overlapping ONLY in hot terms is not generated (documented recall
    trade)."""
    rows = [(i, "hot common filler") for i in range(10, 20)]
    rows += [(1, "hot rareterm x"), (2, "hot rareterm y")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r["id_a"], r["id_b"]): r for r in
           dedup.token_cosine_pairs(
               docs, threshold=(1, 2), max_term_df=5
           ).collect()}
    # (1,2) generated via 'rareterm' (df=2 <= 5); dot counts 'hot' too:
    # dot = 1*1 (hot) + 1*1 (rareterm) = 2, norms = 3 -> cosine 2/3
    assert (1, 2) in out
    assert out[(1, 2)]["dot"] == 2 and out[(1, 2)]["norm_a"] == 3
    # the 10..19 block overlaps only in hot terms (df=12 and 10) -> absent
    assert all(a >= 10 or b >= 10 for (a, b) in out if (a, b) != (1, 2)) is True
    assert not any(a >= 10 and b >= 10 for (a, b) in out)


# ---------------------------------------------------------------------------
# hamming_pairs_incremental
# ---------------------------------------------------------------------------


def test_hamming_incremental_matches_bruteforce(spark):
    import random

    from trafficbigdatasearch_spark.operators import dedup

    rnd = random.Random(9)
    corpus = [(i, rnd.getrandbits(16)) for i in range(60)]
    new = [(100 + i, rnd.getrandbits(16)) for i in range(12)]
    # plant one exact and one 2-bit neighbor
    new[0] = (100, corpus[7][1])
    new[1] = (101, corpus[8][1] ^ 0b101)
    c = spark.createDataFrame(corpus, "id: bigint, simhash: bigint")
    n = spark.createDataFrame(new, "id: bigint, simhash: bigint")
    got = sorted(
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in dedup.hamming_pairs_incremental(c, n).collect()
    )
    expect = sorted(
        (ni, ci, bin(nh ^ ch).count("1"))
        for ni, nh in new
        for ci, ch in corpus
        if bin(nh ^ ch).count("1") <= 3
    )
    assert got == expect
    assert (100, corpus[7][0], 0) in got and (101, corpus[8][0], 2) in got
    # cross pairs only: no new x new, no corpus x corpus ids mixed up
    assert all(ni >= 100 and ci < 100 for ni, ci, _ in got)


def test_syndication_matrix_hand_case(spark):
    from trafficbigdatasearch_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six", "alpha"),
            (2, "one two three four five seven", "beta"),   # near-dup of 1
            (3, "one two three four five eight", "alpha"),  # near-dup of 1, SAME src
            (4, "totally different content entirely here now", "gamma"),
        ],
        "doc_id: bigint, text: string, source: string",
    )
    out = {
        (r["source_a"], r["source_b"]): r["n_pairs"]
        for r in dedup.syndication_matrix(docs, threshold=0.2).collect()
    }
    # cross-source pairs: (1,2) alpha-beta and (2,3) alpha-beta;
    # the same-source (1,3) pair is excluded
    assert out == {("alpha", "beta"): 2}


def test_cross_corpus_pairs_cross_only_and_complete(spark):
    from trafficbigdatasearch_spark.operators import dedup

    a = spark.createDataFrame(
        [
            (0, "one two three four five six seven eight nine ten"),
            (2, "completely different text about spark planners here"),
        ],
        "doc_id: bigint, text: string",
    )
    b = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight nine ten"),  # dup of 0
            (3, "unrelated musings on parquet footers and stripes"),
        ],
        "doc_id: bigint, text: string",
    )
    got = {(r["id_a"], r["id_b"])
           for r in dedup.cross_corpus_pairs(a, b).collect()}
    # the exact dup must surface; every pair is (A-side, B-side)
    assert (0, 1) in got
    assert all(x in (0, 2) and y in (1, 3) for x, y in got)


def test_cross_corpus_matches_full_lsh_cross_subset(spark, sf_dir):
    """cross_corpus_pairs over an even/odd split equals the full LSH pair
    set restricted to cross pairs (same fabric, same candidates)."""
    from pyspark.sql import functions as F

    from trafficbigdatasearch_spark.catalog import load_table
    from trafficbigdatasearch_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    full = dedup.minhash_lsh_pairs(docs, k=8, bands=4, n=3)
    cross_full = {
        (r["id_a"], r["id_b"]) if r["id_a"] % 2 == 0 else (r["id_b"], r["id_a"])
        for r in full.collect()
        if r["id_a"] % 2 != r["id_b"] % 2
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.cross_corpus_pairs(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
            k=8, bands=4, n=3,
        ).collect()
    }
    assert got == cross_full
