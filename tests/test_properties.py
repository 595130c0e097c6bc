"""Property-based checks (SURVEY.md §5.4) over the sf0.001 testdata:

- partition invariance: aggregating a union of disjoint slices equals
  aggregating the whole (the fixed-mode month-union contract);
- order invariance: the engine's exact money aggregation is identical under
  arbitrary repartitioning (decimal-cent sums, not float accumulation);
- monotonicity: a bbox filter's row count is monotone in box inclusion.

Each property samples its parameters with hypothesis; example counts are kept
small because every example runs Spark jobs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from trafficbigdatasearch_spark.catalog import load_table
from trafficbigdatasearch_spark.queries._shared import _dsum

SF = "/root/testdata/sf0.001"

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(split_day=st.integers(min_value=2, max_value=28))
@PROP
def test_count_union_of_disjoint_slices(spark, split_day):
    ev = load_table(spark, SF, "events")
    cut = F.lit(f"2024-01-{split_day:02d} 00:00:00").cast("timestamp")
    lo = ev.filter(F.col("ts") < cut)
    hi = ev.filter(F.col("ts") >= cut)
    whole = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    parts = (
        lo.unionByName(hi).groupBy("event_type").agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, parts.collect()))


@given(nparts=st.integers(min_value=1, max_value=17))
@PROP
def test_money_sum_order_invariance(spark, nparts):
    o = load_table(spark, SF, "orders")
    base = o.groupBy("o_orderstatus").agg(_dsum(F.col("o_totalprice")).alias("t"))
    shuffled = (
        o.repartition(nparts, F.col("o_custkey"))
        .groupBy("o_orderstatus")
        .agg(_dsum(F.col("o_totalprice")).alias("t"))
    )
    # exact equality — integer-cent sums are order-independent by construction
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, shuffled.collect()))


@given(
    lo=st.floats(min_value=0.0, max_value=100.0),
    width=st.floats(min_value=0.0, max_value=100.0),
    shrink=st.floats(min_value=0.0, max_value=1.0),
)
@PROP
def test_bbox_filter_monotone(spark, lo, width, shrink):
    ev = load_table(spark, SF, "events")

    def count_box(v_lo, v_hi):
        return ev.filter(F.col("value").between(v_lo, v_hi)).count()

    outer = count_box(lo, lo + width)
    inner_lo = lo + shrink * width / 2
    inner_hi = lo + width - shrink * width / 2
    assert count_box(inner_lo, max(inner_lo, inner_hi)) <= outer


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=3, max_value=7),  # arity
            st.sampled_from(["G1", "", "x y", "1"]),  # SITE_GUID-ish
            st.sampled_from(["P1", "", "2016-07-01 10:00:00", "junk"]),
            st.sampled_from(["2016-07-01 10:00:00", "junk", ""]),  # WZSJ
            st.sampled_from(["88", "fast", ""]),  # CLSD
            st.sampled_from(["1", "0", "", "?"]),  # ISOVERSPEED
        ),
        min_size=0,
        max_size=30,
    )
)
@PROP
def test_lenient_speed_csv_parser_properties(spark, tmp_path_factory, rows):
    """Fuzz the lenient reader against the reference's cleaning contract
    (S5-S7): exact arity 5, all fields non-empty, sentinel timestamps for
    parse failures, positive-millis filter, 0-default numeric casts — and it
    must never raise."""
    import datetime as dt

    from trafficbigdatasearch_spark.sources.csv_traffic import read_speed_csv

    d = tmp_path_factory.mktemp("fuzz")
    lines = []
    expected = 0
    for arity, a, b, c, e, f in rows:
        fields = [a, b, c, e, f][:arity] + ["pad"] * max(0, arity - 5)
        # commas inside fields are impossible under the split-on-comma contract
        lines.append(",".join(fields))
        if arity == 5 and all(x.strip() != "" for x in (a, b, c, e, f)):
            # sentinel fallback -> epoch -> dropped by millis > 0 unless parseable
            try:
                ts = dt.datetime.strptime(c, "%Y-%m-%d %H:%M:%S")
                if ts.timestamp() > 0:
                    expected += 1
            except ValueError:
                pass
    p = d / "fuzz.csv"
    p.write_text("\n".join(lines) + "\n" if lines else "")
    got = read_speed_csv(spark, str(p))
    assert got.count() == expected
    # surviving rows honor the lenient numeric defaults
    for r in got.collect():
        assert r["WZSJMillis"] > 0
        assert r["CLSD"] is not None and r["ISOVERSPEED"] is not None


@given(
    seed=st.integers(min_value=0, max_value=1_000_000),
    n_keys=st.integers(min_value=1, max_value=60),
    n_bits=st.sampled_from([1 << 8, 1 << 10, 1 << 12]),
)
@PROP
def test_bloom_no_false_negatives_property(spark, seed, n_keys, n_bits):
    """For ANY key set and bitmap size, every true member passes the
    prefilter and the semi/anti joins stay row-identical to their plain
    forms (the bloom contract: false positives allowed, false negatives
    never)."""
    from trafficbigdatasearch_spark.operators import joins as J

    keys = (
        spark.range(0, n_keys)
        .select(((F.col("id") * 2654435761 + seed) % 100_000).alias("k"))
        .distinct()
    )
    big = spark.range(0, 500).select(((F.col("id") * 97) % 100_000).alias("k"))
    words = J.bloom_bitmap(keys, "k", n_bits=n_bits, n_hashes=3)
    # membership: every key passes its own bitmap
    assert J.bloom_prefilter(keys, "k", words).count() == keys.count()
    # join exactness under arbitrary fp rate (tiny bitmaps force fps)
    semi = J.bloom_semi_join(big, keys, "k", n_bits=n_bits)
    plain_semi = big.join(keys, "k", "left_semi")
    assert sorted(r["k"] for r in semi.collect()) == sorted(
        r["k"] for r in plain_semi.collect()
    )
    anti = J.bloom_anti_join(big, keys, "k", n_bits=n_bits)
    plain_anti = big.join(keys, "k", "left_anti")
    assert sorted(r["k"] for r in anti.collect()) == sorted(
        r["k"] for r in plain_anti.collect()
    )


@given(
    upd=st.sets(st.integers(min_value=0, max_value=29), max_size=8),
    dele=st.sets(st.integers(min_value=0, max_value=29), max_size=8),
    ins=st.sets(st.integers(min_value=30, max_value=49), max_size=8),
)
@PROP
def test_merge_upsert_algebra_property(spark, upd, dele, ins):
    """For ANY disjoint update/delete/insert key sets: the merged snapshot
    contains exactly (base - deletes) ∪ inserts, updates carry the new
    value, and re-applying the changeset is a no-op (idempotence)."""
    from trafficbigdatasearch_spark.operators import diff as D

    upd = upd - dele  # a key must carry one op
    base = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") * 10.0).alias("v")
    )
    rows = (
        [(k, k * 10.0 + 1.0, "U") for k in sorted(upd)]
        + [(k, None, "D") for k in sorted(dele)]
        + [(k, k * 10.0, "I") for k in sorted(ins)]
    )
    if not rows:
        return
    changes = spark.createDataFrame(rows, "k bigint, v double, op string")
    merged = D.merge_upsert(base, changes, ["k"])
    got = {r["k"]: r["v"] for r in merged.collect()}
    want = {k: k * 10.0 for k in range(30) if k not in dele}
    want.update({k: k * 10.0 + 1.0 for k in upd})
    want.update({k: k * 10.0 for k in ins})
    assert got == want
    again = D.merge_upsert(merged, changes, ["k"])
    assert {r["k"]: r["v"] for r in again.collect()} == want


@given(
    words=st.lists(
        st.text(alphabet="ab01", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    ),
    n_merges=st.integers(min_value=1, max_value=4),
)
@PROP
def test_bpe_apply_lossless_property(spark, words, n_merges):
    """For ANY corpus and ANY learned rule count, apply_merges is lossless:
    concatenating a word's subword tokens reproduces the word exactly, and
    every emitted token is non-empty — the delimiter-safety contract under
    random inputs."""
    from trafficbigdatasearch_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id bigint, text string"
    )
    rules, _ = bpe.learn_merges(docs, n_merges)
    out = bpe.apply_merges(docs, rules).collect()
    assert len(out) == len(words)
    for r in out:
        toks = r["encoded"].split(" ")
        assert all(toks), r
        assert "".join(toks) == r["word"], r


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    threshold=st.sampled_from([0.2, 0.28, 0.33, 0.5, 0.75, 0.8]),
)
@PROP
def test_prefix_jaccard_lossless_property(spark, seed, threshold):
    """Prefix filtering equals the unguarded inverted index for random
    corpora and thresholds, including awkward threshold*size products."""
    import random

    from trafficbigdatasearch_spark.operators import dedup

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [
            (i, " ".join(rng.choices(vocab, k=rng.randrange(3, 25))))
            for i in range(12)
        ],
        "doc_id bigint, text string",
    )
    plain = sorted(
        map(
            tuple,
            dedup.ngram_jaccard_pairs(
                docs, n=1, threshold=threshold, max_shingle_freq=None
            ).collect(),
        )
    )
    pref = sorted(
        map(
            tuple,
            dedup.ngram_jaccard_pairs_prefix(
                docs, n=1, threshold=threshold
            ).collect(),
        )
    )
    assert pref == plain


@given(seed=st.integers(min_value=0, max_value=10_000))
@PROP
def test_duplicated_spans_match_bruteforce_property(spark, seed):
    """duplicated_spans' merged intervals equal a Python brute-force
    computation of the union of hot k-windows for random corpora."""
    import random

    from trafficbigdatasearch_spark.operators import dedup

    rng = random.Random(seed)
    k = 3
    vocab = [f"w{i}" for i in range(8)]
    corpus = {
        i: [rng.choice(vocab) for _ in range(rng.randrange(k, 15))]
        for i in range(8)
    }
    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in corpus.items()],
        "doc_id bigint, text string",
    )

    def windows(toks):
        if len(toks) < k:
            return [(0, tuple(toks))]
        return [(i, tuple(toks[i : i + k])) for i in range(len(toks) - k + 1)]

    freq = {}
    for i, toks in corpus.items():
        for _, w in set(windows(toks)):
            freq.setdefault(w, set()).add(i)
    want = {}
    for i, toks in corpus.items():
        ivals = sorted(
            (p, p + k) for p, w in windows(toks) if len(freq[w]) >= 2
        )
        merged = []
        for lo, hi in ivals:
            if merged and lo <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
            else:
                merged.append((lo, hi))
        for lo, hi in merged:
            want[(i, lo)] = hi
    got = {
        (r["doc_id"], r["span_start"]): r["span_end"]
        for r in dedup.duplicated_spans(docs, k=k).collect()
    }
    assert got == want


@given(
    cut1=st.integers(min_value=2, max_value=14),
    span=st.integers(min_value=1, max_value=13),
)
@PROP
def test_trend_merge_equals_single_pass_any_slicing(spark, cut1, span):
    """The trend moments are associative+commutative integer sums, so ANY
    3-way slicing of the stream must merge to the single-pass result
    EXACTLY (bit-equal slopes, not approximately)."""
    from trafficbigdatasearch_spark.operators import timeseries as TS

    cut2 = cut1 + span
    ev = load_table(spark, SF, "events")
    day = F.dayofmonth("ts")
    parts = [
        TS.trend_partial(ev.filter(day < cut1)),
        TS.trend_partial(ev.filter((day >= cut1) & (day < cut2))),
        TS.trend_partial(ev.filter(day >= cut2)),
    ]
    merged = {
        r["event_type"]: r
        for r in TS.trend_finalize(TS.trend_merge(parts)).collect()
    }
    single = {
        r["event_type"]: r for r in TS.trend_per_key(ev).collect()
    }
    assert set(merged) == set(single)
    for k in single:
        assert merged[k]["n"] == single[k]["n"]
        assert merged[k]["slope"] == single[k]["slope"]
        assert merged[k]["mean_y"] == single[k]["mean_y"]


@given(frac=st.floats(min_value=0.05, max_value=0.95))
@PROP
def test_holdout_split_partitions_for_any_fraction(spark, frac):
    """holdout_split is an exact partition at every admissible fraction:
    no row lost, none duplicated, membership disjoint."""
    from trafficbigdatasearch_spark.operators import evalrank, recsys

    ui = recsys.user_item(load_table(spark, SF, "events"))
    train, test = evalrank.holdout_split(ui, test_frac=frac)
    n, ntr, nte = ui.count(), train.count(), test.count()
    assert ntr + nte == n
    assert train.intersect(test).count() == 0


@given(seed=st.integers(min_value=0, max_value=1_000))
@PROP
def test_temperature_sample_membership_nests_across_alpha(spark, seed):
    """r8 invariant: for alpha_1 < alpha_2 (rational), the kept set at the
    colder temperature is a SUBSET of the kept set at the warmer one —
    the exact integer cross-multiplied memberships preserve the
    mathematical nesting bucket < B*(n_min/n_g)^(1-alpha), so tightening
    the exponent only ever drops rows (never swaps them)."""
    from trafficbigdatasearch_spark.operators import sampling

    rows = [(seed * 10_000 + i, "g" + str(i % 3)) for i in range(300)]
    # skew the groups: g0 gets 3x extra rows
    rows += [(seed * 10_000 + 10_000 + i, "g0") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, src STRING")
    kept = {}
    for alpha in [(1, 3), (1, 2), (2, 3), (1, 1)]:
        kept[alpha] = {
            r["doc_id"]
            for r in sampling.temperature_sample(
                df, "src", key_col="doc_id", alpha=alpha
            ).collect()
        }
    assert kept[(1, 3)] <= kept[(1, 2)] <= kept[(2, 3)] <= kept[(1, 1)]
    assert len(kept[(1, 1)]) == len(rows)


@given(pct_lo=st.integers(min_value=20, max_value=50))
@PROP
def test_boilerplate_coverage_monotone_in_df_threshold(spark, pct_lo):
    """r8 invariant: raising min_df_pct only ever SHRINKS the set of
    (doc, token-position) pairs covered by boilerplate spans — fewer hot
    windows, nested interval coverage."""
    from trafficbigdatasearch_spark.operators import dedup

    footer = "one two three four five"
    docs = spark.createDataFrame(
        [(i, f"w{i}a w{i}b " + (footer if i % 3 else "solo text here"),
          "s0") for i in range(12)],
        "doc_id BIGINT, text STRING, source STRING",
    )

    def coverage(pct):
        out = set()
        for r in dedup.boilerplate_spans(
            docs, group_col="source", k=3, min_df_pct=pct, min_docs=2
        ).collect():
            for pos in range(r["span_start"], r["span_end"]):
                out.add((r["doc_id"], pos))
        return out

    assert coverage(pct_lo + 40) <= coverage(pct_lo)


@given(seed=st.integers(min_value=0, max_value=100))
@PROP
def test_hdcg_bounded_and_perfect_head_is_one(spark, seed):
    """r8 invariant: hdcg is in [0, 1] for ANY inputs, and equals exactly
    1.0 when every relevant item (up to k) occupies the top ranks."""
    from trafficbigdatasearch_spark.operators import evalrank

    k = 5
    rel_items = [(1, seed * 100 + i) for i in range(3)]
    rel = spark.createDataFrame(
        rel_items + [(2, 7), (2, 8)], "user_id BIGINT, item_id BIGINT"
    )
    # user 1: perfect head (all 3 relevant at ranks 1-3); user 2: miss
    recs = spark.createDataFrame(
        [(1, it, r + 1) for r, (_, it) in enumerate(rel_items)]
        + [(1, 999, 4), (2, 999, 1)],
        "user_id BIGINT, item_id BIGINT, rank BIGINT",
    )
    out = {r["user_id"]: r for r in evalrank.hdcg_at_k(recs, rel, k=k).collect()}
    assert out[1]["hdcg"] == 1.0
    assert out[2]["hdcg"] == 0.0
    for r in out.values():
        assert 0.0 <= r["hdcg"] <= 1.0
        assert 0 <= r["dcg_num"] <= r["idcg_num"]


# ---------------------------------------------------------------------------
# r9 additions: cross-checks against independent reference implementations
# ---------------------------------------------------------------------------


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_docs=st.integers(min_value=2, max_value=12),
)
@PROP
def test_token_cosine_matches_bruteforce(spark, seed, n_docs):
    """token_cosine_pairs (unguarded) == a pure-Python brute-force cosine
    over random small vocabulary-dense corpora (exactly the tie/overlap
    regime the inverted-index plan must not miscount)."""
    import itertools
    import math
    import random

    from trafficbigdatasearch_spark.operators import dedup

    rng = random.Random(seed)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 10))))
        for i in range(n_docs)
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["dot"], r["norm_a"], r["norm_b"])
        for r in dedup.token_cosine_pairs(
            df, threshold=(4, 5), max_term_df=None
        ).collect()
    }
    # brute force
    tf = {}
    for i, text in docs:
        c = {}
        for w in text.split():
            c[w] = c.get(w, 0) + 1
        tf[i] = c
    want = {}
    for a, b in itertools.combinations(sorted(tf), 2):
        dot = sum(tf[a][t] * tf[b][t] for t in tf[a] if t in tf[b])
        na = sum(v * v for v in tf[a].values())
        nb = sum(v * v for v in tf[b].values())
        if dot > 0 and 25 * dot * dot >= 16 * na * nb:
            want[(a, b)] = (dot, na, nb)
    assert got == want


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_nodes=st.integers(min_value=4, max_value=60),
)
@PROP
def test_incremental_cc_matches_full_on_random_graphs(spark, seed, n_nodes):
    """incremental_components == connected_components over a random edge
    set randomly split into base and increment — the maintenance identity
    under arbitrary merge topologies, not just the designed hand cases."""
    import random

    from trafficbigdatasearch_spark.operators import graph as G

    rng = random.Random(seed)
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes))
        for _ in range(max(2, n_nodes))
    ]
    edges = [(a, b) for a, b in edges if a != b]
    if len(edges) < 2:
        return
    cut = rng.randint(1, len(edges) - 1)
    df = lambda rows: spark.createDataFrame(rows, "id_a bigint, id_b bigint")
    base, inc = df(edges[:cut]), df(edges[cut:])
    labels = G.connected_components(base)
    got = sorted(map(tuple, G.incremental_components(labels, inc).collect()))
    want = sorted(map(tuple, G.connected_components(df(edges)).collect()))
    assert got == want


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    tol=st.integers(min_value=0, max_value=30),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
)
@PROP
def test_asof_tolerance_matches_pandas_merge_asof(spark, seed, tol, direction):
    """asof_join with tolerance == pandas.merge_asof in ALL THREE
    directions (backward / forward / nearest, inclusive) on random integer
    time series — the canonical implementation as the reference (right
    timestamps deduplicated first: merge_asof keeps the LAST row at a
    duplicated key ts, while the engine's contract is the max-struct
    winner; dedup makes both conventions vacuous)."""
    import random

    import pandas as pd

    from trafficbigdatasearch_spark.operators import joins as J

    rng = random.Random(seed)
    left = sorted(
        {(rng.randint(0, 2), rng.randint(0, 100)) for _ in range(20)}
    )
    right_keys = sorted(
        {(rng.randint(0, 2), rng.randint(0, 100)) for _ in range(15)}
    )
    # ~1/4 NULL values (ADVICE r9): a NULL in the matched row must surface
    # as NULL, never back-fill from an older right row
    right = [
        (k, t, None if rng.random() < 0.25 else i)
        for i, (k, t) in enumerate(right_keys)
    ]
    ldf = spark.createDataFrame(left, "k bigint, ts bigint")
    rdf = spark.createDataFrame(right, "k bigint, rts bigint, val bigint")
    got = {
        (r["k"], r["ts"]): r["val"]
        for r in J.asof_join(
            ldf, rdf, ["k"], "ts", "rts", direction=direction, tolerance=tol
        ).collect()
    }
    lp = pd.DataFrame(left, columns=["k", "ts"]).sort_values("ts")
    rp = pd.DataFrame(right, columns=["k", "rts", "val"]).sort_values("rts")
    m = pd.merge_asof(
        lp, rp, left_on="ts", right_on="rts", by="k",
        tolerance=tol, direction=direction, allow_exact_matches=True,
    )
    want = {
        (int(r.k), int(r.ts)): (None if pd.isna(r.val) else int(r.val))
        for r in m.itertuples()
    }
    assert got == want


@given(seed=st.integers(min_value=0, max_value=10_000))
@PROP
def test_batched_bpe_matches_reference_on_random_corpora(spark, seed):
    """Batched learn_merges == the pure-Python sequential reference on
    random tie-dense corpora — the hypothesis-driven generalization of
    the designed tie-trap case (small vocab + repeated freqs maximize
    exact weight ties, the regime where an unsound batch would diverge)."""
    import random

    from tests.test_bpe import _ref_bpe

    rng = random.Random(seed)
    vocab = ["abc", "abd", "cab", "bca", "aab", "bba"]
    words = {
        w: rng.choice([10, 10, 20, 30])
        for w in rng.sample(vocab, rng.randint(2, len(vocab)))
    }
    docs = spark.createDataFrame(
        [(i, " ".join([w] * f)) for i, (w, f) in enumerate(words.items())],
        "doc_id bigint, text string",
    )
    from trafficbigdatasearch_spark.operators import bpe

    want, _ = _ref_bpe(words, 6)
    got, _ = bpe.learn_merges(docs, 6, batch_size=8)
    assert got == want


@given(seed=st.integers(min_value=0, max_value=10_000))
@PROP
def test_margin_bitext_matches_pure_python(spark, seed):
    """margin_bitext_pairs == a pure-Python reference (quantized cosine,
    k-th-neighbor margin, smallest-id tie-breaks) on random vector pools —
    the hypothesis generalization of the designed hub case."""
    import math
    import random

    from trafficbigdatasearch_spark.operators import similarity

    rng = random.Random(seed)
    dims, k = 4, 3
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dims)], i % 2)
        for i in range(rng.randint(6, 18))
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in similarity.margin_bitext_pairs(
            emb, k=k, threshold=-10.0
        ).collect()
    }

    # pure-python reference over the SAME quantized values Spark computes
    # (float32 payload -> round(x * 10000) integer lattice)
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    def quant(v):
        return [round(f32(x) * 10000) for x in v]

    a = [(i, quant(v)) for i, v, s in rows if s == 0]
    b = [(i, quant(v)) for i, v, s in rows if s == 1]

    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        nu, nv = sum(x * x for x in u), sum(y * y for y in v)
        if nu == 0 or nv == 0:
            return None
        return d / (math.sqrt(nu) * math.sqrt(nv))

    want = {}
    if a and b:
        kth_a = {}
        for ia, va in a:
            cs = sorted(
                ((cos(va, vb), ib) for ib, vb in b),
                key=lambda t: (-t[0], t[1]),
            )
            kth_a[ia] = cs[: min(k, len(cs))][-1][0]
        kth_b = {}
        for ib, vb in b:
            cs = sorted(
                ((cos(vb, va), ia) for ia, va in a),
                key=lambda t: (-t[0], t[1]),
            )
            kth_b[ib] = cs[: min(k, len(cs))][-1][0]
        for ia, va in a:
            best = sorted(
                ((cos(va, vb), ib) for ib, vb in b),
                key=lambda t: (-t[0], t[1]),
            )[0]
            c, ib = best
            want[(ia, ib)] = (2.0 * c - kth_a[ia]) - kth_b[ib]
    assert set(got) == set(want)
    for key in want:
        assert abs(got[key] - want[key]) <= 1e-12, key


@given(seed=st.integers(min_value=0, max_value=10_000))
@PROP
def test_cluster_purity_matches_pure_python(spark, seed):
    """cluster_purity == a pure-Python reference on random assignments and
    label tables (NULL labels excluded, smallest-label ties)."""
    import random
    from collections import Counter, defaultdict

    from trafficbigdatasearch_spark.operators import evalrank

    rng = random.Random(seed)
    n = rng.randint(5, 40)
    assign = [(i, rng.randint(0, 4)) for i in range(n)]
    labels = [
        (i, None if rng.random() < 0.2 else rng.randint(0, 3))
        for i in range(n)
    ]
    adf = spark.createDataFrame(assign, "vec_id bigint, cell_id bigint")
    ldf = spark.createDataFrame(labels, "vec_id bigint, label int")
    got = {
        r["cell_id"]: (
            r["n_members"], r["majority_label"], r["n_majority"], r["purity"]
        )
        for r in evalrank.cluster_purity(adf, ldf).collect()
    }
    by_cell = defaultdict(list)
    lab = dict(labels)
    for i, c in assign:
        if lab[i] is not None:
            by_cell[c].append(lab[i])
    want = {}
    for c, ls in by_cell.items():
        cnt = Counter(ls)
        best = sorted(cnt.items(), key=lambda t: (-t[1], t[0]))[0]
        want[c] = (len(ls), best[0], best[1], best[1] / len(ls))
    assert got == want


@given(seed=st.integers(min_value=0, max_value=10_000))
@PROP
def test_key_skew_profile_matches_reference(spark, seed):
    """key_skew_profile's exact percentiles/shares vs a pure-python
    reference on Zipf-ish random key distributions (the operator's target
    shape: few hot keys, long singleton tail)."""
    import random

    from trafficbigdatasearch_spark.operators import validate

    rnd = random.Random(seed)
    n_keys = rnd.randint(3, 40)
    sizes = [rnd.choice([1, 1, 1, 2, 3, rnd.randint(1, 200)])
             for _ in range(n_keys)]
    rows = [(f"k{i}",) for i, s in enumerate(sizes) for _ in range(s)]
    rnd.shuffle(rows)
    df = spark.createDataFrame(rows, "k: string")
    got = validate.key_skew_profile(df, "k").collect()[0].asDict()

    srt = sorted(sizes)
    def pct(p):
        thresh = -(-p * n_keys // 100)  # ceil
        return srt[thresh - 1]

    assert got["n_keys"] == n_keys and got["n_rows"] == sum(sizes)
    assert got["max_size"] == max(sizes)
    assert got["p50_size"] == pct(50)
    assert got["p90_size"] == pct(90)
    assert got["p99_size"] == pct(99)
    assert got["max_share_ppm"] == 1_000_000 * max(sizes) // sum(sizes)


@given(seed=st.integers(min_value=0, max_value=10_000))
@PROP
def test_hopping_window_matches_reference(spark, seed):
    """hopping_window_agg's window assignment + cents sums vs a pure-python
    fold on random event sets (epoch-aligned 1h/15min windows)."""
    import random
    from datetime import datetime, timedelta, timezone

    from trafficbigdatasearch_spark.operators import timeseries as TS

    rnd = random.Random(seed)
    base = datetime(2024, 3, 1, tzinfo=timezone.utc)
    rows = [
        (
            (base + timedelta(minutes=rnd.randrange(0, 600),
                              seconds=rnd.randrange(60))).replace(tzinfo=None),
            rnd.choice("ab"),
            rnd.choice([None, round(rnd.uniform(-5, 5), 2)]),
        )
        for _ in range(rnd.randint(1, 60))
    ]
    df = spark.createDataFrame(
        rows, "ts: timestamp, event_type: string, value: double"
    )
    got = {
        (r["key"], r["win_start"]): (r["n"], r["sum_cents"])
        for r in TS.hopping_window_agg(df).collect()
    }
    expect: dict = {}
    for ts, k, v in rows:
        if v is None:
            continue
        epoch = int(ts.replace(tzinfo=timezone.utc).timestamp())
        base15 = epoch - epoch % 900
        for j in range(4):
            ws = datetime.utcfromtimestamp(base15 - j * 900)
            n, c = expect.get((k, ws), (0, 0))
            expect[(k, ws)] = (n + 1, c + round(v * 100))
    assert got == expect


@given(seed=st.integers(min_value=0, max_value=10_000))
@PROP
def test_scene_changes_matches_reference(spark, seed):
    """scene_changes framing/hashing/boundary logic vs a pure-python
    recomputation on random ASCII payloads."""
    import hashlib
    import random

    from trafficbigdatasearch_spark.operators import multimodal

    rnd = random.Random(seed)
    W = rnd.choice([3, 5, 8])
    assets = []
    for aid in range(rnd.randint(1, 5)):
        n = rnd.randrange(0, 40)
        payload = "".join(rnd.choice("abc") for _ in range(n))
        assets.append((aid, "video", bytearray(payload.encode()), "{}"))
    df = spark.createDataFrame(
        assets,
        "asset_id: bigint, media_type: string, payload: binary, meta: string",
    )
    got = {
        (r["asset_id"], r["frame_idx"]): (r["hamming"], r["is_boundary"])
        for r in multimodal.scene_changes(df, frame_chars=W, threshold=2).collect()
    }
    expect: dict = {}
    for aid, _m, payload, _meta in assets:
        text = bytes(payload).decode()
        if not text:
            continue
        frames = [text[i:i + W] for i in range(0, len(text), W)]
        phs = [
            int(hashlib.md5(f.encode()).hexdigest()[:4], 16) for f in frames
        ]
        for i in range(1, len(phs)):
            h = bin(phs[i] ^ phs[i - 1]).count("1")
            expect[(aid, i)] = (h, h > 2)
    assert got == expect
