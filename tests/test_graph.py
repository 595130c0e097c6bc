"""Unit semantics for operators/graph.py, checked against brute-force or
hand-computed references.

Connected components run against a reference union-find on shapes that
stress the large-star/small-star rounds: a long chain (diameter >> log n —
naive propagation's worst case), a hub star, dense cliques, multiple
components, isolated nodes, and randomized graphs.  The other operators —
BFS, PageRank/PPR, link prediction, incremental CC, triangles, local
clustering, k-core, label propagation, SSSP, modularity, assortativity,
component sizes — and the amortized argmax bounds guard get hand cases and
seeded random graphs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from trafficbigdatasearch_spark.operators import graph


def _union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label every node with its component MIN (roots are min by construction)
    return {x: find(x) for x in list(parent)}


def _cc(spark, pairs: list[tuple[int, int]], **kw) -> dict[int, int]:
    df = spark.createDataFrame(pairs, "id_a: bigint, id_b: bigint")
    return {
        r["id"]: r["component"]
        for r in graph.connected_components(df, **kw).collect()
    }


def test_chain_star_and_components(spark):
    # chain 0-1-2-...-63 (worst case for diameter-bound propagation),
    # a star around 100, a separate triangle, reversed/duplicated edges
    pairs = [(i, i + 1) for i in range(63)]
    pairs += [(100 + i, 100) for i in range(1, 8)]
    pairs += [(201, 200), (200, 202), (202, 201), (201, 202)]
    expect = _union_find(pairs)
    assert _cc(spark, pairs) == expect
    assert set(expect.values()) >= {0, 100, 200}


def test_isolated_nodes_label_themselves(spark):
    pairs = [(1, 2)]
    nodes = spark.createDataFrame([(1,), (2,), (9,)], "id: bigint")
    got = _cc(spark, pairs, nodes=nodes)
    assert got == {1: 1, 2: 1, 9: 9}


def test_self_loops_and_duplicate_edges_ignored(spark):
    got = _cc(spark, [(5, 5), (5, 6), (6, 5), (5, 6)])
    assert got == {5: 5, 6: 5}


@pytest.mark.parametrize("seed", [0, 1])
def test_random_graphs_match_union_find(spark, seed):
    rng = random.Random(seed)
    n = 400
    pairs = [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(300)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    assert _cc(spark, pairs) == _union_find(pairs)


def test_dedup_clusters_keeper_flag(spark):
    df = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], "id_a: bigint, id_b: bigint"
    )
    rows = {r["id"]: r for r in graph.dedup_clusters(df).collect()}
    assert rows[10]["is_keeper"] and rows[40]["is_keeper"]
    assert not rows[20]["is_keeper"] and rows[20]["component"] == 10
    assert rows[30]["component"] == 10 and rows[50]["component"] == 40


# ---------------------------------------------------------------------------
# bfs_levels
# ---------------------------------------------------------------------------


def _bfs(spark, edges, seeds, depth):
    e = spark.createDataFrame(edges, "u: bigint, v: bigint")
    s = spark.createDataFrame([(x,) for x in seeds], "id: bigint")
    return {r.id: r.level for r in graph.bfs_levels(e, s, depth).collect()}


def test_bfs_path_graph_levels(spark):
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    assert _bfs(spark, edges, [1], 3) == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_min_level_wins_on_multiple_paths(spark):
    # 1-2-3-4 and a shortcut 1-4: node 4 is level 1, not 3
    edges = [(1, 2), (2, 3), (3, 4), (1, 4)]
    assert _bfs(spark, edges, [1], 4) == {1: 0, 2: 1, 3: 2, 4: 1}


def test_bfs_multiple_seeds_and_cycle(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 4)]
    got = _bfs(spark, edges, [1, 4], 2)
    assert got == {1: 0, 4: 0, 2: 1, 3: 1}


def test_bfs_unreachable_component_absent(spark):
    edges = [(1, 2), (10, 11)]
    assert _bfs(spark, edges, [1], 5) == {1: 0, 2: 1}


def test_bfs_seed_only_depth_zero(spark):
    assert _bfs(spark, [(1, 2)], [7], 0) == {7: 0}


def test_cc_string_ids_lexicographic_components(spark):
    # cast=None: string node ids cluster with lexicographic-min canonical
    df = spark.createDataFrame(
        [("cold bolt", "old bolt"), ("old bolt", "red bolt"), ("zz", "aa")],
        "id_a: string, id_b: string",
    )
    got = {r.id: r.component for r in graph.connected_components(
        df, cast=None).collect()}
    assert got == {
        "cold bolt": "cold bolt", "old bolt": "cold bolt",
        "red bolt": "cold bolt", "zz": "aa", "aa": "aa",
    }


# ---------------------------------------------------------------------------
# pagerank_integer
# ---------------------------------------------------------------------------


def test_pagerank_uniform_on_cycle(spark):
    # a directed cycle is rank-symmetric: every node keeps the same rank
    n = 8
    e = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)], "u: bigint, v: bigint")
    ranks = {r.id: r["rank"] for r in graph.pagerank_integer(e, n_iter=4).collect()}
    assert len(set(ranks.values())) == 1


def test_pagerank_hub_outranks_leaves(spark):
    # star pointing at 0 (0 self-loops to keep out-degree): hub accumulates
    e = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(0, 0)], "u: bigint, v: bigint"
    )
    ranks = {r.id: r["rank"] for r in graph.pagerank_integer(e, n_iter=3).collect()}
    assert ranks[0] > max(ranks[i] for i in range(1, 6))
    # leaves (no in-edges beyond base) are symmetric
    assert len({ranks[i] for i in range(1, 6)}) == 1


def test_pagerank_mass_nearly_conserved(spark):
    scale = 10**12
    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % 11) for i in range(11)], "u: bigint, v: bigint"
    )
    total = sum(
        r["rank"] for r in graph.pagerank_integer(e, n_iter=3, scale=scale).collect()
    )
    # floor-division drains at most ~n units per arithmetic step per round
    assert scale * 0.999 <= total <= scale


def test_pagerank_rejects_dangling_source(spark):
    e = spark.createDataFrame([(1, 2)], "u: bigint, v: bigint")
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "id: bigint")
    # node 2 and 3 have no out-edges, but only edge SOURCES are validated;
    # a source outside the node set must raise
    bad_nodes = spark.createDataFrame([(2,)], "id: bigint")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="outside the node set"):
        graph.pagerank_integer(e, n_iter=1, nodes=bad_nodes)


class TestPersonalizedPageRank:
    def _ring(self, spark, n=12):
        ids = spark.range(n)
        from pyspark.sql import functions as F

        return ids.select(
            F.col("id").alias("u"), ((F.col("id") + 1) % n).alias("v")
        )

    def test_mass_concentrates_near_seed(self, spark):
        from pyspark.sql import functions as F

        from trafficbigdatasearch_spark.operators import graph as G

        edges = self._ring(spark, 12)
        seeds = spark.range(1)  # node 0
        r = {
            row["id"]: row["rank"]
            for row in G.personalized_pagerank_integer(
                edges, seeds, n_iter=3
            ).collect()
        }
        # teleport + walk mass sits on the seed and its forward path
        assert r[0] > r[6]
        assert r[1] > r[6] and r[2] > r[6]
        # nodes unreachable within 3 steps of the seed carry zero rank
        assert r[6] == 0 and r[7] == 0
        # determinism under repartitioning: exact equality
        again = {
            row["id"]: row["rank"]
            for row in G.personalized_pagerank_integer(
                edges.repartition(5), seeds, n_iter=3
            ).collect()
        }
        assert r == again

    def test_guards(self, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from trafficbigdatasearch_spark.operators import graph as G

        edges = self._ring(spark, 6)
        with _pytest.raises(ValueError, match="non-empty"):
            G.personalized_pagerank_integer(edges, spark.range(0))
        with _pytest.raises(ValueError, match="seed outside"):
            G.personalized_pagerank_integer(
                edges, spark.range(100, 101)
            )


class TestLinkPrediction:
    def test_hand_checkable_square(self, spark):
        """Path a-b-c plus a-d-c: pair (a, c) shares {b, d}; all other
        distance-2 pairs share one neighbor; adjacent pairs never appear."""
        from pyspark.sql import functions as F

        from trafficbigdatasearch_spark.operators import graph as G

        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (0, 3), (3, 2)], "u BIGINT, v BIGINT"
        )
        out = {
            (r["u"], r["v"]): r
            for r in G.jaccard_link_prediction(edges).collect()
        }
        # square 0-1-2-3: diagonals (0,2) and (1,3) share two neighbors
        assert out[(0, 2)]["shared"] == 2
        # jaccard = 2 / (2 + 2 - 2) = 1.0 — N(0) = {1,3} = N(2)
        assert out[(0, 2)]["score"] == 1.0
        assert out[(1, 3)]["score"] == 1.0
        # adjacent pairs excluded
        assert (0, 1) not in out and (0, 3) not in out
        assert set(out) == {(0, 2), (1, 3)}

    def test_max_degree_cap_drops_hub_witnesses(self, spark):
        from trafficbigdatasearch_spark.operators import graph as G

        # star: hub 0 connected to 1..5; every leaf pair is witnessed
        # ONLY through the hub
        edges = spark.createDataFrame(
            [(0, i) for i in range(1, 6)], "u BIGINT, v BIGINT"
        )
        full = G.jaccard_link_prediction(edges).count()
        assert full == 10  # C(5,2) leaf pairs
        capped = G.jaccard_link_prediction(edges, max_degree=3).count()
        assert capped == 0  # hub dropped -> no witnesses survive


class TestIncrementalComponents:
    def test_hand_case_merge_and_new_nodes(self, spark):
        """New edges merge two standing components and introduce a brand-new
        one; untouched components keep their labels; the corpus-sized table
        is only scanned, never shuffled (broadcast pins in the plan)."""
        from trafficbigdatasearch_spark.operators import graph as G

        comp = spark.createDataFrame(
            [(1, 1), (2, 1), (5, 5), (6, 5), (9, 9)],
            "id BIGINT, component BIGINT",
        )
        new = spark.createDataFrame(
            [(2, 5), (10, 11)], "id_a BIGINT, id_b BIGINT"
        )
        out = {r["id"]: r["component"] for r in
               G.incremental_components(comp, new).collect()}
        assert out == {1: 1, 2: 1, 5: 1, 6: 1, 9: 9, 10: 10, 11: 10}

    def test_equals_full_cc_on_split_edge_set(self, spark):
        """The maintenance identity: CC(old edges) incremented with the new
        edges must equal CC(all edges) — including chains where a new edge
        bridges components through a node with the globally smallest id."""
        from pyspark.sql import functions as F

        from trafficbigdatasearch_spark.operators import graph as G

        ids = spark.range(300)
        edges = ids.select(
            F.col("id").alias("id_a"),
            ((F.col("id") * 17 + 5) % 300).alias("id_b"),
        ).filter(F.col("id_a") != F.col("id_b"))
        old = edges.filter((F.col("id_a") + F.col("id_b")) % 2 == 0)
        new = edges.filter((F.col("id_a") + F.col("id_b")) % 2 == 1)
        base = G.connected_components(old)
        got = sorted(map(tuple,
                         G.incremental_components(base, new).collect()))
        # full CC restricted to the same node universe (old-labeled nodes
        # plus new-edge endpoints == all edge endpoints here)
        want = sorted(map(tuple, G.connected_components(edges).collect()))
        assert got == want

    def test_new_smallest_id_becomes_root(self, spark):
        """A NEW node with the globally smallest id must become the merged
        component's label — the min-label contract survives maintenance."""
        from trafficbigdatasearch_spark.operators import graph as G

        comp = spark.createDataFrame([(7, 7), (8, 7)], "id BIGINT, component BIGINT")
        new = spark.createDataFrame([(3, 8)], "id_a BIGINT, id_b BIGINT")
        out = {r["id"]: r["component"] for r in
               G.incremental_components(comp, new).collect()}
        assert out == {3: 3, 7: 3, 8: 3}


# ---------------------------------------------------------------------------
# local_clustering / modularity_by_community
# ---------------------------------------------------------------------------


def _lcc_rows(spark, edges, nodes=None):
    e = spark.createDataFrame(edges, "u: bigint, v: bigint")
    n = (
        spark.createDataFrame([(i,) for i in nodes], "id: bigint")
        if nodes is not None
        else None
    )
    return {
        r["id"]: r.asDict()
        for r in graph.local_clustering(e, nodes=n).collect()
    }


def test_lcc_triangle_with_pendant(spark):
    # triangle 1-2-3 plus pendant 4 hanging off 1
    rows = _lcc_rows(spark, [(1, 2), (2, 3), (1, 3), (1, 4)])
    assert rows[2]["degree"] == 2 and rows[2]["n_triangles"] == 1
    assert rows[2]["lcc"] == 1.0
    # node 1: degree 3, one triangle among its 3 neighbor pairs -> 1/3
    assert rows[1]["degree"] == 3 and rows[1]["lcc_num"] == 2
    assert rows[1]["lcc_den"] == 6 and abs(rows[1]["lcc"] - 1 / 3) < 1e-15
    # pendant: degree 1 -> undefined
    assert rows[4]["lcc"] is None and rows[4]["lcc_den"] == 0


def test_lcc_square_has_no_triangles(spark):
    rows = _lcc_rows(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    assert all(r["n_triangles"] == 0 and r["lcc"] == 0.0 for r in rows.values())


def test_lcc_complete_graph_is_one(spark):
    k = 5
    edges = [(i, j) for i in range(1, k + 1) for j in range(i + 1, k + 1)]
    rows = _lcc_rows(spark, edges)
    assert all(r["lcc"] == 1.0 and r["degree"] == k - 1 for r in rows.values())
    assert all(r["n_triangles"] == (k - 1) * (k - 2) // 2 for r in rows.values())


def test_lcc_matches_bruteforce_on_random_graph(spark):
    rnd = random.Random(7)
    nodes = list(range(20))
    edges = sorted(
        {(a, b) for _ in range(60)
         for a, b in [sorted(rnd.sample(nodes, 2))]}
    )
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    rows = _lcc_rows(spark, edges, nodes=nodes)
    for n in nodes:
        d = len(adj[n])
        tri = sum(
            1
            for x in adj[n]
            for y in adj[n]
            if x < y and y in adj[x]
        )
        assert rows[n]["degree"] == d
        assert rows[n]["n_triangles"] == tri
        if d >= 2:
            assert abs(rows[n]["lcc"] - 2 * tri / (d * (d - 1))) < 1e-12
        else:
            assert rows[n]["lcc"] is None


def _modularity_rows(spark, edges, assign):
    e = spark.createDataFrame(edges, "u: bigint, v: bigint")
    a = spark.createDataFrame(
        [(k, v) for k, v in assign.items()], "id: bigint, community: bigint"
    )
    return {
        r["community"]: r.asDict()
        for r in graph.modularity_by_community(e, a).collect()
    }


def test_modularity_two_cliques_bridge(spark):
    # two triangles joined by one bridge edge; communities = the triangles
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    assign = {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 1}
    rows = _modularity_rows(spark, edges, assign)
    m = 7
    for c in (0, 1):
        assert rows[c]["m"] == m and rows[c]["e_in"] == 3
        assert rows[c]["deg_c"] == 7  # 2*3 internal + 1 bridge end
        assert rows[c]["q_num"] == 4 * m * 3 - 49
        assert rows[c]["q_den"] == 4 * m * m
        assert abs(rows[c]["q_term"] - (3 / 7 - (7 / 14) ** 2)) < 1e-12
    # Q = sum of q_terms: 2*(3/7 - 1/4) = 5/14
    q = sum(r["q_term"] for r in rows.values())
    assert abs(q - 5 / 14) < 1e-12


def test_modularity_single_community_is_zero(spark):
    # everything in one community: Q = e_in/m - 1 = 0 when all edges internal
    edges = [(1, 2), (2, 3), (1, 3)]
    rows = _modularity_rows(spark, edges, {1: 0, 2: 0, 3: 0})
    assert abs(rows[0]["q_term"]) < 1e-15
    assert rows[0]["q_num"] == 0


def test_modularity_empty_community_has_zero_terms(spark):
    # a community with members but no edge ends (isolated assignment rows)
    edges = [(1, 2)]
    rows = _modularity_rows(spark, edges, {1: 0, 2: 0, 9: 1})
    assert rows[1]["e_in"] == 0 and rows[1]["deg_c"] == 0
    assert rows[1]["q_num"] == 0 and rows[1]["q_term"] == 0.0


# ---------------------------------------------------------------------------
# degree_assortativity
# ---------------------------------------------------------------------------


def _assort(spark, edges):
    e = spark.createDataFrame(edges, "u: bigint, v: bigint")
    return graph.degree_assortativity(e).collect()[0].asDict()


def test_assortativity_star_is_minus_one(spark):
    # a star is maximally disassortative: r = -1 exactly
    r = _assort(spark, [(0, i) for i in range(1, 6)])
    assert abs(r["assortativity"] - (-1.0)) < 1e-12
    assert r["n"] == 10  # 2m


def test_assortativity_regular_graph_is_null(spark):
    # a cycle is degree-regular -> zero variance -> NULL, not NaN/crash
    cyc = [(i, (i + 1) % 6) for i in range(6)]
    r = _assort(spark, cyc)
    assert r["assortativity"] is None
    assert r["sum_xx"] * r["n"] == r["sum_x"] ** 2


def test_assortativity_matches_bruteforce(spark):
    import random

    rnd = random.Random(3)
    edges = sorted(
        {(a, b) for _ in range(40)
         for a, b in [sorted(rnd.sample(range(15), 2))]}
    )
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs = [(deg[a], deg[b]) for a, b in edges] + [
        (deg[b], deg[a]) for a, b in edges
    ]
    n = len(xs)
    sx = sum(x for x, _ in xs)
    sxx = sum(x * x for x, _ in xs)
    sxy = sum(x * y for x, y in xs)
    expect = (n * sxy - sx * sx) / (n * sxx - sx * sx)
    r = _assort(spark, edges)
    assert r["n"] == n and r["sum_x"] == sx
    assert r["sum_xx"] == sxx and r["sum_xy"] == sxy
    assert abs(r["assortativity"] - expect) < 1e-12


def test_component_size_stats_hand_case(spark):
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (9, 9)],
        "id: bigint, component: bigint",
    )
    rows = {
        r["component"]: r.asDict()
        for r in graph.component_size_stats(labels).collect()
    }
    assert rows[1]["size"] == 3 and rows[4]["size"] == 2 and rows[9]["size"] == 1
    assert all(r["n_clustered"] == 6 for r in rows.values())
    assert rows[1]["share_ppm"] == 500000
    assert rows[9]["share_ppm"] == 166666  # integer div, floor


def test_triangles_single(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "u: bigint, v: bigint"
    )
    got = {r["id"]: r["n_triangles"] for r in graph.triangle_counts(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 0}


def test_triangles_duplicate_and_reversed_edges_ignored(spark):
    # duplicates / reversed orientations must not inflate counts
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (1, 3)], "u: bigint, v: bigint"
    )
    got = {r["id"]: r["n_triangles"] for r in graph.triangle_counts(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangles_k4(spark):
    # complete graph on 4 nodes: C(3,2)=3 triangles per node, 4 total
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(edges, "u: bigint, v: bigint")
    got = {r["id"]: r["n_triangles"] for r in graph.triangle_counts(e).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangles_hub_star_has_none(spark):
    # star graph: hub with high degree, zero triangles — exercises the
    # degree-orientation path that bounds hub out-degree
    e = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], "u: bigint, v: bigint"
    )
    out = graph.triangle_counts(e)
    assert out.filter(F.col("n_triangles") > 0).count() == 0


def test_kcore_peels_tendril_keeps_clique(spark):
    # K4 clique (3-core) with a pendant chain: the chain must peel away
    # within 3 rounds, the clique must survive
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges += [(4, 5), (5, 6), (6, 7)]
    e = spark.createDataFrame(edges, "u: bigint, v: bigint")
    got = {r["id"]: r["in_kcore"]
           for r in graph.kcore_membership(e, k=3, n_rounds=3).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 0, 6: 0, 7: 0}


def test_kcore_bounded_rounds_overapproximates(spark):
    # a 6-chain with k=2: membership = the degree test AFTER the n-th
    # edge deletion (n COMPLETE peels — the final degree pass re-checks
    # drops caused by the last deletion).  1 complete peel removes the
    # ends {1,6} and their edges, leaving degrees 2:1 3:2 4:2 5:1 ->
    # in_kcore {3,4}; the second peel's deletion leaves only edge 3-4,
    # so 2 rounds already empties it (true 2-core of a chain is empty).
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "u: bigint, v: bigint"
    )
    one = graph.kcore_membership(e, k=2, n_rounds=1)
    assert one.filter(F.col("in_kcore") == 1).count() == 2  # nodes 3,4
    two = graph.kcore_membership(e, k=2, n_rounds=2)
    assert two.filter(F.col("in_kcore") == 1).count() == 0
    three = graph.kcore_membership(e, k=2, n_rounds=3)
    assert three.filter(F.col("in_kcore") == 1).count() == 0


def test_kcore_rejects_bad_params(spark):
    import pytest as _pytest
    e = spark.createDataFrame([(1, 2)], "u: bigint, v: bigint")
    with _pytest.raises(ValueError, match="k and n_rounds"):
        graph.kcore_membership(e, k=0, n_rounds=1)


def test_lpa_splits_two_cliques_bridge(spark):
    # two triangles joined by one bridge edge: each triangle converges to
    # its min label; the bridge is outvoted (2 triangle votes vs 1)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "u: bigint, v: bigint",
    )
    got = {r["id"]: r["community"]
           for r in graph.label_propagation(e, n_rounds=4).collect()}
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5] == got[6]
    assert got[1] != got[4]


def test_lpa_isolated_keeps_own_label(spark):
    e = spark.createDataFrame([(1, 2)], "u: bigint, v: bigint")
    nodes = spark.createDataFrame([(1,), (2,), (9,)], "id: bigint")
    got = {r["id"]: r["community"]
           for r in graph.label_propagation(e, n_rounds=2, nodes=nodes).collect()}
    assert got[9] == 9 and got[1] == 1 and got[2] == 1


def test_lpa_deterministic_across_runs(spark):
    edges = [(i, (i * 7 + 3) % 50) for i in range(50)] + [
        (i, (i + 1) % 50) for i in range(50)
    ]
    e = spark.createDataFrame(edges, "u: bigint, v: bigint").repartition(7)
    a = sorted(map(tuple, graph.label_propagation(e, n_rounds=3).collect()))
    b = sorted(map(tuple, graph.label_propagation(e.repartition(3), n_rounds=3).collect()))
    assert a == b


def _seeded_graph(n=60, m=150, seed=7):
    # deterministic pseudo-random edge set (LCG — no RNG state dependence)
    edges, x = [], seed
    while len(edges) < m:
        x = (x * 48271) % 2147483647
        u = x % n
        x = (x * 48271) % 2147483647
        v = x % n
        if u != v:
            edges.append((u, v))
    return edges


def test_triangles_match_bruteforce_on_random_graph(spark):
    edges = _seeded_graph()
    undirected = {frozenset(e) for e in edges}
    adj = {}
    for e in undirected:
        a, b = sorted(e)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = {
        n: sum(
            1
            for x in adj[n]
            for y in adj[n]
            if x < y and y in adj.get(x, ())
        )
        for n in adj
    }
    e = spark.createDataFrame(edges, "u: bigint, v: bigint")
    got = {r["id"]: r["n_triangles"] for r in graph.triangle_counts(e).collect()}
    assert got == expected


def test_kcore_matches_bruteforce_peel_on_random_graph(spark):
    edges = _seeded_graph(n=50, m=90, seed=11)
    undirected = {tuple(sorted(e)) for e in edges}
    k = 3
    cur = set(undirected)
    for _ in range(10):
        deg = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        surv = {n for n, d in deg.items() if d >= k}
        cur = {(a, b) for a, b in cur if a in surv and b in surv}
    nodes = {n for e in undirected for n in e}
    e = spark.createDataFrame(list(undirected), "u: bigint, v: bigint")
    got = {r["id"]: r["in_kcore"]
           for r in graph.kcore_membership(e, k=k, n_rounds=10).collect()}
    assert got == {n: int(n in surv) for n in nodes}


def test_sssp_matches_bruteforce_dijkstra(spark):
    import heapq

    edges = []
    x = 13
    for _ in range(120):
        x = (x * 48271) % 2147483647
        u = x % 40
        x = (x * 48271) % 2147483647
        v = x % 40
        if u != v:
            edges.append((u, v, (u + v) % 7 + 1))
    adj = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
    dist = {0: 0}
    pq = [(0, 0)]
    while pq:
        d, n = heapq.heappop(pq)
        if d > dist.get(n, float("inf")):
            continue
        for v, w in adj.get(n, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    e = spark.createDataFrame(edges, "u: bigint, v: bigint, w: bigint")
    seeds = spark.createDataFrame([(0,)], "id: bigint")
    # 40 rounds >= any shortest path's hop count on 40 nodes -> exact
    got = {r["id"]: r["dist"]
           for r in graph.sssp_bounded(e, seeds, n_rounds=40).collect()}
    assert got == dist


def test_sssp_bounded_rounds_upper_bound(spark):
    # chain 0-1-2-3 with weight 1: after 2 rounds node 3 is unreached
    e = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 3, 1)], "u: bigint, v: bigint, w: bigint"
    )
    seeds = spark.createDataFrame([(0,)], "id: bigint")
    two = {r["id"]: r["dist"] for r in graph.sssp_bounded(e, seeds, 2).collect()}
    assert two == {0: 0, 1: 1, 2: 2}
    three = {r["id"]: r["dist"] for r in graph.sssp_bounded(e, seeds, 3).collect()}
    assert three == {0: 0, 1: 1, 2: 2, 3: 3}


def test_argmax_amortized_guard_raises(spark):
    """graph.quality_argmax_key's bounds survive the amortization: an
    out-of-range minor raises through the group-level guard."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, 100, 1), (1, 200, 1 << 31)], "c bigint, q bigint, id bigint"
    )
    bad = (
        df.groupBy("c")
        .agg(
            F.max_by("id", graph.quality_argmax_key(F.col("q"), F.col("id"))).alias("_k"),
            graph.quality_argmax_bounds_ok(F.col("q"), F.col("id")).alias("_ok"),
        )
        .select(graph.quality_argmax_guard(F.col("_ok"), F.col("_k")).alias("keep"))
    )
    with _pytest.raises(Exception, match="argmax key out of range"):
        bad.collect()


def test_lpa_rejects_labels_outside_pack_bound(spark):
    """Labels must fit the composite argmax key's 2^31 packing.  On this
    graph the unchecked key elected label 0 for node 2147483654, where the
    rule (count dominates, then the smaller label) gives 2147483649; an
    out-of-range label must raise instead."""
    e = spark.createDataFrame(
        [
            (2147483656, 2147483649),
            (2147483653, 2147483649),
            (2147483649, 2147483654),
            (2147483653, 0),
            (2147483654, 2147483656),
            (0, 2147483649),
            (2147483653, 0),
            (2147483653, 2147483656),
        ],
        "u: bigint, v: bigint",
    )
    with pytest.raises(Exception, match="argmax key out of range"):
        graph.label_propagation(e, n_rounds=2).collect()
