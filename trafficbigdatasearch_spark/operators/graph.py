"""Graph operators over undirected (or, for SSSP/PageRank, directed) edge
lists ``(u, v[, w])``, all built from native Spark plans — nothing collects
a neighborhood, a component or an adjacency list to one executor or the
driver.

- Components: :func:`connected_components` (alternating large/small star,
  Kiveris et al. SoCC'14), :func:`incremental_components`,
  :func:`dedup_clusters`, :func:`component_size_stats`.
- Traversal: :func:`bfs_levels`, :func:`sssp_bounded` (fixed rounds).
- Ranking: :func:`pagerank_integer`, :func:`personalized_pagerank_integer`
  (integer-exact power iteration, one shared loop).
- Cohesion and communities: :func:`triangle_counts`,
  :func:`local_clustering` (one triangle engine), :func:`kcore_membership`,
  :func:`label_propagation`.
- Link prediction and graph statistics: :func:`jaccard_link_prediction`,
  :func:`modularity_by_community`, :func:`degree_assortativity`.
- Keep-best survivor keys: :func:`quality_argmax_key` with its amortized
  bounds check (:func:`quality_argmax_bounds_ok`, :func:`quality_argmax_guard`).

Shared preludes, one home each: :func:`_edges` (the bigint edge
projection), :func:`_canonical` (the deduped undirected edge set),
:func:`_endpoints`/:func:`_node_set` (endpoint stacks and the "``nodes`` or
the edge endpoints" node set), :func:`_degrees` and :func:`_triangles` (the
degree-oriented wedge join).  Iterative operators truncate lineage with one
``localCheckpoint(eager=False)`` per round; only connected components runs
a convergence check, the others run a fixed round count.  Under AQE (the
engine default) such a checkpoint is not lazy: the call runs the
checkpointed plan's shuffle stages at once, so these builders launch jobs
while building (tests/test_registry_build_jobs.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


#: Shift for composite (major, minor) -> one-bigint arg-max keys, e.g.
#: ``quality * 2^31 - id``: injective while 0 <= minor < 2^31 (minor must
#: fit the low bits) and major < 2^32 (int64 headroom — ~4.3e9, far past
#: any token count).  Same documented-bound convention as similarity.py's
#: _PQ_PACK; :func:`quality_argmax_key` ENFORCES it at runtime.
_ARGMAX_PACK = 1 << 31

#: Convergence-check bound of the CC fixpoint loops — generous: 2^25 nodes
#: converge well inside 25 contraction rounds.
_CC_MAX_ROUNDS = 25

#: PageRank damping as the exact rational 17/20 = 0.85.
_DAMPING_NUM, _DAMPING_DEN = 17, 20


def quality_argmax_key(major, minor):
    """Composite arg-max ordering key ``major * 2^31 - minor`` (major
    dominates, SMALLER minor wins ties) for max_by survivor election —
    used by the keep-best dedup paths (pipeline.py, dedup_keep_best).

    The key itself is RAW multiply-subtract (stays inside whole-stage
    codegen); the injectivity/overflow bounds (major < 2^32,
    0 <= minor < 2^31) are still runtime-enforced but AMORTIZED to the
    aggregate level: fold :func:`quality_argmax_bounds_ok` into the same
    aggregate and wrap one output column with :func:`quality_argmax_guard`
    so an out-of-range value raises before a silently-corrupted survivor
    choice can escape.  Expressible in DuckDB as
    ``arg_max(x, major * 2147483648 - minor)``."""
    return major * F.lit(_ARGMAX_PACK) - minor


def quality_argmax_bounds_ok(major, minor):
    """Aggregate-level bounds check for :func:`quality_argmax_key` —
    ``min`` of the per-row boolean is the group's logical AND, combined
    map-side like any other partial.  NULL major/minor coalesce to False:
    a NULL packed key would make max_by silently skip the row (the old
    per-row guard raised on NULL; ``min`` alone would skip it)."""
    return F.min(
        F.coalesce(
            (major >= 0)
            & (major < F.lit(1 << 32))
            & (minor >= 0)
            & (minor < F.lit(_ARGMAX_PACK)),
            F.lit(False),
        )
    )


def quality_argmax_guard(ok_col, out_col):
    """Attach the amortized bounds check to a live output column: passes
    the value through when every (major, minor) in the group was in range,
    raises otherwise (``raise_error`` in the else-branch — an identical-
    branch CASE around ``assert_true`` would be folded away by Catalyst).
    Same enforcement as the old per-row guard, one boolean per GROUP
    instead of two branches per row."""
    return F.when(ok_col, out_col).otherwise(
        F.raise_error(
            F.lit(
                "argmax key out of range (need 0 <= major < 2^32, "
                "0 <= minor < 2^31) — see graph._ARGMAX_PACK"
            )
        )
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _edges(edges: DataFrame, *extra: str) -> DataFrame:
    """The bigint edge projection every edge-list operator starts from:
    ``(u, v)`` plus any ``extra`` columns (SSSP's weight ``w``)."""
    return edges.select(
        *(F.col(c).cast("bigint").alias(c) for c in ("u", "v", *extra))
    )


def _canonical(edges: DataFrame) -> DataFrame:
    """The canonical undirected edge set: self-loops dropped, each edge once
    as ``(least, greatest)``.  Every caller reads it from several legs
    (degrees, orientation/label joins, anti joins), so the deduped set is
    checkpointed once, lazily."""
    e = _edges(edges).filter(F.col("u") != F.col("v"))
    return (
        e.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _endpoints(e: DataFrame, name: str) -> DataFrame:
    """Both endpoint columns of ``e`` stacked into one column ``name`` — one
    row per edge end, so grouping it counts degrees."""
    return e.select(F.col("u").alias(name)).union(e.select(F.col("v").alias(name)))


def _ids(df: DataFrame) -> DataFrame:
    """The distinct bigint ``id`` column of a node or seed table."""
    return df.select(F.col("id").cast("bigint").alias("id")).distinct()


def _node_set(nodes: DataFrame | None, ends: DataFrame) -> DataFrame:
    """The node set an operator reports on: ``nodes`` when given, else the
    distinct ``id`` rows of ``ends`` — the caller's own edge-derived id
    column, so e.g. PageRank keeps self-loop nodes and triangle counting
    does not."""
    return _ids(nodes) if nodes is not None else ends.distinct()


def _degrees(canon: DataFrame) -> DataFrame:
    """(n, d): the degree of every node of a canonical edge set."""
    return (
        _endpoints(canon, "n")
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )


def _triangles(canon: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The degree-ordered wedge-join triangle engine (the standard MapReduce
    formulation, e.g. Suri & Vassilvitskii, WWW'11 "Counting Triangles and
    the Curse of the Last Reducer") over a canonical edge set.  Returns
    ``(deg, counts)``: the (n, d) degrees and (id, n_triangles) for every
    node in at least one triangle.

    Orient every edge from the (degree, id)-SMALLER endpoint to the larger;
    every triangle then has exactly ONE node with two outgoing oriented
    edges, so wedges (u -> v1, u -> v2) joined back against the oriented
    edge set (v1 -> v2) enumerate each triangle exactly once.  The
    orientation bounds per-node out-degree by O(sqrt(|E|)) on any graph, so
    the wedge self-join never explodes on high-degree hubs — THE skew trap
    of the naive formulation, where one celebrity node with degree d
    contributes d² wedges.

    Cost: one degree aggregate + one broadcast-free hash self-join on the
    wedge apex + one hash semi-join of wedges against edges + one
    per-corner count aggregate.  Everything is partitioned on node/edge
    keys; nothing is collected."""
    deg = _degrees(canon)
    # orient by (deg, id): rank = deg * 2^31 + id gives one bigint total
    # order (ids < 2^31 here; the 100 TB variant pairs the columns); the
    # joins run over the E-row canonical set, not the 2E symmetrized one
    rank = deg.select("n", (F.col("d") * F.lit(1 << 31) + F.col("n")).alias("rnk"))
    ranked = (
        canon.join(rank.select(F.col("n").alias("u"), F.col("rnk").alias("ru")), "u")
        .join(rank.select(F.col("n").alias("v"), F.col("rnk").alias("rv")), "v")
    )
    up = F.col("ru") < F.col("rv")
    oriented = ranked.select(
        F.when(up, F.col("u")).otherwise(F.col("v")).alias("u"),
        F.when(up, F.col("v")).otherwise(F.col("u")).alias("v"),
    )
    o1 = oriented.select(F.col("u").alias("w"), F.col("v").alias("a"))
    o2 = oriented.select(F.col("u").alias("w"), F.col("v").alias("b"))
    wedges = o1.join(o2, "w").filter(F.col("a") < F.col("b"))
    closing = oriented.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    )
    triangles = wedges.join(closing, ["a", "b"])
    corners = (
        triangles.select(F.col("w").alias("id"))
        .union(triangles.select(F.col("a").alias("id")))
        .union(triangles.select(F.col("b").alias("id")))
    )
    return deg, corners.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to min(N(u) + {u}).

    Output edges are canonical (larger, smaller); strictly-larger neighbors
    move toward the local minimum, which is what collapses long paths in
    O(log) rounds.

    The per-node minimum is a PARTITION WINDOW over the symmetrized edge
    list, not an aggregate re-joined onto it: both need every row of a node
    on one partition, but the window does it with ONE hash exchange (plus a
    partition-local sort) where agg + join paid TWO — per fixpoint round,
    on every round (r14 interleaved A/B: the CC family measured 0.80-0.88x
    at sf0.1 AND at the 5x fixture, identical edge sets per round).  Skew
    posture is unchanged: the old join keyed on u already put each node's
    whole row set on one partition."""
    sym = _symmetrize(e)
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    # no distinct here: duplicate edges don't change _small_star's per-node
    # mins, and its terminal distinct restores set semantics — one fewer
    # exchange per round.  The v > u filter must come AFTER the window (the
    # minimum ranges over the FULL neighborhood).
    return (
        sym.select("u", "v", m.alias("_m"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect u and all its smaller neighbors to their collective minimum.

    Input/output edges are canonical (larger, smaller): per node u the
    smaller neighborhood is exactly its outgoing edge list, so no
    symmetrization is needed.  Same one-exchange window form as
    :func:`_large_star`; the rewired edge (v, m) and the self edge (u, m)
    fan out of each row in one generator and the terminal distinct (which
    small-star needs anyway, with map-side partial dedup) collapses the
    per-row self-edge copies."""
    d = e.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    )
    dm = d.withColumn("_m", F.min("v").over(Window.partitionBy("u")))
    both = dm.select(
        F.explode(
            F.array(
                F.struct(F.col("v").alias("a"), F.col("_m").alias("b")),
                F.struct(F.col("u").alias("a"), F.col("_m").alias("b")),
            )
        ).alias("s")
    ).select(F.col("s.a").alias("u"), F.col("s.b").alias("v"))
    return both.filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    cast: str | None = "bigint",
) -> DataFrame:
    """Resolve an undirected pair set into components.

    Returns (id, component) with ``component`` = the minimum id in the
    node's component.  The algorithm needs only a TOTAL ORDER on ids:
    ``cast`` defaults to bigint for the dedup id paths; pass ``cast=None``
    for naturally orderable ids (e.g. strings in entity resolution) —
    min/least/greatest compare lexicographically and everything else is
    unchanged — deterministic regardless of round count, so any
    engine (or a SQL oracle's recursive reachability closure) produces the
    identical labeling.  Only nodes appearing in ``pairs`` are labeled
    unless ``nodes`` is given, in which case isolated nodes label
    themselves (component = own id).

    The result is MATERIALIZED (the fixpoint loop must run jobs to detect
    convergence); the returned DataFrame reads the final checkpointed edge
    set, so downstream consumers pay no recomputation.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).  Each
    half-round is one symmetrize + ONE per-node min window over the node-id
    hash partitioning; no step materializes a whole component on one
    executor.  Converges in O(log² n) rounds independent of graph diameter
    (naive min-label propagation needs O(diameter), O(n) on a chain).  Edges
    only ever REWIRE toward smaller ids, so the per-round edge count is
    non-increasing after the first large-star and the working set shrinks
    as stars form; each round's ``localCheckpoint`` truncates the otherwise
    exponentially growing lineage.

    Raises ``RuntimeError`` if the edge set has not stabilized after
    ``_CC_MAX_ROUNDS`` convergence checks — a loud failure beats silently
    wrong clusters.
    """
    _id = (lambda c: F.col(c).cast(cast)) if cast else F.col
    raw = pairs.select(
        _id(id_a).alias("u"),
        _id(id_b).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    # SMALL-STAR PRE-PASS instead of a plain distinct: near-dup pair sets
    # are dominated by tiny clusters (banded LSH buckets), which one
    # small-star contracts to their final star immediately — the loop then
    # typically CONFIRMS in a single round instead of contracting in round
    # one and confirming in round two.  Canonicalization and dedup come free
    # from small-star's greatest/least + terminal distinct, so this costs
    # one aggregate+join more than the distinct it replaces and saves a full
    # large+small round.  Each round's checkpoint call runs the round's
    # shuffle stages (AQE, the engine default); the count() that follows
    # runs the final stage and materializes the checkpoint.
    e = _small_star(raw).localCheckpoint(eager=False)
    n_edges = e.count()
    for _ in range(_CC_MAX_ROUNDS):
        # one contraction per check: batching checks measured 1.5x slower
        # on typical dedup edge sets (SCALING.md)
        nxt = _small_star(_large_star(e)).localCheckpoint(eager=False)
        # canonical distinct sets on both sides: equal counts + no rows
        # unique to one side <=> identical edge sets.  The previous round's
        # count is carried over, so each check costs one count job (which
        # doubles as the checkpoint materialization), and the anti-join
        # probe only runs when counts match (typically once, at the
        # fixpoint) — the minimal driver sync of a fixpoint loop.
        n_nxt = nxt.count()
        if n_nxt == n_edges and nxt.join(e, ["u", "v"], "left_anti").isEmpty():
            e = nxt
            break
        e, n_edges = nxt, n_nxt
    else:
        raise RuntimeError(
            f"connected_components did not converge in {_CC_MAX_ROUNDS} rounds"
        )
    # fixpoint edge set is a star forest: (member, root) edges only
    members = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = (
        e.select(F.col("v").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
    )
    labels = members.union(roots).groupBy("id").agg(
        F.min("component").alias("component")
    )
    if nodes is not None:
        base = nodes.select(_id("id").alias("id")).distinct()
        labels = base.join(labels, "id", "left").select(
            "id",
            F.coalesce(F.col("component"), F.col("id")).alias("component"),
        )
    return labels


def incremental_components(
    components: DataFrame,
    new_edges: DataFrame,
) -> DataFrame:
    """MAINTAIN an existing :func:`connected_components` labeling under a
    batch of NEW edges without touching the labeled corpus — the
    label-side completion of the engine's incremental-dedup story
    (``dedup_incremental`` / ``semantic_incremental_dedup`` find the new
    PAIRS; this folds them into the standing cluster assignment).

    Identity: because an existing label IS the min id of its component,
    relabeling through the merged label graph reproduces EXACTLY what
    :func:`connected_components` over the full edge set would produce —
    min over merged components = min over (old component minima ∪ new
    node ids) — so the oracle for the increment is simply the full
    closure (pinned, and hash-verified in the registry).

    Shape (the whole point at 100 TB): the corpus-sized ``components``
    table participates in exactly TWO row-local passes — one broadcast
    semi-style join labeling the new-edge ENDPOINTS (new edges are the
    small side by assumption of incrementality) and one broadcast-map
    relabel at the end.  The CC fixpoint itself runs on the LABEL GRAPH,
    whose size is bounded by the new-edge count, never the corpus:
    corpus bytes are scanned, never shuffled, and the fixpoint's
    per-round driver sync costs are paid on a table thousands of times
    smaller.  New nodes (endpoints absent from ``components``) label
    themselves before merging, exactly like CC's ``nodes`` fallback.

    Inputs are an (id, component) labeling and (id_a, id_b) new edges, both
    compared as bigints.  Returns the updated (id, component) labeling
    covering every previously-labeled id plus every new-edge endpoint."""
    comp = components.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("component").cast("bigint").alias("component"),
    )
    edges = new_edges.select(
        F.col("id_a").cast("bigint").alias("_ea"),
        F.col("id_b").cast("bigint").alias("_eb"),
    ).filter(F.col("_ea") != F.col("_eb"))
    # endpoint -> current label.  Scale shape (the documented contract):
    # the corpus-sized table is only ever the STREAM side of a broadcast
    # join — the endpoint set is new-edges-bounded, so the INNER probe
    # below is one corpus scan with zero corpus shuffle at any scale (a
    # left join keyed the other way would force the build side onto the
    # corpus and degrade to a sort-merge shuffle past broadcast size).
    # The labeled endpoints are batch-sized; lazily checkpointed because
    # they feed both label-graph legs and the known/new split.
    endpoints = (
        edges.select(F.col("_ea").alias("id"))
        .union(edges.select(F.col("_eb").alias("id")))
        .distinct()
    )
    ep_known = (
        comp.join(F.broadcast(endpoints), "id")
        .select("id", F.col("component").alias("_lab"))
        .localCheckpoint(eager=False)
    )
    # previously-unlabeled endpoints label themselves (CC's nodes
    # fallback); both sides of this anti join are batch-sized
    ep_new = (
        endpoints.join(ep_known.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("_lab"))
        .localCheckpoint(eager=False)
    )
    ep_labels = ep_known.unionByName(ep_new)
    la = ep_labels.withColumnRenamed("id", "_ea").withColumnRenamed(
        "_lab", "_la"
    )
    lb = ep_labels.withColumnRenamed("id", "_eb").withColumnRenamed(
        "_lab", "_lb"
    )
    label_edges = (
        edges.join(F.broadcast(la), "_ea")
        .join(F.broadcast(lb), "_eb")
        .select(F.col("_la").alias("id_a"), F.col("_lb").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    merged = connected_components(
        label_edges, cast=None  # ids already cast above
    ).select(F.col("id").alias("_old_lab"), F.col("component").alias("_root"))
    # relabel: ALL old rows through the (tiny, broadcast) label->root map
    # — this covers every previously-labeled node including known
    # endpoints — plus the genuinely-new nodes through their own merged
    # label.  The two sides are DISJOINT by construction, so the union
    # needs no distinct: the corpus is never shuffled, only scanned
    # (second and final scan).
    relabeled_old = comp.join(
        F.broadcast(merged), comp["component"] == F.col("_old_lab"), "left"
    ).select(
        "id",
        F.coalesce(F.col("_root"), F.col("component")).alias("component"),
    )
    relabeled_new = ep_new.join(
        F.broadcast(merged), F.col("_lab") == F.col("_old_lab"), "left"
    ).select(
        "id",
        F.coalesce(F.col("_root"), F.col("_lab")).alias("component"),
    )
    return relabeled_old.unionByName(relabeled_new)


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
) -> DataFrame:
    """Breadth-first level propagation from a seed set over an undirected
    edge list: (id, level) for every node whose shortest hop-distance to
    any seed is <= ``max_depth`` (seeds are level 0).

    The iterative-frontier sibling of :func:`connected_components`: where
    CC contracts the whole graph to a fixpoint, BFS expands a bounded
    neighborhood — the shape behind "pull in every document within k
    near-dup hops of a contaminated benchmark doc" (decontamination
    blast-radius), seed-set expansion for crawl frontier scoring, and
    k-hop feature joins.

    Each round is ONE hash join (frontier ⋈ edges) + distinct + anti-join
    against the visited set — all partitioned on the node id, nothing
    collected to the driver, no per-round action (the round count is FIXED
    at ``max_depth``, so unlike a fixpoint there is no convergence check;
    lineage is truncated with a lazy localCheckpoint per round).  At scale
    the frontier is the working set: rounds touch only edges incident to
    the frontier, not the whole graph.
    """
    sym = _symmetrize(_edges(edges)).filter(F.col("u") != F.col("v"))
    # the edge list is referenced by every round's join: checkpoint it once
    # (lazily — materialized by the first round's execution, reused from
    # block storage by the rest) instead of re-deriving it per round
    sym = sym.localCheckpoint(eager=False)
    visited = _ids(seeds).withColumn("level", F.lit(0))
    frontier = visited.select("id")
    for depth in range(1, max_depth + 1):
        neighbors = (
            frontier.join(sym, frontier["id"] == sym["u"])
            .select(F.col("v").alias("id"))
            .distinct()
        )
        fresh = neighbors.join(visited, "id", "left_anti").withColumn(
            "level", F.lit(depth)
        )
        visited = visited.union(fresh).localCheckpoint(eager=False)
        frontier = fresh.select("id")
    return visited


def pagerank_integer(
    edges: DataFrame,
    n_iter: int = 3,
    scale: int = 10**12,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank with INTEGER-EXACT arithmetic: ranks are
    scaled bigints, damping is the rational ``dnum/dden`` = 17/20 = 0.85
    (``_DAMPING_NUM``/``_DAMPING_DEN``), and every step is integer
    multiply / integer floor-division — so the result is bit-identical in
    any engine (the float formulation would accumulate engine-specific
    rounding), and deterministic under any partitioning or retry.

    Per iteration (one hash join + one map-side-combined aggregate, the
    textbook distributed PageRank shape):

        contrib(u->v) = r(u) div outdeg(u)
        r'(v) = base + (dnum * Σ contrib) div dden
        base  = ((dden - dnum) * scale) div (dden * n)

    Truncation drains a few units of mass per round (bounded by n per
    iteration out of ``scale`` — vanishing for scale=1e12); rank ORDER and
    exact values are reproducible, which is the property that matters.
    Requires every node to have >= 1 out-edge (no dangling-mass handling
    — assert upstream or add sink self-loops); ``nodes`` defaults to the
    edge endpoints.  Fixed ``n_iter`` -> no convergence sync; lineage is
    truncated per round with a lazy localCheckpoint.
    """
    e = _edges(edges)
    node_df = _node_set(nodes, _endpoints(e, "id")).localCheckpoint(eager=False)
    n = node_df.count()
    ew = _out_edges(e, node_df)

    base = ((_DAMPING_DEN - _DAMPING_NUM) * scale) // (_DAMPING_DEN * n)
    r = node_df.withColumn("rank", F.lit(scale // n).cast("bigint"))
    return _pagerank_rounds(ew, node_df, r, F.lit(base), n_iter)


def _out_edges(e: DataFrame, node_df: DataFrame) -> DataFrame:
    """(u, v, _d): the PageRank edges with their source's out-degree —
    raises ``ValueError`` when an edge source lies outside ``node_df``."""
    if e.join(node_df, e["u"] == node_df["id"], "left_anti").limit(1).count():
        raise ValueError("edge source outside the node set")
    deg = e.groupBy("u").agg(F.count("*").alias("_d"))
    return e.join(deg, "u").localCheckpoint(eager=False)


def _pagerank_rounds(
    ew: DataFrame,
    node_df: DataFrame,
    r: DataFrame,
    base: Column,
    n_iter: int,
) -> DataFrame:
    """The integer power iteration shared by :func:`pagerank_integer` and
    :func:`personalized_pagerank_integer`.  Per round, one hash join of the
    out-edges ``ew`` (u, v, _d) against the ranks ``r`` (id, rank) and one
    map-side-combined aggregate give each node's summed contribution; then

        r'(id) = base + (dnum * Σ contrib) div dden

    where ``base`` is a column over ``node_df`` (a constant for global
    PageRank, the seed-only teleport for the personalized variant).  Each
    round's ranks are lazily checkpointed to cut lineage."""
    for _ in range(n_iter):
        insum = (
            ew.join(r, ew["u"] == r["id"])
            .select(F.col("v"), F.expr("rank div _d").alias("_c"))
            .groupBy("v")
            .agg(F.sum("_c").alias("_s"))
        )
        r = (
            node_df.join(insum, node_df["id"] == insum["v"], "left")
            .select(
                "id",
                (
                    base
                    + F.expr(
                        f"({_DAMPING_NUM} * coalesce(_s, 0L)) div {_DAMPING_DEN}"
                    )
                ).cast("bigint").alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return r


def triangle_counts(
    edges: DataFrame,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list — the
    degree-ordered wedge join of :func:`_triangles`, whose orientation keeps
    a high-degree hub from exploding the wedge self-join.

    Returns (id, n_triangles) for every node in ``nodes`` (or every edge
    endpoint if ``nodes`` is None), zeros included.
    """
    canon = _canonical(edges)
    _, counts = _triangles(canon)
    base = _node_set(nodes, _endpoints(canon, "id"))
    return base.join(counts, "id", "left").select(
        "id", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Duplicate clusters from candidate (id_a, id_b) pairs: (id, component,
    is_keeper).

    ``component`` is the min doc id of the cluster (the canonical survivor
    — same keep-the-min convention as dedup.exact_duplicates);
    ``is_keeper`` marks it.  Feed any of the dedup pair generators in."""
    cc = connected_components(pairs)
    return cc.select(
        "id",
        "component",
        (F.col("id") == F.col("component")).alias("is_keeper"),
    )


def kcore_membership(
    edges: DataFrame,
    k: int,
    n_rounds: int,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Bounded k-core peeling over an undirected edge list: ``n_rounds``
    rounds of "drop every node with degree < k, delete its edges", the
    cohesion filter that separates dense communities from tendrils (spam
    farms vs organic link clusters, boilerplate template families vs
    genuinely interlinked document groups).

    FIXED round count by design: the result is the n-round peel — equal to
    the true k-core once the peel converges (each round only removes
    nodes, so membership is monotonically shrinking and the fixpoint is
    reached when no round removes anything), an over-approximation
    otherwise.  Fixed rounds make the operator a pure function of
    (edges, k, n_rounds): no driver-side convergence sync (the same
    argument as bfs_levels/pagerank_integer), deterministic under retries,
    and expressible as an unrolled declarative oracle.  Long chains peel
    one layer per round — size n_rounds to the graph's expected tendril
    depth, or run the convergence-checked variant at the cost of one
    count() per round.

    Per round: one map-side-combined degree aggregate + two semi joins on
    the node id; lineage truncated with a lazy localCheckpoint per round.
    Returns (id, in_kcore) over ``nodes`` (or all edge endpoints).
    """
    if k < 1 or n_rounds < 1:
        raise ValueError(f"k and n_rounds must be >= 1, got k={k}, rounds={n_rounds}")
    e = _canonical(edges)
    base = _node_set(nodes, _endpoints(e, "id"))

    def _survivors(edge_set):
        return (
            _endpoints(edge_set, "n")
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= k)
            .select("n")
            .localCheckpoint(eager=False)
        )

    for _ in range(n_rounds):
        surv = _survivors(e)
        e = (
            e.join(surv.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(surv.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    # Membership from a FINAL degree pass over the edges left after the
    # n-th deletion — so n_rounds means n COMPLETE peels (degree drops
    # caused by the last round's edge deletion are re-checked), not
    # "survivors as of the start of the final round".
    surv = _survivors(e)
    return base.join(
        surv.withColumnRenamed("n", "id"), "id", "left_semi"
    ).withColumn("in_kcore", F.lit(1).cast("int")).unionByName(
        base.join(surv.withColumnRenamed("n", "id"), "id", "left_anti")
        .withColumn("in_kcore", F.lit(0).cast("int"))
    )


def label_propagation(
    edges: DataFrame,
    n_rounds: int,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Deterministic label-propagation communities (LPA) over an undirected
    edge list: every node starts as its own label; each round it adopts the
    label occurring MOST among its neighbors, ties broken toward the
    smaller label — the community detector that, unlike connected
    components, splits a single connected graph into densely-linked
    groups.

    Determinism is the engineering point: textbook LPA is scan-order- and
    tie-random, which cannot exist at 100 TB (retries and speculative
    tasks would flap).  Here the per-node update is ONE composite argmax —
    ``max_by(label, count * 2^31 - label)`` via :func:`quality_argmax_key`
    (counts dominate, smaller label wins ties) — and the round count is
    FIXED, so the result is a pure function of (edges, rounds), unrollable
    as a declarative oracle.  The packing needs 0 <= label < 2^31 and
    count < 2^32; the amortized bounds guard folded into the same aggregate
    raises on any node id outside that range instead of electing a wrong
    label.  Each node also casts ONE vote for its own current label (the
    self-vote), which kills the two-node swap oscillation synchronous LPA
    is notorious for and covers isolated nodes without a special case.

    Per round: one hash join (labels ⋈ edges) + one (node, label) count
    aggregate + one per-node argmax — all map-side-combinable, partitioned
    on node ids; lazy localCheckpoint truncates lineage.
    """
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    e = _edges(edges).filter(F.col("u") != F.col("v"))
    sym = _symmetrize(e).distinct().localCheckpoint(eager=False)
    base = _node_set(nodes, sym.select(F.col("u").alias("id"))).localCheckpoint(
        eager=False
    )
    labels = base.select("id", F.col("id").alias("lab"))
    for _ in range(n_rounds):
        votes = (
            sym.join(labels.withColumnRenamed("id", "u"), "u")
            .select(F.col("v").alias("id"), "lab")
            .unionByName(labels)
        )
        nb = votes.groupBy("id", "lab").agg(F.count(F.lit(1)).alias("_c"))
        labels = (
            nb.groupBy("id")
            .agg(
                F.max_by(
                    "lab", quality_argmax_key(F.col("_c"), F.col("lab"))
                ).alias("lab"),
                quality_argmax_bounds_ok(F.col("_c"), F.col("lab")).alias("_ok"),
            )
            .select("id", quality_argmax_guard(F.col("_ok"), F.col("lab")).alias("lab"))
            .localCheckpoint(eager=False)
        )
    return labels.select("id", F.col("lab").alias("community"))


def sssp_bounded(
    edges: DataFrame,
    seeds: DataFrame,
    n_rounds: int,
) -> DataFrame:
    """Bounded single-source(-set) shortest paths over DIRECTED weighted
    edges: ``n_rounds`` synchronous Bellman-Ford relaxations from the seed
    set (seeds at distance 0) — the cost-to-reach computation behind
    routing distance, influence radius, and weighted contamination spread
    (hop-weighted decontamination where bfs_levels counts unweighted
    hops).

    Fixed round count, same contract as the rest of the graph suite: the
    result is exact for every node whose shortest path uses <= n_rounds
    edges (all nodes, once n_rounds >= the weighted-path hop diameter),
    an upper bound otherwise — a pure function of (edges, seeds, rounds),
    no driver convergence sync, unrollable as a declarative oracle.
    Integer weights -> integer distances, bit-identical anywhere.

    Per round: one hash join (frontier-less dense relaxation: distances ⋈
    out-edges) + one min-combine aggregate — both map-side-combinable,
    partitioned on node ids; lazy localCheckpoint per round.  Returns
    (id, dist) for every node with a <= n_rounds-edge path; join against
    your node table for unreachable sentinels.
    """
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    e = _edges(edges, "w").localCheckpoint(eager=False)
    dist = _ids(seeds).withColumn("dist", F.lit(0).cast("bigint"))
    for _ in range(n_rounds):
        relaxed = (
            e.join(dist.withColumnRenamed("id", "u"), "u")
            .select(F.col("v").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


def personalized_pagerank_integer(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    scale: int = 10**12,
) -> DataFrame:
    """PERSONALIZED PageRank with the same integer-exact arithmetic as
    :func:`pagerank_integer` — the teleport mass returns to the SEED set
    instead of spreading uniformly, so ranks measure proximity to the
    seeds: the similar-items / related-users / local-relevance query that
    global PageRank cannot answer.

        base(v) = ((dden − dnum)·scale) div (dden·|S|)   if v ∈ S else 0
        r0(v)   = scale div |S|                           if v ∈ S else 0
        r'(v)   = base(v) + (dnum · Σ contrib) div dden

    Identical per-iteration shape (one hash join + one map-side-combined
    aggregate, lazy localCheckpoint per round); the seed set ships
    broadcast (seed lists are query parameters, not data).  Same contract
    as the global variant: every node needs >= 1 out-edge; fixed rounds —
    the result is the n_iter-step power iteration, bit-identical in any
    engine.  The node set is the edge endpoints; seeds are ``seeds.id``."""
    e = _edges(edges)
    node_df = _endpoints(e, "id").distinct().localCheckpoint(eager=False)
    seed_df = _ids(seeds).localCheckpoint(eager=False)
    n_seeds = seed_df.count()
    if n_seeds == 0:
        raise ValueError("personalized pagerank needs a non-empty seed set")
    if seed_df.join(node_df, "id", "left_anti").limit(1).count():
        raise ValueError("seed outside the node set")
    ew = _out_edges(e, node_df)

    base = ((_DAMPING_DEN - _DAMPING_NUM) * scale) // (_DAMPING_DEN * n_seeds)
    is_seed = F.col("_s_id").isNotNull()
    marked = node_df.join(
        F.broadcast(seed_df.select(F.col("id").alias("_s_id"))),
        node_df["id"] == F.col("_s_id"),
        "left",
    ).select("id", is_seed.alias("_seed")).localCheckpoint(eager=False)
    r = marked.select(
        "id",
        F.when(F.col("_seed"), F.lit(scale // n_seeds))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("rank"),
    )
    return _pagerank_rounds(
        ew,
        marked,
        r,
        F.when(F.col("_seed"), F.lit(base)).otherwise(F.lit(0)),
        n_iter,
    )


def jaccard_link_prediction(
    edges: DataFrame,
    min_shared: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Link prediction by NEIGHBOR Jaccard (Liben-Nowell & Kleinberg,
    CIKM'03): for every non-adjacent node pair at distance 2,

        score = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|

    — the classic "people you may know" / related-entities primitive.
    Returns (u < v, shared, deg_u, deg_v, score) for pairs with
    ``shared >= min_shared``; all-integer counts + one closing division,
    oracle-hashable.

    Plan: canonical undirected edge set (dedup'd, lazily checkpointed — it
    feeds adjacency, degrees, and the exclusion anti join), symmetrized
    adjacency, ONE wedge self-join on the common neighbor (x < y inside
    the wedge so each pair counts once per shared neighbor), map-side-
    combined shared counts, broadcast degree lookups, LEFT ANTI against
    existing edges.

    The wedge join fans deg(w)² per common neighbor — unlike triangle
    counting, distance-2 enumeration cannot be degree-oriented away
    (every common neighbor genuinely witnesses the pair), so a celebrity
    hub inflates candidates QUADRATICALLY.  ``max_degree`` drops
    over-degree centers before the self-join — the LSH bucket-cap
    contract: an explicit recall trade (pairs witnessed ONLY through
    dropped hubs are missed; a hub this size usually witnesses most of
    the graph, making those predictions uninformative anyway)."""
    canon = _canonical(edges)
    adj = canon.select(F.col("u").alias("n"), F.col("v").alias("m")).unionByName(
        canon.select(F.col("v").alias("n"), F.col("u").alias("m"))
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    if max_degree is not None:
        adj = adj.join(
            F.broadcast(deg.filter(F.col("d") > max_degree)), "n", "left_anti"
        )
    a = adj.alias("a")
    b = adj.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.n") == F.col("b.n")) & (F.col("a.m") < F.col("b.m")),
        )
        .groupBy(F.col("a.m").alias("u"), F.col("b.m").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    nonadj = shared.join(canon, ["u", "v"], "left_anti")
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("deg_v"))
    return (
        nonadj.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            "shared",
            "deg_u",
            "deg_v",
            (
                F.col("shared").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("shared"))
            ).alias("score"),
        )
    )


def local_clustering(
    edges: DataFrame,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Per-node LOCAL CLUSTERING COEFFICIENT over an undirected edge list —
    the triangle engine (:func:`_triangles`, shared with
    :func:`triangle_counts`) extended with the degree denominator:

        lcc(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1))

    Both sides of the ratio are exact BIGINTs (``lcc_num = 2 * triangles``,
    ``lcc_den = d * (d - 1)``) and the coefficient itself is ONE closing
    IEEE division, NULL for degree < 2 (the undefined case — isolated nodes
    and leaves), so the output hash-compares across engines.

    Cost over ``triangle_counts``: the degree aggregate the orientation
    already computes is reused for the denominator — one extra hash join of
    two (node, bigint) tables partitioned on the node key.  Same skew
    posture as the triangle engine: orientation bounds per-node out-degree
    by O(sqrt(|E|)), so a 100 TB hub cannot explode the wedge join; the
    closing join is node-partitioned and never collects.

    Returns (id, degree, n_triangles, lcc_num, lcc_den, lcc) for every node
    in ``nodes`` (or every edge endpoint), zeros/NULLs included.
    """
    canon = _canonical(edges)
    deg, counts = _triangles(canon)
    base = _node_set(nodes, _endpoints(canon, "id"))
    out = (
        base.join(counts, "id", "left")
        .join(deg.select(F.col("n").alias("id"), "d"), "id", "left")
        .select(
            "id",
            F.coalesce("d", F.lit(0)).cast("bigint").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
        )
    )
    num = (F.lit(2) * F.col("n_triangles")).cast("bigint")
    den = (F.col("degree") * (F.col("degree") - F.lit(1))).cast("bigint")
    return out.select(
        "id",
        "degree",
        "n_triangles",
        num.alias("lcc_num"),
        den.alias("lcc_den"),
        F.when(
            F.col("degree") >= 2, num.cast("double") / den.cast("double")
        ).alias("lcc"),
    )


def modularity_by_community(
    edges: DataFrame,
    assign: DataFrame,
) -> DataFrame:
    """Newman MODULARITY of a given (id, community) assignment — the quality
    measurement for whatever produced the labels (connected components,
    label propagation, an external clustering): per community c,

        Q_c = e_in(c)/m - (deg(c) / (2m))^2
            = (4*m*e_in(c) - deg(c)^2) / (4*m^2)

    with e_in = edges internal to c, deg(c) = total degree of c's members,
    m = total undirected edge count.  The operator ships the EXACT INTEGER
    pieces (n_nodes, e_in, deg_c, m, and the cross-multiplied numerator
    ``q_num = 4*m*e_in - deg_c^2`` against denominator ``q_den = 4*m^2``)
    plus the per-community term as ONE closing IEEE division, so rows
    hash-compare and the corpus-level fold (sum of q_term = Q) is left to
    the consumer per the no-float-SUM rule.  Internal products run on
    DECIMAL(38,0) so a 10^9-edge graph cannot overflow the 4*m*e_in cross
    term; outputs cast back to BIGINT (loud ANSI overflow far beyond any
    tested SF).

    Scale shape: edges dedup once, then TWO label joins (node-partitioned;
    the assignment table is (node, label) and shuffles, the edge set
    streams through), one grouped count per side, and the global m rides a
    broadcast single-row aggregate.  Nothing iterates, nothing collects —
    this is the measurement loop you run after every community-detection
    round at 100 TB, so it must stay one pass.
    """
    canon = _canonical(edges)
    a = assign.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("community").cast("bigint").alias("community"),
    )
    labeled = (
        canon.join(a.select(F.col("id").alias("u"), F.col("community").alias("cu")), "u")
        .join(a.select(F.col("id").alias("v"), F.col("community").alias("cv")), "v")
    )
    e_in = (
        labeled.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_in"))
    )
    deg_c = (
        _endpoints(canon, "id")
        .join(a, "id")
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg_c"))
    )
    n_nodes = a.groupBy("community").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    m_df = canon.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    dec = "decimal(38,0)"
    q_num = (
        F.lit(4).cast(dec) * F.col("m").cast(dec) * F.col("e_in").cast(dec)
        - F.col("deg_c").cast(dec) * F.col("deg_c").cast(dec)
    )
    q_den = F.lit(4).cast(dec) * F.col("m").cast(dec) * F.col("m").cast(dec)
    return (
        n_nodes.join(deg_c, "community", "left")
        .join(e_in, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce("deg_c", F.lit(0)).cast("bigint").alias("deg_c"),
            F.coalesce("e_in", F.lit(0)).cast("bigint").alias("e_in"),
        )
        .crossJoin(F.broadcast(m_df))
        .select(
            "community",
            "n_nodes",
            "deg_c",
            "e_in",
            "m",
            q_num.cast("bigint").alias("q_num"),
            q_den.cast("bigint").alias("q_den"),
            (q_num.cast("double") / q_den.cast("double")).alias("q_term"),
        )
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """DEGREE ASSORTATIVITY (Newman's r) of an undirected graph — do
    high-degree nodes attach to other high-degree nodes (r > 0, social
    networks) or to leaves (r < 0, hub-and-spoke / star topologies)?  The
    one-number structural fingerprint used to sanity-check a generated or
    ingested graph before running the heavy machinery on it.

    r is the Pearson correlation of endpoint degrees over the DIRECTED
    edge multiset (each undirected edge counted in both orientations —
    Newman 2002's definition, which makes Σx = Σy by symmetry).  The
    operator ships the exact integer sufficient statistics (n = 2m, Σx,
    Σx², Σxy — a_corr_stats' mergeable-statistic shape specialized to the
    symmetric case) and derives r with one FIXED IEEE op sequence from the
    cross-multiplied DECIMAL(38,0) pieces, NULL on a degree-regular graph
    (zero variance — the 0/0 case).  One row out.

    Scale shape: edge dedup once, the degree aggregate, TWO node-keyed
    joins to attach (deg_u, deg_v), and one map-side-combined one-row
    reduce.  Nothing iterates, nothing collects; the join skew ceiling is
    a hub's edge list, which is the same row count every per-edge operator
    here already touches.
    """
    canon = _canonical(edges)
    deg = _degrees(canon)
    paired = (
        canon.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    # both orientations, folded without materializing the 2m-row union:
    # per canon edge contribute x-sums (du+dv), xx-sums (du^2+dv^2) and
    # xy-sums 2*du*dv; n = 2m
    s = paired.agg(
        (F.count(F.lit(1)) * 2).cast("bigint").alias("n"),
        F.sum(F.col("du") + F.col("dv")).cast("bigint").alias("sum_x"),
        F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv"))
        .cast("bigint")
        .alias("sum_xx"),
        F.sum(F.lit(2) * F.col("du") * F.col("dv"))
        .cast("bigint")
        .alias("sum_xy"),
    )
    dec = "decimal(38,0)"
    num = (
        F.col("n").cast(dec) * F.col("sum_xy").cast(dec)
        - F.col("sum_x").cast(dec) * F.col("sum_x").cast(dec)
    )
    den = (
        F.col("n").cast(dec) * F.col("sum_xx").cast(dec)
        - F.col("sum_x").cast(dec) * F.col("sum_x").cast(dec)
    )
    return s.select(
        "n",
        "sum_x",
        "sum_xx",
        "sum_xy",
        F.when(den != 0, num.cast("double") / den.cast("double")).alias(
            "assortativity"
        ),
    )


def component_size_stats(labels: DataFrame) -> DataFrame:
    """Component-SIZE distribution of a labeling — the giant-component
    diagnostic you run on every dedup/entity-resolution graph BEFORE
    trusting its survivors: near-dup fabrics fail by percolation (one
    boilerplate band chains half the corpus into a single cluster and the
    keep-min survivor silently deletes it), and the failure is visible
    only in the size distribution, not in any per-pair score.

    Input: (id, component) rows (connected_components' output).  Output:
    one row per component — (component, size, n_clustered, share_ppm)
    with share_ppm = the component's share of all clustered docs in
    parts-per-million (exact integer div).  A share_ppm in the hundreds
    of thousands IS the percolation alarm.

    Scale shape: ONE map-side-combined count on the label (shuffle rows =
    |components|), totals from a reaggregation of those partials
    broadcast back — the corpus-sized labeling is scanned once, nothing
    sorts, nothing collects.
    """
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    sizes = sizes.localCheckpoint(eager=False)
    tot = sizes.agg(F.sum("size").cast("bigint").alias("n_clustered"))
    return sizes.crossJoin(F.broadcast(tot)).select(
        "component",
        "size",
        "n_clustered",
        F.expr("1000000 * size div n_clustered").cast("bigint").alias(
            "share_ppm"
        ),
    )
