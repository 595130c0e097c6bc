"""Similarity search over embedding columns (beyond-parity north star).

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  Query side is small (a handful of probe vectors) and broadcast; the corpus
  side streams through a single scan: cost O(|corpus| * |queries|), no
  shuffle except the final per-query top-k aggregation.
- ``lsh_bucketed_topk``: the scale path — random-hyperplane buckets prune the
  corpus to colliding candidates before exact rerank (IVF-style recall/cost
  trade).  Bucket assignment is deterministic (md5-derived hyperplanes), so
  it's oracle-checkable in SQL.
- ``embedding_near_dup_pairs``: near-duplicate detection by cosine threshold
  with label blocking / LSH blocking.
- IVF (``ivf_topk``, ``build_ivf_index``, ``ivf_adc_topk``, ...) and PQ
  (``pq_codes``, ``pq_adc_topk``, ``pq_train_codebook``, ...) operators,
  composed from one private helper per building block:

  - ``_topk_per_query`` / ``_adc_topk``: per-query ranking by cosine
    (descending) or exact ADC distance (ascending), neighbor-id tie-break;
  - ``_coarse_centroids``: the stride-sample (or supplied) coarse
    quantizer, quantized to (cell, mv, mn);
  - ``_nearest_cell``: each vector's nearest centroid(s) — the expression
    fold and the bit-identical Arrow GEMM kernel behind one ``kernel=``
    switch;
  - ``_probe_cells``: each query's ``nprobe`` nearest cells;
  - ``_pq_codebook`` / ``_subspace_sq_dist``: the dense-ranked PQ codebook
    and the exact per-subspace squared L2 distance.

All scores go through ``functions.vectors`` quantized arithmetic: integer
dot products -> bit-identical across engines (see that module's docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from trafficbigdatasearch_spark import partitioning as P
from trafficbigdatasearch_spark.catalog import file_schema
from trafficbigdatasearch_spark.functions import vectors as V


def _topk_per_query(pairs: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query top-k over candidate ``pairs`` (query_id,
    neighbor_id, qv, qn, cv, cn): exact quantized cosine ``score``, ranked
    score desc, neighbor_id asc tie-break -> (query_id, neighbor_id, rank,
    score).  ONE home for the tie-break contract — brute/LSH/IVF/PQ-rerank
    results must stay comparable (recall is measured against the brute
    baseline)."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        V.cosine_from_parts(
            V.dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def _with_quantized(
    df: DataFrame,
    vec_col: str,
    out: str,
    norm_out: str | None = None,
    spread_on: str | None = None,
) -> DataFrame:
    """``spread_on``: corpus-side opt-in — conditionally repartition on the
    named id column to the session's compute width BEFORE the quantize
    projection (partitioning.ensure_compute_width: identity when the scan
    is already wide).  The GEMM/argmin/fold stages downstream are CPU-bound
    per row, and a single-row-group local source otherwise runs them (and
    every checkpoint built from them) on one core.  ONLY for operators
    whose math is partitioning-invariant (integer lattice + deterministic
    tie-breaks) — kmeans_refine's float avg() accumulation is order-
    sensitive and must keep its input partitioning untouched (verified:
    spreading it CHANGES centroids)."""
    if spread_on is not None:
        df = P.ensure_compute_width(df, spread_on)
    df = df.withColumn(out, V.quantize(F.col(vec_col)))
    if norm_out is not None:
        # norm computed once per VECTOR here, not once per compared pair in
        # the scoring expression — see vectors.cosine_from_parts
        df = df.withColumn(norm_out, V.sq_norm(F.col(out)))
    return df


#: the two implementations behind every ``kernel=`` switch: the lazy
#: Catalyst expression fold and the bit-identical Arrow GEMM kernel
_KERNELS = ("expr", "gemm")


def _check_kernel(kernel: str) -> None:
    """Reject an unknown ``kernel=`` at build time, before any Spark job —
    a typo (or ``"GEMM"``) must not silently run the expression path."""
    if kernel not in _KERNELS:
        raise ValueError(f"kernel must be one of {_KERNELS}, got {kernel!r}")


def _coarse_centroids(
    corpus: DataFrame,
    centroid_stride: int,
    id_col: str,
    vec_col: str,
    cell_name: str = "cell_id",
    centroids: DataFrame | None = None,
    centroid_id_col: str = "cell_id",
    centroid_vec_col: str = "centroid",
    empty_error: str | None = None,
) -> DataFrame:
    """The IVF coarse quantizer, quantized: (cell_name, mv, mn).  Centroids
    are the deterministic corpus sample ``id % centroid_stride == 0`` (the
    sampled vector's id is its cell id), or the supplied ``centroids``
    table (centroid_id_col, centroid_vec_col).  ``empty_error`` is the
    ``validate`` option: when set, one eager ``isEmpty`` job raises
    ``ValueError(empty_error)`` on an empty centroid set; when None the
    build stays lazy (zero jobs)."""
    if centroids is None:
        cent = corpus.filter((F.col(id_col) % centroid_stride) == 0)
        src_id, src_vec = id_col, vec_col
    else:
        cent, src_id, src_vec = centroids, centroid_id_col, centroid_vec_col
    if empty_error is not None and cent.isEmpty():
        raise ValueError(empty_error)
    return _with_quantized(cent, src_vec, "mv", "mn").select(
        F.col(src_id).alias(cell_name), "mv", "mn"
    )


def _nearest_cell(
    c: DataFrame,
    cq: DataFrame,
    id_name: str,
    cell_name: str,
    n: int = 1,
    kernel: str = "expr",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id_name, cell_name, *carry): each quantized vector's ``n`` nearest
    (max-cosine) centroids, ties to the smaller cell id — the one
    coarse-assignment stage of every IVF/PQ operator.  Expects ``c`` =
    (id_name, cv, cn, ...) and ``cq`` = (cell_name, mv, mn), both already
    quantized; ``carry`` names columns of ``c`` passed through unchanged.

    ``kernel="expr"``: broadcast ``cq`` and fold ``min_by`` over
    struct(-cosine, cell) — a map-side-combinable aggregate, no per-vector
    window; ``n > 1`` ranks with a window partitioned on the vector id
    instead (still no global exchange).

    ``kernel="gemm"`` (``n == 1``; the window needs every cosine): the
    tiny centroid table is collected ONCE (one small eager job), then the
    vectors stream through ``mapInPandas`` with one int64 matrix product
    per batch — map-only, ~50x the interpreted fold's throughput (r14: 118
    s of task time -> under a second on a 10 k x 103 corpus at the 5x
    fixture).  BIT-IDENTICAL to the expression path: the lattice dot
    product is exact in int64 (below 2^53), the cosine is the same
    cast -> sqrt -> multiply -> divide IEEE sequence as
    ``vectors.cosine_from_parts``, and first-occurrence ``argmax`` over the
    cell-ascending matrix is the ``min_by(struct(-csim, cell))`` tie-break.
    Zero norms raise (loud failure per module convention) instead of
    reproducing the expression path's accidental NULL-ordering
    assignment."""
    _check_kernel(kernel)
    if kernel == "gemm" and n == 1:
        import numpy as np
        import pandas as pd

        cb_rows = cq.orderBy(cell_name).collect()
        schema = ", ".join(
            [f"{id_name} bigint", f"{cell_name} bigint"]
            + [f"{x} {c.schema[x].dataType.simpleString()}" for x in carry]
        )
        if not cb_rows:
            # no centroids -> no assignments (the expression path's empty agg)
            return c.sparkSession.createDataFrame([], schema)
        C = np.stack([np.asarray(r["mv"], dtype=np.int64) for r in cb_rows])
        ids = np.asarray([r[cell_name] for r in cb_rows], dtype=np.int64)
        mn = np.sqrt(np.asarray([r["mn"] for r in cb_rows], dtype=np.int64)
                     .astype(np.float64))
        if (mn == 0).any():
            raise ValueError("_nearest_cell: zero-norm centroid")
        bc = c.sparkSession.sparkContext.broadcast((C, ids, mn))

        def assign(batches):
            Cb, cell_ids, mnf = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                U = np.stack(pdf["cv"].to_numpy()).astype(np.int64)
                un = np.sqrt(pdf["cn"].to_numpy().astype(np.float64))
                if (un == 0).any():
                    raise ValueError("_nearest_cell: zero-norm vector")
                S = (U @ Cb.T).astype(np.float64) / (un[:, None] * mnf[None, :])
                out = pd.DataFrame(
                    {
                        id_name: pdf[id_name].to_numpy(),
                        cell_name: cell_ids[S.argmax(axis=1)],
                    }
                )
                for x in carry:
                    out[x] = pdf[x].to_numpy()
                yield out

        cols = dict.fromkeys([id_name, "cv", "cn", *carry])
        return c.select(*cols).mapInPandas(assign, schema)
    sim = c.crossJoin(F.broadcast(cq)).select(
        id_name,
        cell_name,
        *carry,
        V.cosine_from_parts(
            V.dot(F.col("cv"), F.col("mv")), F.col("cn"), F.col("mn")
        ).alias("csim"),
    )
    if n > 1:
        w = Window.partitionBy(id_name).orderBy(
            F.col("csim").desc(), F.col(cell_name).asc()
        )
        return (
            sim.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= n)
            .select(id_name, cell_name, *carry)
        )
    order = F.struct((-F.col("csim")).alias("d"), F.col(cell_name))
    if not carry:
        return sim.groupBy(id_name).agg(
            F.min_by(F.col(cell_name), order).alias(cell_name)
        )
    return sim.groupBy(id_name).agg(
        F.min_by(F.struct(cell_name, *carry), order).alias("m")
    ).select(id_name, *[F.col(f"m.{x}").alias(x) for x in (cell_name, *carry)])


def _probe_cells(
    q: DataFrame,
    cq: DataFrame,
    cell_name: str,
    n: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(query_id, cell_name, *carry): each query's ``n`` nearest cells
    (``nprobe``) against the broadcast centroid table, ties to the smaller
    cell id.  ``q`` = (query_id, qv, qn, ...) and ``cq`` = (cell_name, mv,
    mn), both quantized; ``carry`` names columns of ``q`` kept on every
    probe row."""
    pw = Window.partitionBy("query_id").orderBy(
        F.col("psim").desc(), F.col(cell_name).asc()
    )
    return (
        q.crossJoin(F.broadcast(cq))
        .select(
            "query_id",
            cell_name,
            *carry,
            V.cosine_from_parts(
                V.dot(F.col("qv"), F.col("mv")), F.col("qn"), F.col("mn")
            ).alias("psim"),
        )
        .withColumn("_r", F.row_number().over(pw))
        .filter(F.col("_r") <= n)
        .select("query_id", cell_name, *carry)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, score).

    Self-matches (same id) are excluded.  Rank ties broken by neighbor id —
    combined with quantized scoring this makes the result set deterministic.
    The query side is broadcast; the per-query top-k is a window over a
    shuffle partitioned by query_id (k « corpus, so the window never spills).
    """
    q = _with_quantized(queries, vec_col, "qv", "qn").select(
        F.col(query_id_col).alias("query_id"), "qv", "qn"
    )
    c = _with_quantized(corpus, vec_col, "cv", "cn", spread_on=id_col).select(
        F.col(id_col).alias("neighbor_id"), "cv", "cn"
    )
    pairs = c.crossJoin(F.broadcast(q))
    return _topk_per_query(pairs.filter(F.col("neighbor_id") != F.col("query_id")), k)


def bucket_assignments(
    corpus: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """(id, bucket) per vector — the LSH partitioning fabric.  Deterministic
    (md5-derived hyperplanes over quantized components).  ``dims`` must match
    the embedding length (enforced at evaluation)."""
    return _with_quantized(corpus, vec_col, "qv", norm_out=None, spread_on=id_col).select(
        F.col(id_col).alias("id"),
        V.simhash_bucket(F.col("qv"), n_planes, dims).alias("bucket"),
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    dims: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's hyperplane
    bucket, then exact rerank.  Same output shape as ``brute_force_topk``;
    recall < 1 by design.  At scale the bucket equi-join replaces the
    cross-join: cost ~ |corpus| / 2^n_planes per query."""
    # bucket computed inline from the already-quantized column: one scan per
    # side, no join-back shuffle (a bucket_assignments join would re-run the
    # quantize pipeline and shuffle the corpus on id just to re-attach a
    # value derivable in the same projection)
    q = _with_quantized(queries, vec_col, "qv", "qn").select(
        F.col(query_id_col).alias("query_id"),
        "qv",
        "qn",
        V.simhash_bucket(F.col("qv"), n_planes, dims).alias("bucket"),
    )
    c = _with_quantized(corpus, vec_col, "cv", "cn", spread_on=id_col).select(
        F.col(id_col).alias("neighbor_id"),
        "cv",
        "cn",
        V.simhash_bucket(F.col("cv"), n_planes, dims).alias("bucket"),
    )
    pairs = c.join(F.broadcast(q), "bucket")
    return _topk_per_query(pairs.filter(F.col("neighbor_id") != F.col("query_id")), k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    centroid_stride: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    validate: bool = False,
    centroids: DataFrame | None = None,
    centroid_id_col: str = "cell_id",
    centroid_vec_col: str = "centroid",
    kernel: str = "expr",
) -> DataFrame:
    """IVF-style approximate top-k: the corpus is partitioned into inverted
    lists by nearest centroid; each query probes only its ``nprobe`` nearest
    cells and reranks exactly inside them.  Output shape matches
    ``brute_force_topk`` (query_id, neighbor_id, rank, score); recall < 1 by
    design — the scale path where the cross join is the brute baseline.

    A ``centroid_stride`` with no multiples among the ids yields an EMPTY
    result (every probe list is empty).  Pass ``validate=True`` to fail fast
    with a ValueError instead — opt-in because the check is a Spark job, and
    builders must stay lazy (plan construction launches zero jobs).

    By default centroids are a deterministic corpus sample
    (``id % centroid_stride == 0``) — determinism keeps the operator
    oracle-checkable.  Pass ``centroids=`` a (cell_id, centroid) DataFrame —
    e.g. ``kmeans_refine(corpus).select("cell_id", "centroid")`` — to use
    TRAINED centroids; any cosine-positive scaling of the vectors is
    equivalent, so the refined unit-mean centroids quantize fine.

    At scale: assignment is one broadcast pass over the corpus (persist it
    with :func:`build_ivf_index` for repeated querying); the probe join
    shuffles only candidate cells, ~``nprobe/n_cells`` of the corpus per
    query batch.  Fuzz-pinned: at ``nprobe >= n_cells`` the result
    EQUALS :func:`brute_force_topk` (tests/test_oracle_fuzz.py) — the
    recall loss lives entirely in the probe subset, never the rerank.
    """
    _check_kernel(kernel)  # before validate's eager job
    if centroids is None:
        empty = (
            f"no centroids: no {id_col} is a multiple of {centroid_stride} — "
            f"lower centroid_stride (results would be silently empty)"
        )
    else:
        empty = "no centroids: the supplied centroid table is empty"
    cq = _coarse_centroids(
        corpus, centroid_stride, id_col, vec_col, centroids=centroids,
        centroid_id_col=centroid_id_col, centroid_vec_col=centroid_vec_col,
        empty_error=empty if validate else None,
    )
    c = _with_quantized(corpus, vec_col, "cv", "cn", spread_on=id_col).select(
        F.col(id_col).alias("neighbor_id"), "cv", "cn"
    )
    # nearest centroid per corpus vector, then re-attach the vector — no
    # per-vector window shuffle
    assign = _nearest_cell(c, cq, "neighbor_id", "cell_id", kernel=kernel)
    return _ivf_probe_rerank(
        c.join(assign, "neighbor_id"), cq, queries, k, nprobe, vec_col, query_id_col
    )


def _ivf_probe_rerank(
    indexed: DataFrame,
    cq: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared IVF query tail: pick each query's ``nprobe`` nearest cells
    against the broadcast centroid table, equi-join the inverted index on
    ``cell_id``, rerank exactly.  ``indexed`` is (neighbor_id, cv, cn,
    cell_id) — built inline by :func:`ivf_topk` or read back from
    :func:`build_ivf_index`'s partitioned layout (where the broadcast probe
    join triggers dynamic partition pruning on ``cell_id``)."""
    q = _with_quantized(queries, vec_col, "qv", "qn").select(
        F.col(query_id_col).alias("query_id"), "qv", "qn"
    )
    probes = _probe_cells(q, cq, "cell_id", nprobe, carry=("qv", "qn"))
    pairs = indexed.join(F.broadcast(probes), "cell_id")
    return _topk_per_query(pairs.filter(F.col("neighbor_id") != F.col("query_id")), k)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    centroid_stride: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    centroid_id_col: str = "cell_id",
    centroid_vec_col: str = "centroid",
    mode: str = "overwrite",
) -> None:
    """Persist the IVF inverted index: assignment computed ONCE, vectors
    stored pre-quantized, the index PARTITIONED by ``cell_id``.

    Layout: ``{path}/inverted/cell_id=N/`` holding (neighbor_id, cv, cn) and
    ``{path}/centroids/`` holding (cell_id, mv, mn).  Querying through
    :func:`ivf_topk_indexed` then reads ONLY the probed cells — the broadcast
    probe join drives dynamic partition pruning, so a query batch touches
    ~``nprobe/n_cells`` of the corpus bytes instead of re-scanning and
    re-assigning everything per call.  This is the repeated-query ANN shape
    at 100 TB: build once (one broadcast pass + one partitioned write),
    query forever.

    Same centroid options as :func:`ivf_topk` (deterministic sample, or
    trained centroids e.g. from :func:`kmeans_refine`).
    """
    cq = _coarse_centroids(
        corpus, centroid_stride, id_col, vec_col, centroids=centroids,
        centroid_id_col=centroid_id_col, centroid_vec_col=centroid_vec_col,
    )
    c = _with_quantized(corpus, vec_col, "cv", "cn").select(
        F.col(id_col).alias("neighbor_id"), "cv", "cn"
    )
    c.join(
        _nearest_cell(c, cq, "neighbor_id", "cell_id"), "neighbor_id"
    ).write.mode(mode).partitionBy("cell_id").parquet(f"{path}/inverted")
    cq.write.mode(mode).parquet(f"{path}/centroids")


def ivf_index_append(
    spark,
    path: str,
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a new embedding batch into a persisted :func:`build_ivf_index`
    WITHOUT a rebuild — the index-maintenance half of the ANN lifecycle
    (verdict r9 #6).

    The stored centroid table is the FIXED quantizer: read back, broadcast,
    and the new batch alone is assigned (same argmax-cosine + smallest-cell
    tie-break as the build) and append-written into the cell-partitioned
    inverted layout.  The standing index bytes are never read, shuffled, or
    rewritten — maintenance cost is O(|batch|) scan + one broadcast, the
    quantizer-reuse contract :func:`semantic_incremental_dedup` proves for
    the dedup twin.  At fixed centroids the merged index answers
    :func:`ivf_topk_indexed` IDENTICALLY to a full rebuild over
    corpus ∪ batch (oracle row ``sim_ivf_append``): assignment is per-vector
    independent, so build-then-append and rebuild produce the same inverted
    lists up to file layout.

    Centroid drift is the documented operational limit, not a correctness
    one: appends never move centroids, so after heavy distribution shift
    recall decays and the answer is a periodic re-train (kmeans_refine) +
    rebuild — same posture as FAISS IVF add() vs re-train.  The
    append-equals-rebuild contract is fuzz-pinned across random splits,
    strides, and nprobe (tests/test_oracle_fuzz.py).
    """
    cq = spark.read.parquet(f"{path}/centroids")
    c = _with_quantized(new_corpus, vec_col, "cv", "cn").select(
        F.col(id_col).alias("neighbor_id"), "cv", "cn"
    )
    c.join(
        _nearest_cell(c, cq, "neighbor_id", "cell_id"), "neighbor_id"
    ).write.mode("append").partitionBy("cell_id").parquet(f"{path}/inverted")


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Top-k over a persisted :func:`build_ivf_index` — identical results to
    :func:`ivf_topk` with the same centroids, but the corpus scan is pruned
    to the probed cells (check the plan for ``dynamicpruning`` in
    PartitionFilters).  ``cell_id`` comes back from partition-column
    inference with a narrower integer type; the centroid table is cast to
    match so the probe join keys align exactly — a cast on the partitioned
    side would defeat the pruning."""
    inv, cents = f"{path}/inverted", f"{path}/centroids"
    indexed = spark.read.schema(file_schema(spark, inv)).parquet(inv)
    cell_t = indexed.schema["cell_id"].dataType
    cq = spark.read.schema(file_schema(spark, cents)).parquet(cents).withColumn(
        "cell_id", F.col("cell_id").cast(cell_t)
    )
    return _ivf_probe_rerank(indexed, cq, queries, k, nprobe, vec_col, query_id_col)


def kmeans_refine(
    corpus: DataFrame,
    n_iter: int = 1,
    centroid_stride: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate: bool = False,
) -> DataFrame:
    """Spherical k-means refinement of the IVF centroid sample — the
    iterative-algorithm shape (assignment / re-estimation loop) expressed as
    pure DataFrame ops, no MLlib and no driver-side vectors beyond the
    broadcast centroid table.

    Each Lloyd iteration: (1) assign every vector to its max-cosine centroid
    (broadcast + map-side ``min_by`` argmin — same shape as ``ivf_topk``),
    (2) re-estimate each centroid as the component-wise mean of its members'
    UNIT-NORMALIZED vectors (``posexplode`` -> groupBy(cell, dim) avg ->
    re-assemble) — the spherical k-means update, whose direction maximizes
    the summed cosine to the centroid for a fixed assignment on ANY-magnitude
    corpus (the raw-vector mean only does for unit-norm inputs), so the mean
    assigned similarity is non-decreasing per iteration (pinned in tests).
    Returns (cell_id, n_members, avg_sim, centroid array<double>).

    At scale each iteration is: one broadcast pass over the corpus + one
    (cell, dim)-keyed aggregation of dims x |corpus| narrow rows — no
    per-vector window, no all-pairs stage.  The loop count is a small
    constant (driver-side for), exactly how iterative refinement runs on a
    cluster.

    As with :func:`ivf_topk`, an empty centroid sample yields an EMPTY
    result; ``validate=True`` opts into a fail-fast Spark job (builders stay
    lazy by default — plan construction launches zero jobs).
    """
    c = _with_quantized(corpus, vec_col, "cv", "cn").select(
        F.col(id_col).alias("vid"), "cv", "cn"
    )
    cents = (
        c.filter((F.col("vid") % centroid_stride) == 0)
        .select(
            F.col("vid").alias("cell_id"),
            F.transform("cv", lambda x: x.cast("double")).alias("mv"),
        )
    )
    if validate and cents.isEmpty():
        raise ValueError(
            f"no centroids: no {id_col} is a multiple of {centroid_stride} — "
            f"lower centroid_stride (results would be silently empty)"
        )
    assigned = None
    for _ in range(max(n_iter, 1)):
        mv_n = F.aggregate(
            F.col("mv"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
        cq = cents.select("cell_id", "mv", F.sqrt(mv_n).alias("mnorm"))
        sim = c.crossJoin(F.broadcast(cq)).select(
            "vid",
            "cv",
            "cn",
            "cell_id",
            F.try_divide(
                F.aggregate(
                    F.zip_with(F.col("cv"), F.col("mv"), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                F.sqrt(F.col("cn").cast("double")) * F.col("mnorm"),
            ).alias("s"),
        )
        assigned = sim.groupBy("vid").agg(
            F.min_by(
                F.struct("cell_id", "cv", "cn", "s"),
                F.struct((-F.col("s")).alias("d"), F.col("cell_id")),
            ).alias("m")
        ).select(
            "vid",
            F.col("m.cell_id").alias("cell_id"),
            F.col("m.cv").alias("cv"),
            F.col("m.cn").alias("cn"),
            F.col("m.s").alias("s"),
        )
        # spherical update: average the UNIT vectors x/|x|, not raw x —
        # cosine is scale-invariant, and only the normalized mean direction
        # maximizes the fixed-assignment objective on mixed-magnitude input
        comp = assigned.select(
            "cell_id", F.posexplode("cv").alias("dim", "x"), F.col("cn")
        ).select(
            "cell_id", "dim",
            F.try_divide(F.col("x"), F.sqrt(F.col("cn").cast("double"))).alias("x"),
        )
        cents = (
            comp.groupBy("cell_id", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select(
                "cell_id",
                F.transform("dm", lambda e: e["m"]).alias("mv"),
            )
        )
    # avg via exact integer sum of 1e-9-quantized similarities: float SUM is
    # accumulation-order-dependent (differs per partitioning / per engine),
    # the bigint sum is not — the standard determinism layer used by every
    # oracle-matched average in queries/standard.py.  1e-9 « any similarity
    # resolution anyone cares about.
    stats = assigned.groupBy("cell_id").agg(
        F.count("*").alias("n_members"),
        (
            F.sum(F.round(F.col("s") * 1e9).cast("bigint")).cast("double")
            / (F.lit(1e9) * F.count("*"))
        ).alias("avg_sim"),
    )
    return stats.join(cents, "cell_id", "left").select(
        "cell_id", "n_members", "avg_sim", F.col("mv").alias("centroid")
    )


def pq_train_codebook(
    corpus: DataFrame,
    n_iter: int = 2,
    centroid_stride: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "expr",
) -> DataFrame:
    """Lattice-exact spherical k-means codebook trainer — the DETERMINISTIC
    sibling of :func:`kmeans_refine`, built so a trained codebook can sit
    under an oracle-checked query: every step is either exact integer math
    or a single correctly-rounded IEEE op, so Spark and a SQL engine produce
    BIT-IDENTICAL codebooks (float ``avg()`` accumulation, by contrast,
    depends on partitioning/order).

    Per Lloyd iteration over unit-lattice members
    ``u = round(v * QUANT / |v|)`` (v = the quantized vector, so ``u`` is an
    integer vector of norm ~QUANT; the rounding chain v*QUANT -> /sqrt ->
    round is a fixed sequence of exact/correctly-rounded ops):

    1. assign each ``u`` to its max-cosine centroid (broadcast + map-side
       ``min_by`` argmin, ties to the smaller cell — all compared values
       are IEEE-identical across engines because every partial sum is exact
       below 2^53);
    2. re-estimate each centroid as ``round(sum(u_d) / n)`` per dimension —
       integer sum, one correctly-rounded divide, one round — landing the
       new centroid back ON the lattice.  Cells that lose all members drop
       out (their codes re-rank densely downstream via ``_pq_codebook``).

    Returns (cell_id, n_members, centroid array<double>) with centroid
    components in real space (lattice / QUANT), so re-quantization by the
    PQ/IVF seams reproduces the lattice ints exactly.  At scale each
    iteration is one broadcast pass + one (cell, dim)-keyed aggregation —
    same shape as :func:`kmeans_refine`.

    Unlike the pure-builder operators, the trainer MATERIALIZES per
    iteration (an eager ``localCheckpoint`` of the tiny codebook): without
    it, iteration N's plan embeds N-1 full re-executions of every earlier
    assignment pass — the exponential-lineage trap of iterative algorithms
    (same precedent as ``connected_components``, which must run jobs to
    converge; measured 7.0 s -> 2.4 s for n_iter=2 at sf0.1).  The
    unit-lattice members are lazily checkpointed once and reused across
    iterations — the "cache the training set" step of any k-means run.

    Each assignment pass is :func:`_nearest_cell` carrying the member
    vector through, so ``kernel="gemm"`` runs the same bit-identical Arrow
    kernel as IVF assignment over the per-iteration codebook (already
    materialized, so its collect is cheap) — parity pinned in tests.
    """
    c = _with_quantized(corpus, vec_col, "cv", "cn", spread_on=id_col).select(
        F.col(id_col).alias("vid"), "cv", "cn"
    )
    # the unit-lattice members u, named (cv, cn) for _nearest_cell
    u = (
        c.select(
            "vid",
            F.transform(
                "cv",
                lambda x: F.round(
                    x.cast("double") * V.QUANT / F.sqrt(F.col("cn").cast("double"))
                ).cast("bigint"),
            ).alias("cv"),
        )
        .withColumn("cn", V.sq_norm(F.col("cv")))
        .localCheckpoint(eager=False)
    )
    cb = (
        c.filter((F.col("vid") % centroid_stride) == 0)
        .select(F.col("vid").alias("_src"), F.col("cv").alias("mv"))
        .select(
            (F.row_number().over(Window.orderBy("_src")) - 1)
            .cast("bigint")
            .alias("cell_id"),
            "mv",
        )
    )
    assign = None
    for _ in range(max(n_iter, 1)):
        cq = cb.withColumn("mn", V.sq_norm(F.col("mv")))
        assign = _nearest_cell(u, cq, "vid", "cell_id", kernel=kernel, carry=("cv",))
        comp = assign.select("cell_id", F.posexplode("cv").alias("dim", "x"))
        cb = (
            comp.groupBy("cell_id", "dim")
            .agg(
                F.round(F.sum("x").cast("double") / F.count("*"))
                .cast("bigint")
                .alias("m")
            )
            .groupBy("cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select("cell_id", F.transform("dm", lambda e: e["m"]).alias("mv"))
            .localCheckpoint(eager=True)
        )
    stats = assign.groupBy("cell_id").agg(F.count("*").alias("n_members"))
    return stats.join(cb, "cell_id").select(
        "cell_id",
        "n_members",
        F.transform("mv", lambda x: x.cast("double") / V.QUANT).alias("centroid"),
    )


def pq_adc_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 100,
    m: int = 8,
    centroid_stride: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    kernel: str = "expr",
) -> DataFrame:
    """The production PQ arrangement: ADC over compressed codes generates a
    ``shortlist`` per query, then ONLY the shortlisted corpus vectors are
    re-read for an exact quantized-cosine rerank -> top-``k``.

    Cost split at 100 TB: the ADC stage touches codes only (``m`` small
    ints per vector — the 8-byte representation PQ exists for); the rerank
    touches raw embeddings for just |queries| x shortlist rows, re-attached
    by a BROADCAST join on neighbor_id, so the full embedding column is
    never shuffled at query time.  Output shape matches
    :func:`brute_force_topk` (query_id, neighbor_id, rank, score) so recall
    against the brute baseline is directly measurable (pinned in tests).
    """
    sl = pq_adc_topk(
        corpus,
        queries,
        k=shortlist,
        m=m,
        centroid_stride=centroid_stride,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        centroids=centroids,
        kernel=kernel,
    ).select("query_id", "neighbor_id")
    c = _with_quantized(corpus, vec_col, "cv", "cn").select(
        F.col(id_col).alias("neighbor_id"), "cv", "cn"
    )
    q = _with_quantized(queries, vec_col, "qv", "qn").select(
        F.col(query_id_col).alias("query_id"), "qv", "qn"
    )
    pairs = c.join(F.broadcast(sl), "neighbor_id").join(F.broadcast(q), "query_id")
    return _topk_per_query(pairs, k)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, cosine >= threshold).

    ``block_col`` restricts comparisons to equal-key blocks (a label, an LSH
    bucket, a cluster id) — at corpus scale an unblocked pairwise pass is
    never acceptable; with None it falls back to LSH-bucket blocking.
    Rows with a NULL block key form their own block (NULL never equi-joins,
    which would silently exclude them from all comparison); a corpus where
    NULL dominates should pass block_col=None instead — one giant NULL block
    is the all-pairs blowup blocking exists to avoid."""
    c = _with_quantized(corpus, vec_col, "qv", "qn")
    if block_col is None:
        # inline bucket from the quantized column — same single-scan shape
        # as lsh_bucketed_topk, no join-back
        c = c.withColumn("bucket", V.simhash_bucket(F.col("qv"), 8, dims))
        block_col = "bucket"
    blk = F.coalesce(F.col(block_col).cast("string"), F.lit("__null_block__"))
    blocked = c.select(F.col(id_col).alias("id"), "qv", blk.alias("blk"))

    # Per-block scoring as a vectorized GEMM over Arrow batches: one
    # ``applyInPandas`` per block computes all pairwise cosines with numpy
    # matrix products — ~10x the per-pair interpreted expression fold, and
    # the realistic kernel for this op at scale.  Bit-identical to the
    # expression path: integer dot products are exact in int64->float64
    # (< 2^53), and score = dot / (sqrt(na) * sqrt(nb)) is the same IEEE op
    # sequence numpy applies.  Chunked so memory is O(chunk * block), never
    # O(block^2).
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        M = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
        norms = np.sqrt((M * M).sum(axis=1).astype(np.float64))
        out_a, out_b, out_s = [], [], []
        chunk = 2048
        n = len(ids)
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            dots = (M[lo:hi] @ M.T).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = dots / np.outer(norms[lo:hi], norms)
            for ci in range(hi - lo):
                i = lo + ci
                row = S[ci, i + 1 :]
                js = np.nonzero(row >= thr)[0] + i + 1
                for j in js:
                    ia, ib = ids[i], ids[j]
                    if ia > ib:
                        ia, ib = ib, ia
                    out_a.append(ia)
                    out_b.append(ib)
                    out_s.append(S[ci, j])
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "score": out_s})

    return blocked.groupBy("blk").applyInPandas(
        score_block, "id_a bigint, id_b bigint, score double"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): m-subspace codes + ADC scoring
# ---------------------------------------------------------------------------

#: cell ids are packed with subspace distances into one bigint for a
#: portable argmin (min(d * PACK + cell) % PACK) — exact while
#: d * PACK + cell < 2^53 and cell_id < PACK.  Codebook cell ids are DENSE
#: RANKS (see _pq_codebook), so cell_id < PACK means n_cells < 2^20 — a
#: structural property of a broadcast codebook, not of the corpus id space.
_PQ_PACK = 1 << 20


def _pq_codebook(
    corpus: DataFrame,
    centroid_stride: int,
    id_col: str,
    vec_col: str,
    centroids: DataFrame | None,
) -> DataFrame:
    """Quantized PQ codebook (cell_id, cv) from the supplied ``centroids``
    (id_col, vec_col) or, by default, the deterministic corpus sample
    ``id % centroid_stride == 0``.  Cell ids are DENSE: ``row_number
    over (order by source id) - 1``, i.e. ranks 0..n_cells-1, NOT the raw
    source ids.  Raw ids >= 2^20 would bleed into the distance bits of the
    packed argmin and silently corrupt every code; ranks make the packing
    safe for any corpus id space.  The rank window is unpartitioned but runs
    over the CODEBOOK only, which is small by construction (it is broadcast
    at every use site)."""
    cent = centroids if centroids is not None else corpus.filter(
        (F.col(id_col) % centroid_stride) == 0
    )
    cq = _with_quantized(cent, vec_col, "cv").select(
        F.col(id_col).alias("src_id"), "cv"
    )
    w = Window.orderBy("src_id")
    return cq.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("cell_id"), "cv"
    )


def _subspace_sq_dist(x: str, c: str, j: int, m: int) -> Column:
    """Exact squared L2 distance between subspace ``j`` (of ``m``) of the
    quantized vector columns ``x`` and ``c`` — an integer sum, so every
    PQ distance (encode argmin, ADC lookup table, distortion) is
    bit-identical in any engine.  Subspace width is ``size(x) div m``."""
    width = (F.size(F.col(x)) / m).cast("int")
    start = (F.lit(j) * width) + 1
    return F.aggregate(
        F.zip_with(
            F.slice(F.col(x), start, width),
            F.slice(F.col(c), start, width),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, d: acc + d,
    )


def _adc_topk(pairs: DataFrame, k: int) -> DataFrame:
    """ADC ranking shared by :func:`pq_adc_topk` and :func:`ivf_adc_topk`:
    ``pairs`` = (query_id, neighbor_id, ld) with one lookup-table distance
    per subspace; sums them to the exact ``adc_dist`` and keeps each
    query's top-k by ascending distance, neighbor id tie-break ->
    (query_id, neighbor_id, rank, adc_dist)."""
    scored = pairs.groupBy("query_id", "neighbor_id").agg(
        F.sum("ld").cast("bigint").alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def _pq_codes_gemm(c: DataFrame, cq: DataFrame, m: int, id_col: str) -> DataFrame:
    """Arrow GEMM encode path: the codebook (tiny by construction — it is
    broadcast everywhere else) is collected ONCE (one small eager job, the
    same materialize-the-small-side trade as ``build_ivf_index``), then the
    corpus streams through ``mapInPandas`` with numpy int64 matrix products
    — ZERO shuffle, map-only, ~10-50x the per-pair interpreted expression
    fold; the realistic encode kernel at 100 TB.

    BIT-IDENTICAL to the expression path: per subspace,
    ``||x-c||^2 = |x|^2 + |c|^2 - 2 x.c`` over the integer lattice is exact
    in int64, and ``argmin`` takes the first occurrence among ties — the
    codebook rows are ordered by ascending dense code, so first == smallest
    code, the same tie-break as the packed ``min(d*PACK + code)``."""
    import numpy as np
    import pandas as pd

    cb_rows = cq.orderBy("cell_id").collect()
    schema = f"{id_col} bigint, " + ", ".join(
        f"code_{j} bigint" for j in range(m)
    )
    if not cb_rows:
        # no centroids -> no codes (the expression path's empty aggregate)
        return (
            c.sparkSession.createDataFrame([], schema)
        )
    C = np.stack([np.asarray(r["cv"], dtype=np.int64) for r in cb_rows])
    code_ids = np.asarray([r["cell_id"] for r in cb_rows], dtype=np.int64)
    bc = c.sparkSession.sparkContext.broadcast((C, code_ids))

    def encode(batches):
        Cb, ids = bc.value
        sub = Cb.shape[1] // m
        csq = [
            (Cb[:, j * sub:(j + 1) * sub] ** 2).sum(axis=1) for j in range(m)
        ]
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.int64)
            out = {id_col: pdf[id_col].to_numpy()}
            for j in range(m):
                Xj = X[:, j * sub:(j + 1) * sub]
                D = (
                    (Xj * Xj).sum(axis=1)[:, None]
                    + csq[j][None, :]
                    - 2 * (Xj @ Cb[:, j * sub:(j + 1) * sub].T)
                )
                out[f"code_{j}"] = ids[D.argmin(axis=1)]
            yield pd.DataFrame(out)

    return c.mapInPandas(encode, schema)


def pq_codes(
    corpus: DataFrame,
    m: int = 8,
    centroid_stride: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    kernel: str = "expr",
) -> DataFrame:
    """Product-quantization codes: each vector's ``m`` subvectors mapped to
    their nearest codebook entry -> (id, code_0..code_{m-1}).

    The memory side of the 100 TB ANN stack (IVF prunes WHERE to look,
    PQ shrinks WHAT is kept: 64 floats -> m small ints per vector).
    Codebooks default to the same deterministic corpus sample as
    ``ivf_topk`` (``id % centroid_stride == 0``) so the whole pipeline is
    oracle-checkable; pass trained ``centroids`` (id_col, vec_col) for
    k-means codebooks via the same seam as IVF.

    Arithmetic is EXACT: vectors quantize to the integer lattice
    (functions/vectors.py), per-subspace L2^2 distances are integer sums,
    and the argmin is ``min(d * 2^20 + cell_id) % 2^20`` — smallest
    distance, smallest cell on ties, bit-identical in any engine.  Codes
    are DENSE codebook ranks 0..n_cells-1 (``_pq_codebook``), safe for any
    corpus id space.  One broadcast of the codebook, one scan of the
    corpus, no other shuffle.

    ``kernel="expr"`` (default) is the fully-lazy Catalyst expression form;
    ``kernel="gemm"`` routes through :func:`_pq_codes_gemm` — an Arrow
    numpy kernel with identical bits, one small eager codebook collect, and
    ~10-50x the encode throughput (parity pinned in tests).
    """
    _check_kernel(kernel)
    cq = _pq_codebook(corpus, centroid_stride, id_col, vec_col, centroids)
    c = _with_quantized(corpus, vec_col, "v").select(F.col(id_col), "v")
    if kernel == "gemm":
        return _pq_codes_gemm(c, cq, m, id_col)
    packed = c.join(F.broadcast(cq), how="cross").select(
        id_col,
        *[
            (_subspace_sq_dist("v", "cv", j, m) * _PQ_PACK + F.col("cell_id"))
            .alias(f"_p{j}")
            for j in range(m)
        ],
    )
    return packed.groupBy(id_col).agg(
        *[
            (F.min(f"_p{j}") % _PQ_PACK).cast("bigint").alias(f"code_{j}")
            for j in range(m)
        ]
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    centroid_stride: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    kernel: str = "expr",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query keeps its
    exact subvectors, each corpus vector is represented ONLY by its codes,
    and distance = sum over subspaces of the query->codebook-entry L2^2 —
    one lookup-table value per (query, subspace, cell), never a corpus
    vector.

    Shapes: the LUT is |queries| x m x n_cells rows built from a broadcast
    codebook; codes join the LUT on (subspace, cell) — corpus embeddings are
    read once to encode and never again, which is the point of PQ.  All
    distances are exact integers -> deterministic ranking (ascending
    distance, neighbor id tie-break), so recall against the brute baseline
    is a pure property of m and the codebook, pinned in tests.
    Returns (query_id, neighbor_id, rank, adc_dist).  ``centroids``
    (id_col, vec_col) switches both encoding and LUT to a TRAINED codebook
    — the kmeans_refine seam, same as :func:`pq_codes`.  Cell ids here are
    the same dense codebook ranks :func:`pq_codes` emits, so the
    (subspace, cell) join keys line up by construction.
    """
    long_codes, lut = _pq_adc_parts(
        corpus, queries, m, centroid_stride, id_col, vec_col,
        query_id_col, centroids, kernel,
    )
    # LUT is |queries| x m x n_cells — bounded by the query batch and the
    # broadcast-sized codebook, NEVER by the corpus — so broadcast it: the
    # corpus codes stream map-side through the join instead of shuffling
    # |corpus| x m rows (the initial planner otherwise picks SMJ because
    # the LUT's size is unknown pre-execution)
    return _adc_topk(long_codes.join(F.broadcast(lut), ["j", "cell_id"]), k)


def _pq_adc_parts(
    corpus: DataFrame,
    queries: DataFrame,
    m: int,
    centroid_stride: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    centroids: DataFrame | None,
    kernel: str,
) -> tuple[DataFrame, DataFrame]:
    """The two halves of ADC scoring, shared by :func:`pq_adc_topk`
    (whole-corpus) and :func:`ivf_adc_topk` (candidate-restricted):
    ``long_codes`` = (neighbor_id, j, cell_id) — each corpus vector's m PQ
    codes melted long; ``lut`` = (query_id, cell_id, j, ld) — every
    query's exact subvector-to-codeword L2^2 table, bounded by the query
    batch x m x codebook size, never by the corpus."""
    cq = _pq_codebook(corpus, centroid_stride, id_col, vec_col, centroids)
    codes = pq_codes(corpus, m=m, centroid_stride=centroid_stride,
                     id_col=id_col, vec_col=vec_col, centroids=centroids,
                     kernel=kernel)
    long_codes = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("j"), F.col(f"code_{j}").alias("cell_id"))
                for j in range(m)
            ])
        ).alias("s"),
    ).select("neighbor_id", F.col("s.j").alias("j"), F.col("s.cell_id").alias("cell_id"))

    q = _with_quantized(queries, vec_col, "qv").select(
        F.col(query_id_col).alias("query_id"), "qv"
    )
    lut_rows = [
        F.struct(F.lit(j).alias("j"), _subspace_sq_dist("qv", "cv", j, m).alias("ld"))
        for j in range(m)
    ]
    lut = (
        q.join(F.broadcast(cq), how="cross")
        .select("query_id", "cell_id", F.explode(F.array(*lut_rows)).alias("s"))
        .select("query_id", "cell_id", F.col("s.j").alias("j"), F.col("s.ld").alias("ld"))
    )
    return long_codes, lut


def ivf_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    m: int = 8,
    centroid_stride: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    kernel: str = "expr",
) -> DataFrame:
    """IVFADC (Jégou, Douze & Schmid, PAMI 2011) — THE production ANN
    arrangement, composed from this module's two existing halves: a coarse
    IVF quantizer prunes each query to its ``nprobe`` nearest cells, and
    PQ asymmetric distance ranks ONLY the candidates inside those cells —
    the corpus is touched as codes (m bytes-ish per vector), never as
    vectors, and only ~nprobe/n_cells of it per query batch.

    Returns (query_id, neighbor_id, rank, adc_dist) — rank ascending by
    exact-integer ADC distance, neighbor tie-break, self excluded.  Recall
    vs the brute baseline is a property of (nprobe, m) — two independent
    knobs: nprobe buys candidate coverage (cells), m buys ranking fidelity
    (code resolution); eval_ivf_recall's harness measures either.

    Shapes at 100 TB: coarse assignment is the same broadcast argmin pass
    ivf_topk documents (persist via build_ivf_index for repeated query
    batches); the candidate set is (query, neighbor) pairs from the probe
    join — the ONLY data-sized join, keyed on the coarse cell; fine
    scoring expands candidates x m and joins the broadcast LUT on
    (query, subspace, code) — cost proportional to candidates, not corpus.
    Determinism: both quantizers are deterministic samples, distances are
    exact integers on the quantized lattice — oracle-hashable end-to-end."""
    cq = _coarse_centroids(corpus, centroid_stride, id_col, vec_col, "ccell")
    c = _with_quantized(corpus, vec_col, "cv", "cn", spread_on=id_col).select(
        F.col(id_col).alias("neighbor_id"), "cv", "cn"
    )
    # the corpus-sided coarse assignment is the query's hottest stage (r14
    # ledger: 118 s task time at the 5x fixture) — kernel="gemm" pays off
    assign = _nearest_cell(c, cq, "neighbor_id", "ccell", kernel=kernel)
    q = _with_quantized(queries, vec_col, "qv", "qn").select(
        F.col(query_id_col).alias("query_id"), "qv", "qn"
    )
    cand = (
        assign.join(F.broadcast(_probe_cells(q, cq, "ccell", nprobe)), "ccell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    long_codes, lut = _pq_adc_parts(
        corpus, queries, m, centroid_stride, id_col, vec_col,
        query_id_col, None, kernel,
    )
    return _adc_topk(
        cand.join(long_codes, "neighbor_id").join(
            F.broadcast(lut), ["query_id", "j", "cell_id"]
        ),
        k,
    )


def ivf_cell_assignments(
    corpus: DataFrame,
    centroid_stride: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "expr",
) -> DataFrame:
    """(id_col, cell_id): each vector's nearest coarse centroid under the
    same deterministic stride-sample quantizer as :func:`ivf_topk` /
    :func:`ivf_adc_topk` — exposed standalone because cell membership is a
    general BLOCKING fabric, not just a query-path detail: semantic dedup
    blocks on it (cells group cosine-similar vectors, so within-cell pair
    generation finds what arbitrary label blocking misses), and any
    per-cluster rollup can group by it.  One broadcast argmin pass, ties
    to the smaller cell id."""
    cq = _coarse_centroids(corpus, centroid_stride, id_col, vec_col)
    c = _with_quantized(corpus, vec_col, "cv", "cn", spread_on=id_col).select(
        F.col(id_col).alias("_nid"), "cv", "cn"
    )
    return _nearest_cell(c, cq, "_nid", "cell_id", kernel=kernel).withColumnRenamed(
        "_nid", id_col
    )


def semantic_incremental_dedup(
    corpus: DataFrame,
    new: DataFrame,
    threshold: float = 0.95,
    centroid_stride: int = 97,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate: bool = True,
    kernel: str = "expr",
) -> DataFrame:
    """INCREMENTAL semantic dedup — the ingestion-flow arrangement: keep
    only the NEW batch's vectors with no cosine near-duplicate (>=
    ``threshold``) in the already-indexed CORPUS.  The embedding-level
    twin of dedup.incremental_dedup's text anti-join, completing the
    matrix: within-corpus semantic dedup exists (IVF-cell blocked pairs),
    incremental text dedup exists (shingle anti-join); this is
    new-vs-corpus at the embedding level.

    The quantizer belongs to the CORPUS: centroids are the corpus's
    deterministic stride sample (the persisted-index posture — a new
    batch reuses the index's cells, it never re-derives its own), both
    sides assign with one broadcast argmin pass, and the only data-sized
    join is new ⋈ corpus keyed on cell_id — candidates restricted to the
    new vector's ``nprobe`` best cells, the standard IVF recall/cost
    knob: nprobe=1 compares each new vector against one cell's corpus
    members (a true near-dup assigned to a neighboring cell is missed —
    at near-dup thresholds cells and duplicates cluster together, the
    dedup_semantic_ivf blocking premise); raising nprobe widens the new
    side's probe fan-out LINEARLY (the corpus side always stays
    single-cell, so corpus bytes never re-shuffle) and converges on the
    exhaustive answer at nprobe = n_cells.

    Corpus and new ids are independent namespaces; on a RE-INGESTED
    vector (same id and payload in both tables) the identity pair is a
    genuine near-dup and the new copy is correctly dropped — no same-id
    exclusion (the decontam exclude_same_id discussion, resolved the
    other way because re-ingest IS the duplicate case here).

    Returns the KEPT subset of ``new`` (all its columns).

    ``validate`` (default TRUE here, unlike the query-path siblings whose
    empty-centroid failure mode is a conspicuously empty result): a corpus
    with no id divisible by ``centroid_stride`` yields zero centroids,
    zero candidates, and a silent NO-dedup that is indistinguishable from
    a legitimate "no duplicates found" — for a dedup gate that is data
    corruption, so the one tiny fail-fast job is on by default; builders
    wiring a pre-validated centroid flow can opt out."""
    # argument validation BEFORE any Spark action (the validate probe is
    # an eager job): a bad nprobe or kernel must not cost a cluster job,
    # nor be masked by the centroid error on an empty-centroid corpus
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    _check_kernel(kernel)
    cq = _coarse_centroids(
        corpus, centroid_stride, id_col, vec_col,
        empty_error=(
            f"semantic_incremental_dedup: corpus has no id divisible by "
            f"centroid_stride={centroid_stride} — zero centroids would "
            f"silently disable deduplication"
        ) if validate else None,
    )

    def cells(df: DataFrame, n: int) -> DataFrame:
        c = _with_quantized(df, vec_col, "cv", "cn", spread_on=id_col).select(
            F.col(id_col).alias("_nid"), "cv", "cn"
        )
        return _nearest_cell(c, cq, "_nid", "cell_id", n=n, kernel=kernel)

    corp = (
        _with_quantized(corpus, vec_col, "qa", "na", spread_on=id_col)
        .select(F.col(id_col).alias("_cid"), "qa", "na")
        .join(cells(corpus, 1).withColumnRenamed("_nid", "_cid"), "_cid")
    )
    newq = (
        _with_quantized(new, vec_col, "qb", "nb", spread_on=id_col)
        .select(F.col(id_col).alias("_nid"), "qb", "nb")
        .join(cells(new, nprobe), "_nid")
    )
    score = V.cosine_from_parts(
        V.dot(F.col("qb"), F.col("qa")), F.col("nb"), F.col("na")
    )
    flagged = (
        newq.join(corp, "cell_id")
        .filter(score >= threshold)
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    return new.join(flagged, id_col, "left_anti")


def embedding_dim_stats(
    corpus: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-DIMENSION moments of an embedding column — the
    feature-normalization statistics (mean-centering, variance scaling,
    dead-dimension detection) an embedding pipeline computes before
    indexing or training a quantizer: (dim, n, sum_q, sumsq_q, mean,
    variance), with ``dim`` 0-based.

    Exactness contract (the module's quantized-lattice policy): values
    quantize to the 1e-4 integer lattice first, so ``sum_q`` and
    ``sumsq_q`` are EXACT integer aggregates — order- and
    partition-independent — and ``mean`` / population ``variance`` are
    fixed IEEE op sequences over those exact integers, bit-identical in
    any engine (a float SUM over raw components would not reproduce).
    Bounds: per-component |q| <= ~2e4 ⇒ ``sumsq_q`` stays inside int64
    for n up to ~2.3e10 vectors per dimension; past that ANSI mode
    raises rather than wrapping.

    Plan: ONE posexplode + one map-side-combined (dim) aggregate — rows
    shuffled = dims x partials, never corpus-sized; output = one row per
    dimension."""
    ex = corpus.select(
        F.posexplode(V.quantize(F.col(vec_col))).alias("dim", "q")
    )
    agg = ex.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sum_q"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sumsq_q"),
    )
    n_d = F.col("n").cast("double")
    s_d = F.col("sum_q").cast("double")
    ss_d = F.col("sumsq_q").cast("double")
    return agg.select(
        F.col("dim").cast("bigint").alias("dim"),
        "n",
        "sum_q",
        "sumsq_q",
        (s_d / n_d / F.lit(float(V.QUANT))).alias("mean"),
        (
            (ss_d - s_d * s_d / n_d)
            / n_d
            / F.lit(float(V.QUANT) * float(V.QUANT))
        ).alias("variance"),
    )


def margin_bitext_pairs(
    emb: DataFrame,
    side_col: str = "label",
    side_a=0,
    side_b=1,
    k: int = 4,
    threshold: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: DataFrame | None = None,
) -> DataFrame:
    """Margin-based bitext / translation-pair mining (r10): for every vector
    on side A, its best cross-side match scored by the MARGIN over each
    side's local neighborhood — the CCMatrix/LASER curation primitive that
    separates "genuinely parallel pair" from "y is just a hub every x is
    close to".

    Margin variant chosen for engine-reproducibility: the k-th-neighbor
    margin ``score = (2·cos(x,y) - kth_a(x)) - kth_b(y)`` where ``kth_a(x)``
    is x's k-th best cross-side cosine (and symmetrically for y) — each term
    is one closing IEEE chain over exact integer dot products, and the
    combination is a fixed-order float expression, so results hash-compare
    across engines.  (The textbook mean-of-k-NN margin needs a float SUM —
    order-dependent, hence unusable under the module's determinism
    contract; the k-th value is the same scale statistic without the sum.)
    With fewer than k cross candidates the margin uses the worst available
    (``min`` over the top-k window), so small pools degrade gracefully
    instead of dropping rows.

    Returns (id_a, id_b, cosine, kth_a, kth_b, score) for each side-A
    vector's forward top-1 candidate with ``score >= threshold``; id ties
    break ascending everywhere.

    Plan: both sides quantize once; the cross-cosine relation S gets TWO
    sort-exchanges (one per side's ranking window); the k-th-cosine tables
    are side-sized and broadcast back onto the top-1 candidates.  S is
    |A|×|B| in exact mode — the right shape for bounded mining pools (a
    language-pair shard), quadratic beyond.  At scale pass ``blocks``
    (id -> cell, e.g. ``ivf_cell_assignments`` against shared centroids):
    S restricts to same-cell pairs, making candidate volume
    sum-of-cell-products, and margins are then computed over the RETRIEVED
    lists — exactly the approximation every production miner (CCMatrix)
    makes when it swaps exhaustive k-NN for ANN retrieval.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    a = _with_quantized(
        emb.filter(F.col(side_col) == side_a), vec_col, "av", "an"
    ).select(F.col(id_col).alias("id_a"), "av", "an")
    b = _with_quantized(
        emb.filter(F.col(side_col) == side_b), vec_col, "bv", "bn"
    ).select(F.col(id_col).alias("id_b"), "bv", "bn")
    if blocks is not None:
        blk = blocks.select(F.col(blocks.columns[0]).alias("_bid"),
                            F.col(blocks.columns[1]).alias("_cell"))
        a = a.join(blk, a["id_a"] == blk["_bid"]).drop("_bid")
        b = b.join(blk, b["id_b"] == blk["_bid"]).drop("_bid")
        s = a.join(b, "_cell").drop("_cell")
    else:
        # exact mode: side B ships broadcast (bounded mining pools are the
        # documented regime), so the cross is a broadcast nested loop —
        # never a CartesianProduct exchange (plan-sweep contract)
        s = a.crossJoin(F.broadcast(b))
    s = s.select(
        "id_a",
        "id_b",
        V.cosine_from_parts(
            V.dot(F.col("av"), F.col("bv")), F.col("an"), F.col("bn")
        ).alias("cosine"),
    )
    wa = Window.partitionBy("id_a").orderBy(
        F.col("cosine").desc(), F.col("id_b").asc()
    )
    wb = Window.partitionBy("id_b").orderBy(
        F.col("cosine").desc(), F.col("id_a").asc()
    )
    ranked = s.withColumn("_ra", F.row_number().over(wa)).withColumn(
        "_rb", F.row_number().over(wb)
    )
    kth_a = (
        ranked.filter(F.col("_ra") <= k)
        .groupBy("id_a")
        .agg(F.min("cosine").alias("kth_a"))
    )
    kth_b = (
        ranked.filter(F.col("_rb") <= k)
        .groupBy("id_b")
        .agg(F.min("cosine").alias("kth_b"))
    )
    cand = ranked.filter(F.col("_ra") == 1).select("id_a", "id_b", "cosine")
    out = (
        cand.join(F.broadcast(kth_a), "id_a")
        .join(F.broadcast(kth_b), "id_b")
        .select(
            "id_a",
            "id_b",
            "cosine",
            "kth_a",
            "kth_b",
            (
                F.lit(2.0) * F.col("cosine") - F.col("kth_a") - F.col("kth_b")
            ).alias("score"),
        )
    )
    return out.filter(F.col("score") >= threshold)


def pq_distortion(
    corpus: DataFrame,
    m: int = 8,
    centroid_stride: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """PQ QUANTIZATION DISTORTION per subspace — the measurement loop for
    the codebook itself (the missing eval twin beside recall: recall says
    whether the ANN stack finds the right neighbors, distortion says how
    much geometry the compression threw away and WHICH subspace is
    responsible, which is what you re-train or re-split on).

    For every vector, each of the ``m`` subvectors is scored against its
    NEAREST codebook entry (the same assignment :func:`pq_codes` encodes —
    per-subspace independent argmin), and the squared L2 residual on the
    exact integer lattice folds per subspace:

        (subspace, n_vecs, sse, mse)

    ``sse`` is an exact BIGINT (integer subvector distances, no float
    anywhere), ``mse = sse / n_vecs`` is ONE closing IEEE division —
    hash-exact across engines.  A trained codebook (``centroids`` seam)
    should strictly dominate the sampled one per subspace; that comparison
    is this operator run twice.

    Scale shape: one broadcast codebook, ONE corpus scan (the same
    cross-join + per-subspace min as encoding — no extra pass over the
    vectors), then an m-row unpivot per vector into a map-side-combined
    aggregate whose output is m rows total.  At 100 TB this piggybacks on
    the encode job: shuffle bytes are m rows per executor partition.
    """
    cq = _pq_codebook(corpus, centroid_stride, id_col, vec_col, centroids)
    c = _with_quantized(corpus, vec_col, "v", norm_out=None, spread_on=id_col).select(F.col(id_col), "v")
    paired = c.join(F.broadcast(cq), how="cross")
    d_cols = [_subspace_sq_dist("v", "cv", j, m).alias(f"_d{j}") for j in range(m)]
    mins = paired.select(id_col, *d_cols).groupBy(id_col).agg(
        *[F.min(f"_d{j}").cast("bigint").alias(f"_m{j}") for j in range(m)]
    )
    long = mins.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("subspace"),
                        F.col(f"_m{j}").alias("md"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("x")
    ).select("x.subspace", "x.md")
    return (
        long.groupBy("subspace")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("md").cast("bigint").alias("sse"),
        )
        .select(
            "subspace",
            "n_vecs",
            "sse",
            (F.col("sse").cast("double") / F.col("n_vecs")).alias("mse"),
        )
    )
