"""Building a registry row's plan launches no Spark job.

On a warm session (every testdata table's schema already inferred once, see
``catalog.file_schema``, and every shared scratch layout written) a builder
only composes a plan; the plan runs when the caller forces it.  The rows
listed in ``EAGER_AT_BUILD`` run Spark work inside the builder on purpose
(fixpoint loops, trainers, count/collect probes, checkpoints); they are
skipped, which also keeps this test short.
"""

from __future__ import annotations

from trafficbigdatasearch_spark import catalog
from trafficbigdatasearch_spark.queries import standard

_CC = "connected-components fixpoint: checkpoint, count and isEmpty per round"
_GRAPH_LOOP = "graph fixpoint: one checkpoint per round"
_GRAPH_N = "counts the customer nodes and checkpoints the canonical edge list"
_BPE = "BPE merge training: one collect per merge round"
_PQ_CODEBOOK = "collects the PQ codebook for the GEMM encode kernel"
_IVF_PROBE = "isEmpty probe on the IVF coarse centroids"
_CHECKPOINT = "localCheckpoint under AQE runs the checkpointed plan's shuffle stages"
_SIDECAR = "reads its min/max sidecar and probes it with count/collect"
_STREAM = "runs its stream to completion and reads the output back"

#: rows whose builder runs Spark jobs on purpose, and why
EAGER_AT_BUILD = {
    # fixpoints
    "dedup_clusters": _CC,
    "pipeline_dedup_corpus": _CC,
    "sample_split_leakage_free": _CC,
    "graph_cc_incremental": _CC,
    "pipeline_entity_resolution": _CC,
    "pipeline_semantic_dedup": _CC,
    "pipeline_dbscan": _CC,
    "dedup_keep_best": _CC,
    "pipeline_mm_dedup": _CC,
    "graph_component_stats": _CC,
    "eval_split_leakage": _CC,
    "graph_bfs_reach": _GRAPH_LOOP,
    "graph_kcore": _GRAPH_LOOP,
    "graph_label_prop": _GRAPH_LOOP,
    "graph_sssp": _GRAPH_LOOP,
    "graph_pagerank": "power iteration: out-degree counts, one checkpoint per round",
    "graph_ppr": "power iteration: out-degree counts, one checkpoint per round",
    "graph_triangles": _GRAPH_N,
    "graph_clustering_coeff": _GRAPH_N,
    "graph_modularity": _GRAPH_N,
    "graph_assortativity": _GRAPH_N,
    "graph_link_pred": "checkpoints the canonical edge list",
    # trainers
    "text_bpe_merges": _BPE,
    "text_bpe_encode": _BPE,
    "text_bpe_apply": _BPE,
    "pipeline_bpe": _BPE,
    "text_bpe_merges_batched": _BPE,
    "eval_bpe_fertility": _BPE,
    "sim_pq_codes": _PQ_CODEBOOK,
    "sim_pq_adc_topk": _PQ_CODEBOOK,
    "sim_pq_rerank_topk": _PQ_CODEBOOK,
    "sim_pq_trained_topk": "PQ codebook training: a collect and a checkpoint per round",
    "sim_ivf_adc_topk": "collects the coarse centroids and the PQ codebook",
    "sim_kmeans_refine": "k-means refinement: isEmpty probe on the seed centroids",
    "sim_ivf_topk": _IVF_PROBE,
    "eval_ivf_recall": _IVF_PROBE,
    "dedup_semantic_incremental": _IVF_PROBE,
    # persisted layouts
    "s_minmax_skipping": _SIDECAR,
    "s_zorder_skipping": _SIDECAR,
    "stream_partial_maintenance": _STREAM,
    # checkpointed stages and count probes
    "text_dup_spans": _CHECKPOINT,
    "text_boilerplate_spans": _CHECKPOINT,
    "pipeline_boilerplate_strip": _CHECKPOINT,
    "decontaminate_fuzzy": _CHECKPOINT,
    "dedup_jaccard_prefix": _CHECKPOINT,
    "sample_temperature": _CHECKPOINT,
    "a_drift_chi2": _CHECKPOINT,
    "rec_item_cosine": _CHECKPOINT,
    "rec_item_cosine_capped": _CHECKPOINT,
    "rec_user_topn": _CHECKPOINT,
    "rec_eval_holdout": _CHECKPOINT,
    "eval_rec_hdcg": _CHECKPOINT,
    "eval_rec_coverage": _CHECKPOINT,
    "sim_token_cosine": _CHECKPOINT,
    "pipeline_training_mix": _CHECKPOINT,
    "text_collocations": _CHECKPOINT,
    "quality_key_skew": _CHECKPOINT,
    "ts_seasonality": _CHECKPOINT,
    "rec_negatives": "counts the catalog and checkpoints the sampled negatives",
    "sample_triplets": "counts the pair sets and checkpoints each stage",
}

#: rows whose first build in a process writes a scratch layout that later
#: builds, theirs and other rows', only read (the bucketed events table,
#: the appended OHLC table, the bucketed user stats, the bloom bitmap, the
#: ORC copy, the IVF and text indexes, the merge-upsert snapshot and
#: changeset); a later build reads them back through ``catalog.file_schema``
FIRST_BUILD = (
    "ts_gapfill_bucketed",
    "ts_ohlc_bucketed_append",
    "j_user_baseline_bucketed",
    "j_bloom_prefilter",
    "s_orc_roundtrip",
    "sim_ivf_indexed",
    "sim_ivf_append",
    "text_phrase_indexed",
    "text_bm25_indexed",
    "text_bm25_append",
    "stream_merge_upsert",
)


def test_registry_builds_launch_no_jobs(spark, sf_dir):
    qs = standard.queries()
    assert set(EAGER_AT_BUILD) | set(FIRST_BUILD) <= set(qs)
    catalog.load_all(spark, sf_dir)  # warm: every table's schema inferred
    for name in FIRST_BUILD:  # warm: every shared scratch layout written
        qs[name](spark, sf_dir)
    sc = spark.sparkContext
    jobs = {}
    for name, build in qs.items():
        if name in EAGER_AT_BUILD:
            continue
        group = f"test-build-jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            build(spark, sf_dir)
        finally:
            sc._jsc.clearJobGroup()
        # job events reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert {n: j for n, j in jobs.items() if j} == {}
