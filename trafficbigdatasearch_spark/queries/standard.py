"""The driver-contract query registry: every operator class from SURVEY.md §2
plus the beyond-parity pipeline operators, each as a (Spark builder, DuckDB
oracle SQL) pair over the testdata tables.

Cross-engine determinism rules used throughout (the driver hash-compares
values):

- counts / keys / strings: naturally exact.
- money sums: ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`` — decimal
  sums are exact and order-independent, the final double cast is one
  correctly-rounded op; identical in both engines.
- averages: exact decimal sum cast to double, divided by the count — a fixed
  IEEE op sequence.
- similarity scores: quantized integer dot products (functions/vectors.py)
  -> bit-identical doubles.
- every computed column aliased identically on both sides.
"""

from __future__ import annotations

# The registry facade: _shared owns the dict; the std_* modules register
# into it ON IMPORT, in the original top-to-bottom order (registration
# order is load-bearing: the driver verifies the first 50 entries); the
# _WINDOW reorder below then mutates the dict IN PLACE so every
# importer observes the driver ordering.  Helpers live in the module
# that owns them (_shared, std_*); import them from there.  Policy +
# full rotation ledger: ROTATION.md.
from ._shared import _REGISTRY, oracle_sql, queries  # noqa: F401  (re-exported)
from . import std_core  # noqa: F401,E402  isort:skip
from . import std_textsim  # noqa: F401,E402  isort:skip
from . import std_tpch_sampling  # noqa: F401,E402  isort:skip
from . import std_spatial_incr  # noqa: F401,E402  isort:skip
from . import std_olap_quality  # noqa: F401,E402  isort:skip
from . import std_retrieval  # noqa: F401,E402  isort:skip
from . import std_graph_eval  # noqa: F401,E402  isort:skip
from . import std_r11  # noqa: F401,E402  isort:skip
from . import std_r12  # noqa: F401,E402  isort:skip
from . import std_r13  # noqa: F401,E402  isort:skip

_WINDOW = [
    # --- stable flagship slots (22, unchanged from r10: one flagship per
    # capability family; every round re-verifies the load-bearing paths) --
    "p_bbox_filter",
    "j_asof",
    "w_sessionize",
    "pipeline_dedup_corpus",
    "dedup_incremental",
    "text_lang_id",
    "sim_embedding_near_dup",
    "sim_ivf_indexed",
    "sim_pq_adc_topk",
    "mm_phash_pairs",
    "q3_shipping_priority",
    "text_chunk_docs",
    "decontaminate",
    "a_cohort_retention",
    "a_grouping_sets",
    "text_phrase_indexed",
    "j_skew_salted",
    "j_range_keyless",
    "stream_events_hourly",
    "pack_sequences",
    "sketch_distinct_rollup",
    "quality_report",
    # --- rotating slots, round 13 (28): the ROUND-13 QUEUE head, exactly
    # as the r12 close and VERDICT r12 #1/#4 ordered it.  First the 12
    # never-checked r12 registrations (post-freeze rows wait one round,
    # then head the queue; all rehearsed green at sf0.01 AND sf0.1 the
    # session they landed) -------------------------------------------------
    "ts_gapfill_bucketed",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_stock",
    "q12_shipmode_priority",
    "q16_supplier_part_counts",
    "q20_dominant_supplier",
    "q22_global_sales_opportunity",
    "ts_ohlc_bucketed_append",
    "j_user_baseline_bucketed",
    "s_bucket_pruned_lookup",
    # --- changed-code cycle-backs from r12: the span-finder shingle frame
    # (operators/dedup.py duplicated_spans/boilerplate_spans) and
    # decontaminate's fuzzy path (operators/decontam.py) gained lazy
    # localCheckpoints on twice-consumed frames (SCALING.md r12
    # multi-consumer ruling, 1.65x/1.72x) — re-verify on the shipped code --
    "text_dup_spans",
    "text_boilerplate_spans",
    "pipeline_boilerplate_strip",
    "decontaminate_fuzzy",
    # --- stale refresh, twice-slipped (VERDICT r12 #4: the first 3
    # post-queue slots reserved explicitly) --------------------------------
    "j1_equi_join_dims",
    "dedup_simhash",
    "u_union_distinct",
    # --- stale refresh continuation, oldest-first up the ledger (last
    # green r2, then r3, registration order within a round) ----------------
    "j3_or_key_union",
    "sim_brute_topk",
    "sim_lsh_topk",
    "j2_interval_join",
    "j_semi_anti",
    "a_approx_sketches",
    "a_rollup_reagg",
    "w_lag_gap",
    "dedup_exact",
]


assert len(_WINDOW) == 50, len(_WINDOW)


assert set(_WINDOW) <= set(_REGISTRY), sorted(set(_WINDOW) - set(_REGISTRY))


_ordered = {
    **{n: _REGISTRY[n] for n in _WINDOW},
    **{n: v for n, v in _REGISTRY.items() if n not in _WINDOW},
}
_REGISTRY.clear()
_REGISTRY.update(_ordered)
