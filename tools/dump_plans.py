#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plan of each headline query,
plus a one-line quality summary (pushed filters / broadcasts / exchanges).

The plans are the evidence for the 100 TB posture claims — run after any
operator change: ``python tools/dump_plans.py``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from trafficbigdatasearch_spark.queries import standard
from trafficbigdatasearch_spark.session import build_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")


def summarize(plan: str) -> str:
    counts = {
        "broadcast joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sort-merge joins": len(re.findall(r"SortMergeJoin", plan)),
        "shuffle exchanges": len(re.findall(r"Exchange hashpartitioning", plan)),
        "codegen spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
    }
    return ", ".join(f"{v} {k}" for k, v in counts.items() if v)


#: Hand-maintained prose notes rendered under the matching query heading —
#: survives regeneration (the generator owns the file).
NOTES = {
    "dedup_clusters": """Round-4 fixpoint-loop tightening (operators/graph.py): a small-star
PRE-PASS replaces the initial distinct (near-dup pair sets are dominated by
tiny LSH-bucket clusters, which one small-star contracts to their final
star immediately), so the loop typically CONFIRMS in one round instead of
contracting in round one and confirming in round two; checkpoints are lazy
so each round's count() doubles as the materialization (one job per round,
not two); and large-star filters `v > u` before its join (halves the probe
side).  Measured same-session A/B on the isolated CC section at sf0.1
(pairs pre-checkpointed, 5 reps): 1.42 s -> 1.26 s min, 1.57 -> 1.27
median.  The full bench row moves less (~4%) because LSH pair GENERATION —
whose md5/minhash semantics are pinned by the oracle — now dominates the
row on this hardware; the loop itself runs 4 driver-synced jobs total
(pre-pass count, round count, fixpoint probe, label write) for any
LSH-shaped input.""",
    "sim_pq_codes": """Round 4: encode runs through the Arrow GEMM kernel
(`pq_codes(kernel="gemm")`) — codebook collected once (tiny), corpus
streams map-only through `mapInPandas` with numpy int64 subspace
distances; bit-identical to the packed-argmin expression path (parity
pinned), zero shuffle, ~4x the encode throughput.  The mapInPandas plan
below therefore shows no join for the codebook side.""",
    "sim_pq_trained_topk": """Round 4: the trainer materializes its tiny
codebook per Lloyd iteration (exponential-lineage guard) and runs each
assignment pass through the IVF coarse-assignment GEMM kernel
(`similarity._nearest_cell`, max-cosine argmax), not the encoder's
per-subspace L2 kernel; encoding and the ADC LUT both consume the trained
codebook through the standard `centroids` seam.""",
}


def main() -> None:
    spark = build_spark(app_name="tbds-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = standard.queries()
    lines = [
        "# PLANS — headline-query physical plans",
        "",
        f"Generated by `tools/dump_plans.py` over `{SF_DIR}` "
        "(Spark `explain formatted`, AQE initial plans).  The plan-quality",
        "invariants that must hold are pinned in `tests/test_plans.py`; this file is the",
        "human-readable evidence: filters pushed to the parquet scans, pruned read",
        "schemas, broadcast dims, bounded exchange counts, whole-stage codegen spans.",
        "",
    ]
    for name in HEADLINE:
        df = qs[name](spark, SF_DIR)
        qe = df._jdf.queryExecution()
        plan = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        simple = qe.executedPlan().toString()
        lines.append(f"## {name}")
        lines.append("")
        s = summarize(simple)
        if s:
            lines.append(f"_{s}_")
            lines.append("")
        if name in NOTES:
            lines.append(NOTES[name])
            lines.append("")
        lines.append("```")
        # the operator tree section only (drop the verbose per-node details
        # past the first blank-line separator to keep the file reviewable)
        tree = plan.split("\n\n")[0]
        lines.append(tree.rstrip())
        lines.append("```")
        lines.append("")
    with open(OUT, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {OUT} ({len(HEADLINE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
