"""Compute-width partitioning: keep CPU-heavy stages at the session's
shuffle width.

AQE's partition coalescing sizes post-shuffle partitions by BYTES
(``advisoryPartitionSizeInBytes`` / ``minPartitionSize``).  That is the
right cost model for shuffle-bound stages, but the tokenize + shingle +
minhash and GEMM stages of this engine cost CPU *per row* that is orders
of magnitude above their byte footprint: a ~1 MB post-shuffle frame of
(id, text) rows carries seconds of downstream hashing.  Under the byte
model AQE coalesces such an exchange to ONE partition and serializes the
most expensive stage of the plan onto one core while the rest of the
session idles (measured in the r13 stage ledger: every dedup/text row ran
its signature stage at n=1; spreading decontaminate_fuzzy measured
4.69 -> 2.77 s min-of-3 interleaved at sf0.1, identical output).

Two levers, both scale-parameterised (optimization guide §2.5 input
parallelism, §1.2 "fix the distributed algorithm first"):

- :func:`spread` — for exchanges the operator ALREADY pays (the shared
  shingle/term/band exchanges): pass the partition count EXPLICITLY.
  A user-specified count opts that one exchange out of AQE coalescing;
  the value is the session's configured shuffle width, so cluster
  deployments (``spark.sql.shuffle.partitions`` in the thousands) keep
  their sizing — nothing is tuned to the local harness.  Deployments
  whose shuffle width is far above the spread frames' useful parallelism
  cap these exchanges independently with ``spark.tbds.spread.maxPartitions``
  (VERDICT r13 #6; the per-site floor-cost ledger is in SCALING.md).
- :func:`ensure_compute_width` — for CPU-heavy derivations that have NO
  exchange today (corpus tokenization feeding a checkpoint or broadcast
  build): add one ONLY when the input's physical parallelism is below the
  session width.  At scale the scan itself provides the width and the
  text payload must not be reshuffled just to tokenize — the helper is an
  identity there; locally (single-row-group files) it is the difference
  between 1 busy core and all of them.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Optional deployment cap on spread()'s explicit exchange width — for
#: clusters whose global ``spark.sql.shuffle.partitions`` (thousands) far
#: exceeds the useful parallelism of the narrow pre-explode frames these
#: exchanges carry.  Unset locally: the session width IS the right width.
SPREAD_CAP_CONF = "spark.tbds.spread.maxPartitions"


def compute_width(df: DataFrame) -> int:
    """The session's configured shuffle width — the pre-AQE partition count
    every plain exchange gets.  32 under the local harness, thousands under
    the documented cluster profile (SCALING.md).  Non-numeric conf values
    (e.g. ``auto`` under vendor AQE auto-tuning) fall back to the cluster's
    default parallelism instead of crashing plan construction (ADVICE r13)."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        try:
            return int(spark.sparkContext.defaultParallelism)
        except Exception:  # Spark Connect: no sparkContext — Spark's default
            return 200


def _spread_width(df: DataFrame) -> int:
    n = compute_width(df)
    try:
        cap = df.sparkSession.conf.get(SPREAD_CAP_CONF, None)
    except Exception:
        cap = None
    if cap:
        n = min(n, int(cap))
    return n


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition on ``key_cols`` at the session's shuffle width with
    an EXPLICIT partition count, so AQE cannot coalesce the exchange below
    the width of the cluster.  Use for the one shared exchange feeding
    CPU-heavy per-row work; same exchange the keyed ``repartition(col)``
    already paid, minus the byte-model coalesce.  Width is capped by
    ``spark.tbds.spread.maxPartitions`` when set (see module docstring)."""
    return df.repartition(_spread_width(df), *[F.col(c) for c in key_cols])


#: Logical-plan node names that may introduce an exchange (or follow one).
#: ``ensure_compute_width`` only probes physical parallelism via ``.rdd``
#: below plans made of anything OUTSIDE this set — i.e. pure scan-side
#: plans — because under AQE, converting an exchange-bearing DataFrame to
#: an RDD finalizes the adaptive plan and EAGERLY RUNS its shuffle stages
#: as real jobs, which the later action then recomputes (ADVICE r13).
_EXCHANGE_NODES = re.compile(
    r"\b(Join|Aggregate|Repartition|RepartitionByExpression|Rebalance|"
    r"Sort|Window|Deduplicate|Distinct|Intersect|Except|GlobalLimit|"
    r"CoGroup|FlatMapGroups|MapGroups)\w*\b"
)


def _scan_side_plan(df: DataFrame) -> bool:
    """True when the analyzed logical plan cannot contain an exchange —
    scans, filters, projections, generators, local/checkpointed relations.
    Conservative: unknown shapes count as exchange-bearing (no probe)."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # Spark Connect: no _jdf — skip the probe entirely
        return False
    return _EXCHANGE_NODES.search(plan) is None


def _reads_bucketed_table(df: DataFrame) -> bool:
    """True when a leaf of ``df``'s plan is a bucketed file-source table.
    Its bucket layout already clusters rows on the bucket keys, and Spark
    keeps the scan bucketed only while no exchange sits between it and the
    operators the bucketing serves — a repartition above it switches the
    bucketed scan off and brings back every shuffle the layout removed.
    The ``.rdd`` probe cannot see this: planned bare, with no consumer of
    its bucketing, the scan reports its file-split count instead."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        try:
            if leaves.apply(i).relation().bucketSpec().isDefined():
                return True
        except Py4JError:  # not a file-source relation: no bucket layout
            continue
    return False


def ensure_compute_width(df: DataFrame, *key_cols: str) -> DataFrame:
    """:func:`spread`, but ONLY when ``df``'s physical parallelism is below
    the session width (single-row-group local files; a coalesced upstream).
    Identity when the input is already wide — at 100 TB the scan supplies
    the parallelism and the payload is not reshuffled.

    The ``.rdd`` parallelism probe is restricted to scan-side plans: on a
    plan with joins/aggregates/repartitions the probe would finalize the
    adaptive plan and eagerly execute its shuffle stages (recomputed at
    action time — ADVICE r13), and such a plan's exchange already starts
    at the session width pre-AQE, so the helper passes it through.  Also a
    pass-through on streams (no static partition count to probe), on
    bucketed tables (the exchange would undo the bucket layout — see
    :func:`_reads_bucketed_table`) and on sessions without a probe surface
    (Spark Connect)."""
    if df.isStreaming:
        # no static partition count to probe (.rdd is illegal on a stream);
        # micro-batch parallelism is the source's / state shuffle's concern
        return df
    if not _scan_side_plan(df) or _reads_bucketed_table(df):
        return df
    n = compute_width(df)
    try:
        if df.rdd.getNumPartitions() >= n:
            return df
    except Exception:  # Connect or an unprobable plan — leave untouched
        return df
    return df.repartition(n, *[F.col(c) for c in key_cols])
