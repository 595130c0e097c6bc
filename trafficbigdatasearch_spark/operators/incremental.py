"""Incremental aggregate maintenance: mergeable exact partials.

The reference recomputes every aggregate from raw CSV on every call
(src/OverSpeedCount.scala:42-136 re-parses each month per query).  At
100 TB the viable shape is the opposite: persist per-partition PARTIAL
aggregate state (count / sum / min / max — all associative+commutative),
and answer queries by MERGING partials, touching history exactly once when
it first lands.  A day's new data re-aggregates only that day; the merged
result is bit-identical to a full rescan (integer/decimal partials carry
no float-order sensitivity).

This is the exact-aggregate sibling of operators/sketches.py (whose HLL /
KLL / frequent-items partials merge the same way for the approximate
measures), and the batch sibling of Structured Streaming's state store —
same algebra, storage-level instead of runtime-level.

Measures supported: count, countd-exact is NOT mergeable (use sketches),
sum (integer cents), min, max.  AVG is derived at finalize time as
sum/count — never stored, so merging stays trivially correct.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partial_aggregate(
    df: DataFrame,
    keys: list[str],
    value_cents,
) -> DataFrame:
    """Collapse one slice (a partition / a day / a backfill chunk) to its
    mergeable partial state per key: (keys..., _n, _sum_c, _min_c, _max_c).
    ``value_cents`` is a Column of exact integer cents (see
    queries/_shared._cents) — integer partials keep every later merge
    order-independent and overflow-checked by ANSI mode."""
    return df.groupBy(*keys).agg(
        F.count("*").alias("_n"),
        F.sum(value_cents).alias("_sum_c"),
        F.min(value_cents).alias("_min_c"),
        F.max(value_cents).alias("_max_c"),
    )


def merge_partials(parts: list[DataFrame], keys: list[str]) -> DataFrame:
    """Merge any number of partial-state frames (different slices of the
    same underlying table) into one combined partial state.  Union + one
    re-aggregate: counts and sums add, mins/maxs re-extremize — the
    textbook commutative-monoid merge, identical to what Spark's own
    partial/final hash aggregate does across partitions."""
    u = reduce(DataFrame.unionByName, parts)
    return u.groupBy(*keys).agg(
        F.sum("_n").alias("_n"),
        F.sum("_sum_c").alias("_sum_c"),
        F.min("_min_c").alias("_min_c"),
        F.max("_max_c").alias("_max_c"),
    )


def additive_partial(
    df: DataFrame,
    keys: list[str],
    value_cents,
    sign: int = 1,
) -> DataFrame:
    """Retraction-capable partial state: (keys..., _n, _sum_c) with an
    optional negative ``sign`` — the delta algebra of incremental view
    maintenance.  Count and sum form a GROUP (they have inverses), so a
    maintained aggregate can apply removals and updates as negated
    partials; min/max only form a monoid (no inverse — a removed minimum
    forces a rescan of its group), which is why :func:`partial_aggregate`'s
    min/max live only in the append-only path."""
    return df.groupBy(*keys).agg(
        (F.count("*") * sign).alias("_n"),
        (F.sum(value_cents) * sign).alias("_sum_c"),
    )


def apply_delta(
    base: DataFrame,
    deltas: list[DataFrame],
    keys: list[str],
) -> DataFrame:
    """Maintain an additive partial-state table under churn: ``base`` plus
    any number of signed :func:`additive_partial` deltas (insertions
    positive, deletions negative, updates = negative-old + positive-new),
    merged by one union + re-aggregate.  Groups whose count reaches zero
    are dropped (the group no longer exists in the maintained view).  At
    100 TB this is the diff-driven refresh: yesterday's aggregate plus
    partials over the CHANGED rows only — the snapshot never rescans."""
    u = base
    for d in deltas:
        u = u.unionByName(d)
    return (
        u.groupBy(*keys)
        .agg(F.sum("_n").alias("_n"), F.sum("_sum_c").alias("_sum_c"))
        .filter(F.col("_n") != 0)
    )


def finalize_additive(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Additive state -> (keys..., n_rows, total, avg_value), the same
    fixed IEEE op sequence as :func:`finalize`."""
    return partials.select(
        *keys,
        F.col("_n").alias("n_rows"),
        (F.col("_sum_c").cast("double") / 100).alias("total"),
        (F.col("_sum_c").cast("double") / 100 / F.col("_n")).alias("avg_value"),
    )


def finalize(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Partial state -> presentation measures: (keys..., n_rows, total,
    avg_value, min_value, max_value).  The avg is the fixed IEEE op
    sequence (exact integer sum -> double, / count) used across the
    registry so any engine reproduces it bit-for-bit."""
    return partials.select(
        *keys,
        F.col("_n").alias("n_rows"),
        (F.col("_sum_c").cast("double") / 100).alias("total"),
        (
            F.col("_sum_c").cast("double") / 100 / F.col("_n")
        ).alias("avg_value"),
        (F.col("_min_c").cast("double") / 100).alias("min_value"),
        (F.col("_max_c").cast("double") / 100).alias("max_value"),
    )
