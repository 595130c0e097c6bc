"""Physical-plan inspection utilities (the ".explain and iterate" loop).

Used by tests to PIN the plan properties that matter at 100 TB — pushdown
reaching the scan, dims broadcast, no stray exchanges — so a refactor that
silently degrades the plan fails CI, not the cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries of every scan in the plan."""
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        out += [f.strip() for f in m.group(1).split(",") if f.strip()]
    return out


def read_schemas(df: DataFrame) -> list[str]:
    return re.findall(r"ReadSchema: (\S+)", formatted_plan(df))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_nested_loop_join(df: DataFrame) -> bool:
    return "BroadcastNestedLoopJoin" in formatted_plan(df) or "CartesianProduct" in (
        formatted_plan(df)
    )


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (not broadcast exchanges) in the plan.
    Formatted mode prints the node header ``(N) Exchange`` with its
    partitioning on a separate Arguments line."""
    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) Exchange\s*$", plan, re.M))
