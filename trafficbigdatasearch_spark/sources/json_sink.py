"""JSON result sink (SURVEY.md §2.1 S9).

The reference serializes every query result to a ``java.util.List`` of JSON
strings on the driver (src/TrafficStatistics.scala:25-35;
src/AccidentStatistics.scala:105,107). The engine keeps DataFrames as the
internal currency and serializes only at the facade boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def to_json_rows(df: DataFrame) -> list[str]:
    """Row-per-JSON-string, computed JVM-side via ``to_json(struct(*))`` —
    the driver only receives the final strings (no Python-side encoding)."""
    return [r[0] for r in df.selectExpr("to_json(struct(*))").collect()]
