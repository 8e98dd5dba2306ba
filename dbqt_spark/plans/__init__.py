"""Plan inspection utilities — the engine's `.explain` toolkit.

Used by the plan-regression tests and by developers to verify that a
query keeps the physical properties it was designed for (pushdown,
pruning, broadcast, single-scan).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's scans."""
    out = []
    for line in formatted_plan(df).splitlines():
        m = re.search(r"PushedFilters: \[(.*)\]", line)
        if m:
            out.extend(f.strip() for f in m.group(1).split(",") if f.strip())
    return out


def count_nodes(df: DataFrame, node: str) -> int:
    """Count physical nodes of a kind, e.g. 'Scan parquet', 'Exchange',
    'BroadcastHashJoin' (formatted mode lists each node once)."""
    return len(re.findall(rf"\(\d+\) {re.escape(node)}", formatted_plan(df)))


def plan_summary(df: DataFrame) -> dict:
    return {
        "scans": count_nodes(df, "Scan parquet"),
        "exchanges": count_nodes(df, "Exchange"),
        "broadcast_joins": count_nodes(df, "BroadcastHashJoin"),
        "sort_merge_joins": count_nodes(df, "SortMergeJoin"),
        "expands": count_nodes(df, "Expand"),
        "pushed_filters": pushed_filters(df),
    }
