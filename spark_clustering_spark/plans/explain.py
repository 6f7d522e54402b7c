"""Physical-plan inspection helpers.

The scale contract (SURVEY.md §4) is enforced here, not hoped for:
filters must reach the parquet scan as PushedFilters, projections must
prune ReadSchema, small-side joins must be BroadcastHashJoin, and
aggregations must plan the partial/final HashAggregate pair. The test
suite (tests/test_plans.py) asserts these properties on the declared
queries so a regression in plan shape fails CI like a wrong result
would.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _explain(df: DataFrame, mode: str) -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def formatted_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter predicates that reached a parquet scan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        out.extend(p.strip() for p in m.group(1).split(",") if p.strip())
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the (first) parquet scan."""
    m = re.search(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))
    if not m:
        return []
    return [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]


def has_node(df: DataFrame, node: str) -> bool:
    return node in formatted_plan(df)


def count_node(df: DataFrame, node: str) -> int:
    return formatted_plan(df).count(node)


def num_shuffles(df: DataFrame) -> int:
    return count_node(df, "Exchange")


def broadcast_subtrees(df: DataFrame) -> list[str]:
    """The text of the (sub)plan under each BroadcastExchange — lets a
    contract assert WHAT gets broadcast, not just that one exists: a
    broadcast of a constant-sized Range/meta table is fine at any
    scale, a broadcast whose subtree scans a data table grows with the
    data and dies at 100×. Inspects the executedPlan (where
    EnsureRequirements has inserted the exchanges — sparkPlan() shows
    the join strategy but not the BroadcastExchange nodes); for an
    unexecuted AQE query this is the initial physical plan, i.e. the
    static planner's choice."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()

    def depth(ln: str) -> int:
        m = re.search(r"[:+]- ", ln)
        return m.start() if m else -1

    out: list[str] = []
    i = 0
    while i < len(lines):
        if "BroadcastExchange" in lines[i]:
            d = depth(lines[i])
            j = i + 1
            while j < len(lines) and depth(lines[j]) > d:
                j += 1
            out.append("\n".join(lines[i:j]))
            i = j
        else:
            i += 1
    return out
