"""Physical-plan inspection helpers.

The scale contract of every operator in this repo is a *plan shape*,
not just a result: filters pushed into the parquet scan, dims
broadcast instead of shuffled, top-k as TakeOrderedAndProject instead
of a global sort, aggregates with a map-side partial pass. These
helpers read the executed/optimized plan text so tests can pin those
properties — a correctness suite for the 100 TB story that the
row-level oracle can't see.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Final physical plan text (AQE plan as initially planned —
    runtime re-planning may still improve it, never worsen it)."""
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's file scans."""
    out: list[str] = []
    for line in executed_plan(df).splitlines():
        if "PushedFilters: [" in line:
            body = line.split("PushedFilters: [", 1)[1].split("]", 1)[0]
            out.extend(p.strip() for p in body.split(",") if p.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings of every file scan (column pruning
    evidence: a scan reading columns the query never uses is a bug)."""
    out = []
    for line in executed_plan(df).splitlines():
        if "ReadSchema: " in line:
            out.append(line.split("ReadSchema: ", 1)[1].strip())
    return out


def count_op(df: DataFrame, op: str) -> int:
    """Occurrences of a physical operator (e.g. 'BroadcastHashJoin',
    'Exchange hashpartitioning', 'SortMergeJoin') in the plan."""
    return executed_plan(df).count(op)


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the initial physical plan
    (AQE may later coalesce partitions but not remove exchanges)."""
    plan = executed_plan(df)
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    ) + plan.count("Exchange RoundRobinPartitioning")
