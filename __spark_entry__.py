"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every registered operator
from go_integ_spark, in name order, for the driver's DuckDB
correctness gate (``oracle_sql()`` lists only the ops with an oracle).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from go_integ_spark.registry import load_all


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on sf0.001."""
    registry = load_all()
    return registry["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    registry = load_all()
    return {name: registry[name].fn for name in sorted(registry)}


def oracle_sql() -> dict[str, str]:
    registry = load_all()
    return {
        name: registry[name].oracle
        for name in sorted(registry)
        if registry[name].oracle is not None
    }
