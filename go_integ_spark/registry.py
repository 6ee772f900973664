"""Query registry: every implemented operator registers a Spark
query builder plus (where SQL-expressible) a DuckDB oracle.

The driver's correctness gate runs both at sf=0.01 and compares
row-count + schema + order-insensitive value hash, so:

- every computed column is explicitly aliased identically on both
  sides;
- floating-point aggregates are rounded on both sides (same digits)
  to absorb summation-order ULP differences between engines;
- every top-k / limit query carries a total deterministic tie-break.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> rows-only check (non-SQL op)
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, bench=bench)
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import all operator modules so their registrations run."""
    from go_integ_spark.operators import (  # noqa: F401
        advanced,
        curation,
        dedup,
        entity,
        events,
        relational,
        similarity,
        text,
        tpch_ext,
    )
    from go_integ_spark.protocols import distributed  # noqa: F401
    from go_integ_spark.streaming import queries  # noqa: F401

    return REGISTRY
