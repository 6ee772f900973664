"""Loading the driver-generated analytics tables (TESTDATA.md).

Parquet scans are the scale path: Catalyst pushes filters and prunes
columns into the scan (check ``PushedFilters`` / ``ReadSchema`` in
``df.explain``), and file splitting gives free parallelism. At 100 TB
these tables would be partitioned/bucketed on their join keys; the
query code below never assumes single-file inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from go_integ_spark.session import ensure_engine_contract

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # Runtime-settable engine-contract confs (nanosAsLong + UTC) live
    # in ONE advertised place — see its docstring for why the
    # mutation is deliberately permanent.
    ensure_engine_contract(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return _normalize_timestamps(df)


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Coerce every timestamp column to Spark's TIMESTAMP (LTZ).

    The driver's parquet has shipped two layouts across rounds:
    TIMESTAMP(NANOS) (arrives as long ns under nanosAsLong — only the
    events ``ts`` column, which is why the long branch is name-gated:
    every join/key column is also a long and must not be touched) and
    plain timestamp[us] (arrives as TIMESTAMP_NTZ under Spark 4's NTZ
    inference — matched by dtype across ALL columns, so l_shipdate /
    o_orderdate / ts get one uniform LTZ semantics instead of
    per-call-site casts). Event-time streaming (withWatermark) and
    epoch functions (unix_micros) require TIMESTAMP; under the UTC
    session timezone (pinned in load_table) the NTZ -> LTZ cast is a
    wall-clock identity, which keeps DuckDB-naive oracle comparisons
    byte-stable.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for f in df.schema.fields:
        if f.name == "ts" and isinstance(f.dataType, LongType):
            # legacy TIMESTAMP(NANOS) layout: truncate ns -> us (the
            # same truncation DuckDB applies surfacing ns values).
            df = df.withColumn(
                f.name,
                F.timestamp_micros(F.expr(f"{f.name} div 1000").cast("long")),
            )
        elif isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df
