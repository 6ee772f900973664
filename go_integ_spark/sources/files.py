"""Non-HTTP sources (reference S12: FsStream/DbStream/GeneralStream
are declared-but-unimplemented stubs — sourcedef.go:91-101,
proto.go:338-339 "fs runner not implemented").

In a Spark-native engine these are *first-class*, not stubs: a file
stream is a declarative spec resolved straight to ``spark.read`` —
distributed scans, pushdown and partition pruning come from the
format readers. Included for surface parity and used by the
connector test-suite as a local-source fixture.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_integ_spark.schema.stream import StreamSchema
from go_integ_spark.session import ensure_engine_contract


@dataclass
class FileStream:
    """format: parquet | json (jsonl) | csv | orc | text."""

    schema: StreamSchema
    path: str
    format: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)

    def dataframe(self, spark: SparkSession) -> DataFrame:
        from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

        # Engine-contract confs (nanosAsLong for TIMESTAMP(NANOS)
        # parquet, UTC for the NTZ -> LTZ cast below) — pinned via the
        # single session-contract helper, same as tables.load_table.
        ensure_engine_contract(spark)
        reader = spark.read.format(self.format).options(**self.options)
        if self.format in ("json", "csv"):
            reader = reader.schema(self.schema.struct)
        df = reader.load(self.path)
        cols = []
        for f in self.schema.struct.fields:
            actual = df.schema[f.name].dataType if f.name in df.columns else None
            if isinstance(f.dataType, TimestampType) and isinstance(actual, LongType):
                # TIMESTAMP(NANOS) parquet read as long under
                # nanosAsLong — coerce to the declared micros timestamp.
                cols.append(
                    F.timestamp_micros(F.expr(f"{f.name} div 1000").cast("long")).alias(
                        f.name
                    )
                )
            elif isinstance(f.dataType, TimestampType) and isinstance(
                actual, TimestampNTZType
            ):
                # timestamp[us] parquet inferred as NTZ under Spark 4 —
                # wall-clock-identity cast under the UTC session tz.
                cols.append(F.col(f.name).cast("timestamp").alias(f.name))
            else:
                cols.append(F.col(f.name))
        return df.select(*cols)

    def incremental_dataframe_observed(
        self, spark: SparkSession, state: dict | None, state_key: str = "To"
    ):
        """Zero-extra-job incremental read: the cursor high-water mark
        rides an ``Observation`` on the returned frame, so it is
        computed by WHATEVER action the caller runs (typically the
        write that ships the batch) — the same
        derive-state-from-the-emitting-pass contract the streaming
        sink uses per micro-batch (streaming/pipeline.py). Returns
        ``(df, resolve)``; call ``resolve()`` after the action to get
        the new state dict. At 100 TB this is the difference between
        one scan and two per incremental sync.
        """
        from pyspark.sql import Observation

        cursor = self.schema.cursor_field()
        if cursor is None:
            raise ValueError(f"stream {self.schema.name!r} has no cursor field")
        df = self.dataframe(spark)
        if state and state.get(state_key) is not None:
            df = df.filter(F.col(cursor) > F.lit(state[state_key]))
        obs = Observation()
        df = df.observe(obs, F.max(F.col(cursor)).alias("hi"))

        def resolve() -> dict:
            hi = obs.get["hi"]
            return {
                state_key: hi if hi is not None else (state or {}).get(state_key)
            }

        return df, resolve
