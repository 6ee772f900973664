"""Table sinks: destination modes + PK-aware merge.

Reference parity:
- T3 destination modes ``append`` / ``overwrite``
  (pkg/airbyte/types.go:15-23) -> ``df.write.mode(...)``.
- T5 exactly-once / dedup: the reference declares PK metadata
  (schema.go:7) but "dedup is left to destination" — here the
  destination actually does it: ``merge_upsert`` keeps the latest
  row per primary key across the existing table and the incoming
  batch, using the stream's declared PK + cursor metadata.

Scale notes:
- ``write_table`` supports ``partition_by`` (date/tenant partition
  pruning at read time) and ``bucket_by`` via saveAsTable (co-located
  joins on the PK without a shuffle) — the physical layout decisions
  that matter at 100 TB live here, not in query code.
- ``latest_per_key`` orders rows by a struct max, which requires
  orderable column types (no arrays/maps in the stream schema) —
  true for every connector stream in this repo; it falls back to
  ``dropDuplicates`` when the stream declares no cursor.
- ``merge_upsert`` is the file-format analogue of MERGE INTO: union
  + window-latest-per-key, one shuffle on the PK. On a real
  lakehouse table (Delta/Iceberg) the same call maps to a native
  MERGE; the plan shape (shuffle on PK, keep max-cursor row) is
  identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_integ_spark.schema.stream import StreamSchema

WRITE_MODES = ("append", "overwrite")


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    format: str = "parquet",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    table_name: str | None = None,
    compression: str | None = None,
) -> None:
    """T3: append/overwrite a stream's table (types.go:15-23).

    ``bucket_by=(n, cols)`` requires a metastore table
    (``table_name``): bucketed layouts only exist via saveAsTable.
    """
    if mode not in WRITE_MODES:
        raise ValueError(f"mode {mode!r}; expected one of {WRITE_MODES}")
    w = df.write.format(format).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if compression:
        w = w.option("compression", compression)
    if bucket_by:
        if not table_name:
            raise ValueError("bucket_by requires table_name (saveAsTable)")
        n, cols = bucket_by
        w.option("path", path).bucketBy(n, *cols).sortBy(*cols).saveAsTable(table_name)
        return
    w.save(path)


def latest_per_key(
    df: DataFrame, pk: list[str], cursor: str | None
) -> DataFrame:
    """Keep one row per PK: the max-cursor row (ties broken by
    arbitrary-but-deterministic struct max) or any row when no
    cursor is declared. Implemented as max_by-style aggregation —
    one shuffle on the PK, no window sort."""
    if cursor is None:
        return df.dropDuplicates(pk)
    others = [c for c in df.columns if c not in pk]
    # max_by over a struct ordered by (cursor, rest) is deterministic
    packed = F.struct(F.col(cursor), *[F.col(c) for c in others if c != cursor])
    agg = df.groupBy(*pk).agg(F.max(packed).alias("_row"))
    return agg.select(
        *pk,
        *[F.col(f"_row.{c}").alias(c) for c in ([cursor] + [c for c in others if c != cursor])],
    ).select(df.columns)


def merge_upsert(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    schema: StreamSchema,
    format: str = "parquet",
) -> DataFrame:
    """T5: MERGE-on-PK into a file-format table. Existing rows are
    unioned with the batch and the latest row per declared primary
    key wins (cursor = the stream's iterate-by key when declared).
    Returns the merged frame that was written.
    """
    pk = [f.path for f in schema.primary_key]
    if not pk:
        raise ValueError(f"stream {schema.name!r} declares no primary key")
    cursor = schema.cursor_field()
    # A missing path means "first write"; ask its FileSystem instead of
    # letting a read fail (Spark logs a listener ERROR for a failed
    # query). Any read failure of an existing table (corrupt footer,
    # schema drift, transient IO) must abort BEFORE the destructive
    # overwrite below — swallowing it would silently replace the whole
    # table with one batch.
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        unioned = incoming
    else:
        existing = spark.read.format(format).load(path)
        missing = [c for c in incoming.columns if c not in existing.columns]
        if missing:
            raise ValueError(
                f"merge_upsert schema drift: existing table at {path!r} "
                f"lacks incoming columns {missing}"
            )
        unioned = existing.select(incoming.columns).unionByName(incoming)
    merged = latest_per_key(unioned, pk, cursor)
    # write to a staging layout then atomically repoint would be the
    # lakehouse move; plain parquet needs the overwrite to re-read
    # first, so materialize before overwriting the source of the read
    merged = merged.localCheckpoint(eager=True)
    write_table(merged, path, mode="overwrite", format=format)
    return merged
