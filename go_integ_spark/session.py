"""SparkSession construction with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster — AQE on (runtime re-plan,
skew-join splitting, partition coalescing), adaptive broadcast
thresholds, Arrow for any pandas exchange, UTC session timezone so
results are comparable with the DuckDB oracle (duckdb timestamps are
UTC-naive).
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import SparkSession


def ensure_engine_contract(spark: SparkSession) -> None:
    """Pin the two runtime-settable confs the ENGINE CONTRACT requires,
    in one advertised place (every table/file read routes through
    here — tables.load_table, sources.files.FileStream):

    - ``nanosAsLong``: the driver's events.parquet stores
      TIMESTAMP(NANOS), unreadable without it;
    - UTC session timezone: the NTZ -> LTZ normalization cast is only
      a wall-clock identity under UTC — a non-UTC session would
      silently shift instants relative to the DuckDB oracles and
      unix_micros epochs.

    DELIBERATELY permanent, not scoped-and-restored: returned frames
    are lazy, so restoring the timezone before the caller's action
    would re-break the cast. The engine operates in UTC; callers
    mixing these reads with local-time timestamp logic in one session
    are outside the contract (documented in README/STATUS).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# Spark's size suffixes (JavaUtils.byteStringAs) as powers of 1024
# over MiB; a bare spark.driver.memory number is MiB.
_MEM_POW = {"k": -1, "m": 0, "g": 1, "t": 2}


def _mem_gb(mem: str) -> float:
    """Parse a Spark memory string ("48g", "48gb", "512M", "1tb") to
    GiB the way Spark reads spark.driver.memory: whole numbers, any
    suffix case. Unparseable values resolve to 0.0."""
    m = re.fullmatch(r"(\d+)(?:([kmgt])b?)?", mem.strip().lower())
    if m is None:
        return 0.0
    return int(m[1]) * 1024.0 ** _MEM_POW[m[2] or "m"] / 1024.0


def jvm_mem(mem: str) -> str:
    """``mem`` in a form HotSpot's -Xmx/-Xms accept. In local mode
    Spark's launcher passes spark.driver.memory to -Xmx verbatim, and
    the JVM rejects two-letter suffixes ("48gb") and reads a bare
    number as bytes; those become whole MiB. JVM-valid and
    unparseable strings pass through unchanged."""
    if re.fullmatch(r"\d+[kmgt]", mem.strip().lower()) or not _mem_gb(mem):
        return mem
    return f"{math.ceil(_mem_gb(mem) * 1024)}m"


def get_spark(
    app_name: str = "go_integ_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    master = master or f"local[{cpus}]"
    # Local mode: shuffle partitions ~ cores. On a real cluster this is
    # left to AQE (coalescePartitions) with a high initial value.
    shuffle = shuffle_partitions if shuffle_partitions is not None else cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type — read as long and convert in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Accept subset-key hash partitioning for co-partitioned
        # binary ops (cogroup): the block scorers pre-place whole
        # scoring blocks into cost-balanced bins and exchange on the
        # BIN id (functions/blocks.py); bin_id is functionally
        # determined by the grouping keys, so ClusteredDistribution
        # semantics hold and EnsureRequirements must not stack a
        # byte-coalescible full-key exchange on top (r11; plan pins
        # in tests/test_round11_ops.py).
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Shuffle/broadcast/spill codec (guide §2.3/§9): zstd over the
        # lz4 default. A/B'd at the 1000x kNN probe where shuffles are
        # GBs (SMOKE_r14_1000x_knn_codec_{lz4,zstd}.json, adjacent
        # same-window arms): scoring-exchange shuffle bytes -18.9%
        # (6626 -> 5377 MB), wall -13.1%, every codec-touched stage
        # faster (map medians -39%, scoring-stage max task -21%) with
        # no codec-free stage improved — the win is the byte
        # reduction, not window drift. At the 17 MB bench inputs the
        # codec is in the noise either way. A caller that needs lz4
        # (high-entropy payloads) passes it in extra_conf, which is
        # applied last.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.driver.memory", jvm_mem(mem))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
