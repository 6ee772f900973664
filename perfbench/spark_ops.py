"""Spark side of the benchmark: session set-up, the registry ops of the
``curation`` workload, Spark's own counters, and
the DuckDB oracle check.
"""

from __future__ import annotations

import re
import statistics
import time

from go_integ_spark.functions import cache
from go_integ_spark.registry import load_all
from go_integ_spark.session import get_spark
from go_integ_spark.sources.datasource import warmup_datasource
from tests.oracle_utils import compare

from perfbench.spans import span

CURATION = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_bruteforce_topk",
    "er_blocked_fuzzy_parts",
    "streaming_paragraph_dedup",
)


# Engine paths each workload's ops take, warmed up during set-up.
WARM_PATHS = {
    "connector": ("datasource",),
    "curation": ("pandas", "streaming"),
}


def start_session(cpus: int, tmp: str, paths: tuple[str, ...], tracer=None):
    """(spark, start seconds, warm-up seconds). The warm-ups run one
    tiny job through each engine path in ``paths`` (pandas UDF, Python
    DataSource, streaming), so one-time engine start-up is billed to
    set-up rather than to whichever op takes that path first."""
    t0 = time.perf_counter()
    with span(tracer, "session.get_spark"):
        spark = _get_spark(cpus, tmp)
    start = time.perf_counter() - t0
    with span(tracer, "session.warmup"):
        _warm_up(spark, cpus, tmp, paths)
    return spark, start, time.perf_counter() - t0 - start


def _get_spark(cpus: int, tmp: str):
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        # Keep the JVM's scratch files in the run's directory: its temp
        # dir, Spark's block manager, and no hsperfdata file in /tmp.
        # Compiler threads that live as long as the JVM let the run
        # tell JIT CPU time apart (an exited thread's time stays in the
        # process total under no name); their number is the most the
        # JVM would start anyway.
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem "
            "-XX:-UseDynamicNumberOfCompilerThreads",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_up(spark, cpus: int, tmp: str, paths: tuple[str, ...]) -> None:
    from pyspark.sql import functions as F

    if "pandas" in paths:
        plus_one = F.pandas_udf(lambda s: s + 1, "long")
        spark.range(0, 32 * 1024, 1, cpus).select(plus_one("id")).write.format("noop").mode(
            "overwrite"
        ).save()
    if "datasource" in paths:
        warmup_datasource(spark, num_partitions=cpus)
    if "streaming" not in paths:
        return
    src = f"{tmp}/stream_warm"
    spark.range(0, 3).selectExpr("id", "id % 2 AS k").write.parquet(src)
    q = (
        spark.readStream.schema("id long, k long")
        .parquet(src)
        .groupBy("k")
        .count()
        .writeStream.format("memory")
        .queryName("perfbench_warm")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.catalog.dropTempView("perfbench_warm")


def build_shared_inputs(spark, sf_dir: str) -> None:
    """One-time inputs the curation ops share: the docs stream source
    of ``streaming_paragraph_dedup`` and the per-document shingle-set
    cache of ``dedup_minhash_lsh``."""
    from go_integ_spark.operators.dedup import _cached_doc_sets
    from go_integ_spark.streaming import queries
    from go_integ_spark.tables import load_table

    queries._docs_stream_source(spark, sf_dir)
    _cached_doc_sets(load_table(spark, sf_dir, "documents")).write.format("noop").mode(
        "overwrite"
    ).save()


class RegistryOps:
    """Registry ops, each run as a call of its query function plus a
    noop write of the frame it returns. Checking a frame executes it
    again, so only each op's last frame is checked."""

    check_each_run = False

    def __init__(self, spark, sf_dir: str, ops: tuple[str, ...], tracer=None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.ops = ops
        self.tracer = tracer
        self.registry = load_all()
        self.shared_slots = set(cache._slots)
        self.last: dict = {}
        self.split: dict[str, tuple[float, float]] = {}  # op -> (build, write) of its last run
        self.layers: list[dict] = []

    def evict(self) -> None:
        """Drop cache slots made by ops (not the shared set-up ones),
        so the next execution recomputes instead of reading a memo."""
        for slot in set(cache._slots) - self.shared_slots:
            cache._slots.pop(slot)[2].unpersist()

    def run(self, op: str, traced: bool) -> float:
        self.evict()
        fn = self.registry[op].fn
        tracer = self.tracer if traced else None
        t0 = time.perf_counter()
        with span(tracer, "operators.build", op=op):
            df = fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        with span(tracer, "spark.noop_write", op=op):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.last[op] = df
        self.split[op] = (t1 - t0, t2 - t1)
        return t2 - t0

    def extra_layers(self) -> dict[str, float]:
        return {}

    def check(self, op: str) -> str | None:
        """Compare the frame of the op's last execution with its DuckDB
        oracle under the rules of ``tests/oracle_utils.py``: column
        names, row count and every value, rows in any order."""
        ok, why = compare(self.last[op], self.registry[op].oracle, self.sf_dir)
        return None if ok else why


# -- Spark's own counters ------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL = re.compile(r"^([\d.,]+)\s*([A-Za-z]*)")


def _metric_value(text: str) -> float:
    """A status-store metric string ("1,234", "3.5 MiB", or "total
    (min, med, max ...)\\n1.2 s (...)") as a number in bytes, seconds
    or count."""
    line = text.split("\n")[1] if text.startswith("total") else text
    m = _TOTAL.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SqlCounters:
    """Per-operator SQL metrics of the executions since the last call,
    read from Spark's status store (works with the UI disabled)."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.seen = self.store.executionsCount()

    def take(self) -> dict[str, float]:
        self.bus.waitUntilEmpty(30_000)
        out = dict.fromkeys(
            ("python_eval_s", "exchange_bytes", "spill_bytes", "scan_rows", "codegen_s"), 0.0
        )
        execs = self.store.executionsList()
        total = execs.size()
        for i in range(self.seen, total):
            eid = execs.apply(i).executionId()
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                metrics = node.metrics()
                for k in range(metrics.size()):
                    metric = metrics.apply(k)
                    text = values.get(metric.accumulatorId())
                    if not text.isDefined():
                        continue
                    key = _counter_key(name, metric.name())
                    if key:
                        out[key] += _metric_value(text.get())
        self.seen = total
        return out


def _counter_key(node: str, metric: str) -> str | None:
    if metric == "time to run Python workers":
        return "python_eval_s"
    if node == "Exchange" and metric == "shuffle bytes written":
        return "exchange_bytes"
    if metric == "spill size":
        return "spill_bytes"
    if node.startswith(("Scan", "BatchScan")) and metric == "number of output rows":
        return "scan_rows"
    if node.startswith("WholeStageCodegen") and metric == "duration":
        return "codegen_s"
    return None


def streaming_listener(spark):
    """A StreamingQueryListener that keeps each micro-batch's progress
    while ``recording`` is true."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.recording = False
            # (query id, batch ms, state rows, state bytes) per batch
            self.batches: list[tuple[str, float, int, int]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if not self.recording:
                return
            p = event.progress
            ops = p.stateOperators
            self.batches.append(
                (
                    str(p.id),
                    float(p.durationMs.get("triggerExecution", 0)),
                    sum(o.numRowsTotal for o in ops),
                    sum(o.memoryUsedBytes for o in ops),
                )
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def streaming_summary(batches, passes: int) -> dict[str, float]:
    """Per-pass streaming counters: batches, the state each query held
    after its last batch, and the median batch time."""
    last: dict[str, tuple[int, int]] = {}
    for qid, _ms, rows, mem in batches:
        last[qid] = (rows, mem)
    n = max(passes, 1)
    return {
        "streaming.batches": len(batches) / n,
        "streaming.state_rows": sum(r for r, _ in last.values()) / n,
        "streaming.state_mem_bytes": sum(m for _, m in last.values()) / n,
        "streaming.batch_ms_p50": statistics.median([b[1] for b in batches]) if batches else 0.0,
    }
