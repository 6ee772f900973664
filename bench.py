"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
one JSON line with per-query wall seconds.

One run is one cold pass in this process:

1. build the session and warm it (a parquet scan, a pandas UDF, an
   empty Python DataSource read and a throwaway streaming query), so
   session-level start-up is not billed to the first measured query;
2. build the one-time artifacts some lines read from (the connector
   gate HTTP server, the stream-source parquet copies), each timed
   into its own ``*_sec`` field;
3. run every headline query twice, cold then warm, through a noop
   write (the full physical plan, no driver collection). A query's
   line is its warm time; the signed sum of cold - warm over the set
   is the ``plan_warmup`` line, and the shared shingle-set cache is
   billed to ``dedup_shingle_cache_build``.

``value`` is the sum of the ``queries`` lines. The process itself is
the fresh JVM: py4j's gateway JVM outlives ``spark.stop()``, so a
second pass in the same process would reuse its generated-code cache
and JIT state and read fast, while a new ``python bench.py`` starts
its own JVM and empty per-process memos (operator cache slots, the
gate server, stream-source writes). Comparing two builds therefore
means alternating whole runs of each in the same window.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _fresh_session(sf_dir: str, ncpus: int):
    """A new warmed-up Spark session for the measured pass.

    Warmup: touch the biggest table so file listing + codegen init
    happen outside the measured section, and run one trivial pandas
    UDF so the Python worker pool + Arrow path spin up here — r6
    found ~2-3 s of worker startup billed to whichever pandas-UDF
    query happened to run first."""
    from pyspark.sql import functions as F

    from go_integ_spark.session import get_spark

    spark = get_spark(app_name="go_integ_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    _warm = F.pandas_udf(lambda s: s + 1, "long")
    spark.range(0, 32 * 1024, 1, ncpus).select(
        _warm(F.col("id"))
    ).write.format("noop").mode("overwrite").save()
    # ... and one empty 8-partition Python DataSource read, so the
    # DataSource planning/worker path is warm too — otherwise the
    # one-time spin-up of three Python daemons in sequence (each one's
    # pyspark imports take 0.37 s from session.py's bytecode directory,
    # 1.27 s from Spark's source zip) bills to the connector headline
    # line (same treatment as the pandas-UDF pool above).
    from go_integ_spark.sources.datasource import warmup_datasource

    warmup_datasource(spark)
    # ... and one trivial streaming query (3-row parquet source ->
    # groupBy count -> memory sink, availableNow), so the streaming
    # ENGINE is warm: MicroBatchExecution, state-store provider,
    # offset/commit-log classes and the streaming codegen
    # infrastructure are all first-touched here instead of billing
    # ~1.4-3 s of session-level class-loading to whichever streaming
    # headline query runs first (r14 probe:
    # streaming_session_window's cold-warm delta 2.7/4.9 s without this
    # warm vs 1.3/1.8 s with it, ABAB arms). The warm plan is a plain
    # hash-aggregate over a throwaway 3-row source — a DIFFERENT shape
    # from every measured streaming query (session_window,
    # dropDuplicates-after-explode), so no measured plan is
    # pre-executed; same treatment as the two warms above.
    warm_src = tempfile.mkdtemp(prefix="sg_bench_stream_warm_")
    warm_df = spark.range(0, 3).select(
        F.col("id"), (F.col("id") % 2).alias("k")
    )
    warm_df.write.mode("overwrite").parquet(warm_src)
    q = (
        spark.readStream.schema(warm_df.schema)
        .parquet(warm_src)
        .groupBy("k")
        .count()
        .writeStream.format("memory")
        .queryName("bench_stream_warm")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.catalog.dropTempView("bench_stream_warm")
    shutil.rmtree(warm_src, ignore_errors=True)
    return spark


def _one_time_builds(spark, sf_dir: str, bench_queries: list[str]) -> dict[str, float]:
    """Start the artifacts the measured lines read from, timed: the
    connector gate HTTP server and the stream-source parquet writes.
    Each is built once per process, so the measured lines find them
    ready and each cost is reported as its own field."""
    from go_integ_spark.operators.advanced import _orders_gate_server
    from go_integ_spark.streaming.queries import (
        _docs_stream_source,
        _events_stream_source,
    )

    builds = [
        (
            "connector_datasource_distributed_read",
            "connector_gate_server_start_sec",
            lambda: _orders_gate_server(sf_dir),
        ),
        (
            "streaming_paragraph_dedup",
            "stream_source_documents_build_sec",
            lambda: _docs_stream_source(spark, sf_dir),
        ),
        (
            "streaming_session_window",
            "stream_source_events_build_sec",
            lambda: _events_stream_source(spark, sf_dir),
        ),
    ]
    one_time: dict[str, float] = {}
    for query, key, build in builds:
        if query not in bench_queries:
            continue
        t0 = time.perf_counter()
        build()
        one_time[key] = round(time.perf_counter() - t0, 4)
        print(f"# {key}: {one_time[key]:.3f}s", file=sys.stderr)
    return one_time


def _run_pass(spark, registry, bench_queries, sf_dir) -> dict[str, float]:
    """One measured pass over the headline set. Returns per-query
    wall seconds (plus the separately-billed shingle-cache line)."""
    timings: dict[str, float] = {}
    # The shared per-doc shingle-set cache is a ONE-TIME build that
    # four dedup queries reuse; billed to its own line so the LSH
    # number measures LSH (r1-r5 billed it to dedup_minhash_lsh,
    # which made that line's trend unreadable — VERDICT r5 item 5).
    if "dedup_minhash_lsh" in bench_queries:
        from go_integ_spark.operators.dedup import _cached_doc_sets
        from go_integ_spark.tables import load_table

        t0 = time.perf_counter()
        _cached_doc_sets(
            load_table(spark, sf_dir, "documents")
        ).write.format("noop").mode("overwrite").save()
        timings["dedup_shingle_cache_build"] = round(time.perf_counter() - t0, 4)
        print(
            f"# dedup_shingle_cache_build: "
            f"{timings['dedup_shingle_cache_build']:.3f}s",
            file=sys.stderr,
        )

    # Per-plan warmup billing (VERDICT r10 #2): each headline query
    # runs twice and its line reports the SECOND (steady-state)
    # execution; the summed first-minus-second delta is billed to one
    # named ``plan_warmup`` line. First calls carry per-plan one-time
    # state — codegen JIT for that plan shape, that query's pandas
    # kernel's first Arrow batch, page-cache first touch — which r9/r10
    # proved environment-dependent (ann_bruteforce_topk read 1.3-2.8 s
    # cold across sessions on byte-identical code, ~1.0-1.3 s warm,
    # every time), making cold per-query lines unreadable as trend
    # points. The headline total still includes the full warmup cost
    # via the plan_warmup line, so totals stay honest; the session-
    # level warmup (_fresh_session) is unchanged and unbilled.
    from go_integ_spark.functions import cache

    plan_warmup = 0.0
    for name in bench_queries:
        spec = registry[name]
        slots_before = set(cache._slots)
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        # noop sink: executes the full physical plan (nothing is
        # optimized away, unlike count()) without driver collection.
        df.write.format("noop").mode("overwrite").save()
        cold = time.perf_counter() - t0
        # Evict any single-slot caches THIS query created (e.g.
        # dedup_minhash_lsh memoizes its verified-pair frame): the
        # warm run must re-execute the plan, not serve the memo.
        # Slots that existed before (the separately-billed shingle
        # cache, stream-source memos) stay — they are warm for both
        # runs by design.
        # CONSTRAINT (bench=True eligibility): this eviction only sees
        # go_integ_spark.functions.cache._slots. A query that memoizes
        # through a plain module-level dict (e.g. streaming/queries.py's
        # _FB_MERGE) must NOT be flagged bench=True unless its memo is
        # keyed so the warm run re-executes, or it grows a reset hook
        # this loop can call — otherwise its warm line serves the memo
        # and the real cost silently migrates into plan_warmup.
        for slot in set(cache._slots) - slots_before:
            cache._slots.pop(slot)[2].unpersist()
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        warm = time.perf_counter() - t0
        # signed accumulation: per-query noise (warm slightly above
        # cold) cancels across the set instead of inflating the line
        plan_warmup += cold - warm
        timings[name] = round(warm, 4)
        print(
            f"# {name}: {timings[name]:.3f}s (cold {cold:.3f}s)",
            file=sys.stderr,
        )
    timings["plan_warmup"] = round(max(0.0, plan_warmup), 4)
    print(f"# plan_warmup: {timings['plan_warmup']:.3f}s", file=sys.stderr)
    return timings


def _ordered_bench_queries(registry) -> list[str]:
    bench_queries = [name for name, spec in registry.items() if spec.bench]
    # Bill the shared shingle-set build to its natural owner:
    # dedup_minhash_lsh builds + caches the per-doc shingle sets that
    # dedup_ngram_jaccard then reuses, so it must run first — otherwise
    # the jaccard line absorbs the whole one-time build cost.
    if "dedup_minhash_lsh" in bench_queries and "dedup_ngram_jaccard" in bench_queries:
        bench_queries.remove("dedup_minhash_lsh")
        bench_queries.insert(
            bench_queries.index("dedup_ngram_jaccard"), "dedup_minhash_lsh"
        )
    return bench_queries


def main() -> None:
    from go_integ_spark.registry import load_all

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    bench_queries = _ordered_bench_queries(registry)
    spark = _fresh_session(sf_dir, os.cpu_count() or 1)
    one_time = _one_time_builds(spark, sf_dir, bench_queries)
    timings = _run_pass(spark, registry, bench_queries, sf_dir)
    spark.stop()
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
        **one_time,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
