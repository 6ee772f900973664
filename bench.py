"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
one JSON line with per-query wall seconds.

Each query is materialized via a noop-format write — full plan
execution, no driver collection. A warmup query runs first so
JVM/codegen startup is not billed to the first measured query.

Measurement QA (the three host-noise failure modes that produced
bogus trend points in rounds 3, 5 and 7, and the rule for each):

- **Foreign load at start** — round 3's 47 s artifact was a second
  Spark JVM sharing the box; round 7's committed 29.76 s started at
  load1 8.18 and inflated a contiguous early window 1.4-2.35x while
  late queries ran flat (a decaying external load), against a true
  ~20 s measured twice solo. The start gate is therefore load1 >
  0.15 * ncpus (r7's 0.5 * ncpus gate passed the load-8.18 run) or
  any foreign JVM.
- **Two-run disagreement** (BASELINE.md rule, encoded here): when
  the start gate trips, the harness automatically runs the measured
  loop a SECOND time back-to-back. Every measured pass runs in its
  own SUBPROCESS (``--one-pass``), because that is the only way to
  get a fresh JVM: ``spark.stop()`` + a new session in the same
  python process reuses py4j's surviving gateway JVM, whose
  generated-code cache and JIT state made a same-process re-run
  measure ~25% fast (round 9 found the r8 "fresh JVM" pass 2 was
  exactly this). The faster of the two cold passes is reported; if
  the two totals disagree by >25% the line is marked
  ``"contended": true`` regardless — it must be re-measured solo,
  never recorded as a regression.
- **Host-speed drift** — round 5's driver moved to a 2.1 GHz box and
  everything scaled ~1.45x uniformly. ``cpu_calib_sec`` (fixed
  single-thread numpy workload) fingerprints the host before the
  run and ``cpu_calib_end_sec`` after it; compare
  ``value / cpu_calib_sec`` across rounds, and distrust a run whose
  start/end calibs disagree (frequency shifted mid-run).

The bench is one measured attempt: a contended run is flagged
(``contended: true``, ``trend_point: false``) for a solo re-run, not
retried in place.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _proc_snapshot() -> tuple[dict[int, int], list[int]]:
    """(pid -> ppid map, java pids) from /proc."""
    ppid_of: dict[int, int] = {}
    javas: list[int] = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        pid = int(p)
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid_of[pid] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{p}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0].decode(errors="replace")
        except (OSError, ValueError, IndexError):
            continue
        if "java" in os.path.basename(argv0):
            javas.append(pid)
    return ppid_of, javas


def _is_descendant(pid: int, of: int, ppid_of: dict[int, int]) -> bool:
    cur, hops = pid, 0
    while cur > 1 and hops < 64:
        if cur == of:
            return True
        cur = ppid_of.get(cur, 1)
        hops += 1
    return False


def _own_java_descendants() -> set[int]:
    """Java pids under this bench process right now (the measured
    pass's Spark JVM, via the pass subprocess)."""
    ppid_of, javas = _proc_snapshot()
    me = os.getpid()
    return {p for p in javas if _is_descendant(p, me, ppid_of)}


def _foreign_jvms(own: set[int] = frozenset()) -> list[int]:
    """PIDs of java processes that belong to some OTHER tenant:
    neither descendants of this bench process (the measured pass runs
    Spark in a child) nor in ``own`` — pids observed as ours while a
    pass ran, so a just-exited pass's JVM that lingers a beat after
    its python parent dies (reparented to init) is not misread as
    contention."""
    ppid_of, javas = _proc_snapshot()
    me = os.getpid()
    return [
        p
        for p in javas
        if p not in own and not _is_descendant(p, me, ppid_of)
    ]


def _cpu_calibration() -> float:
    """Seconds for a fixed single-thread numpy loop (deterministic
    input, construction excluded; ~0.5 s on a 2024-class core). A
    host-speed fingerprint: bench totals should be compared across
    rounds relative to this."""
    import numpy as np

    a = np.arange(1_000_000, dtype=np.float64) % 97
    b = (a * 31.0 + 7.0) % 89
    t0 = time.perf_counter()
    acc = 0.0
    for _ in range(60):
        acc += float(a @ b)
        a = (a + b) % 97
    return round(time.perf_counter() - t0, 4)


def classify_run(
    totals: list[float],
    jvms_start: list[int],
    jvms_mid: list[int],
    jvms_end: list[int],
) -> bool:
    """The contended verdict, pure so tests can pin it: evidence of a
    sharing tenant DURING the measurement — foreign JVMs at any
    checkpoint, or two back-to-back cold passes disagreeing >25%
    (BASELINE.md rule). A high start load ALONE is not contention: it
    triggers the second pass, and if both cold passes then agree the
    number is reproducible and the start load was stale decay. A
    non-positive pass total is itself evidence the measurement is
    broken — treat it as contended rather than dividing by it."""
    if any(t <= 0 for t in totals):
        return True
    disagree = (
        len(totals) == 2 and abs(totals[0] - totals[1]) / min(totals) > 0.25
    )
    return bool(jvms_start or jvms_mid or jvms_end) or disagree


def _fresh_session(app_name: str, sf_dir: str, ncpus: int):
    """A new warmed-up Spark session for ONE measured pass. Every
    pass runs in its own PROCESS (``--one-pass`` subprocess): within
    one python process, even ``spark.stop()`` + a new session reuses
    the SAME JVM — py4j's gateway JVM survives stop(), keeping
    Spark's generated-code cache and JIT state warm, which measured a
    same-process second pass ~25% fast (the BASELINE.md same-JVM
    rerun bias). Process isolation is the only real "fresh JVM", and
    it also makes per-process memos (operator cache slots, the gate
    server, stream-source writes) cold for every pass by
    construction.

    Warmup: touch the biggest table so file listing + codegen init
    happen outside the measured section, and run one trivial pandas
    UDF so the Python worker pool + Arrow path spin up here — r6
    found ~2-3 s of worker startup billed to whichever pandas-UDF
    query happened to run first."""
    from pyspark.sql import functions as F

    from go_integ_spark.session import get_spark

    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    _warm = F.pandas_udf(lambda s: s + 1, "long")
    spark.range(0, 32 * 1024, 1, ncpus).select(
        _warm(F.col("id"))
    ).write.format("noop").mode("overwrite").save()
    # ... and one empty 8-partition Python DataSource read, so the
    # DataSource planning/worker path is warm too — otherwise the
    # one-time spin-up of three Python daemons in sequence (0.33-0.37 s
    # each from start to fork with session.py's bytecode zip, 1.10-1.24 s
    # without) bills to the connector headline line (same treatment as
    # the pandas-UDF pool above).
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
    import tempfile

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
    return spark


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


def _one_pass_child(sf_dir: str) -> None:
    """``--one-pass`` mode: ONE cold measured pass in THIS process.
    One-time artifacts the measured lines read from (the connector
    gate HTTP server, the docs stream-source parquet write) are
    started here first, timed, and reported as their own fields —
    cold in EVERY pass, since each pass is a fresh process. Prints
    one JSON object on stdout; per-query progress goes to stderr."""
    from go_integ_spark.registry import load_all

    ncpus = os.cpu_count() or 1
    registry = load_all()
    bench_queries = _ordered_bench_queries(registry)
    spark = _fresh_session("go_integ_spark_bench_pass", sf_dir, ncpus)
    one_time: dict[str, float] = {}
    if "connector_datasource_distributed_read" in bench_queries:
        from go_integ_spark.operators.advanced import _orders_gate_server

        t0 = time.perf_counter()
        _orders_gate_server(sf_dir)
        one_time["connector_gate_server_start_sec"] = round(
            time.perf_counter() - t0, 4
        )
    if "streaming_paragraph_dedup" in bench_queries:
        from go_integ_spark.streaming.queries import _docs_stream_source

        t0 = time.perf_counter()
        _docs_stream_source(spark, sf_dir)
        one_time["stream_source_documents_build_sec"] = round(
            time.perf_counter() - t0, 4
        )
    if "streaming_session_window" in bench_queries:
        from go_integ_spark.streaming.queries import _events_stream_source

        t0 = time.perf_counter()
        _events_stream_source(spark, sf_dir)
        one_time["stream_source_events_build_sec"] = round(
            time.perf_counter() - t0, 4
        )
    for k, v in one_time.items():
        print(f"# {k}: {v:.3f}s", file=sys.stderr)
    timings = _run_pass(spark, registry, bench_queries, sf_dir)
    spark.stop()
    print(json.dumps({"timings": timings, "one_time": one_time}))


def _run_pass_subprocess(sf_dir: str) -> tuple[dict, dict, set[int]]:
    """Run one measured pass in a child process (a genuinely fresh
    JVM — see _fresh_session). Returns (per-query seconds, one-time
    costs, java pids observed as OURS while the child ran — fed back
    into _foreign_jvms so a lingering just-exited JVM of our own is
    never misread as a foreign tenant)."""
    import subprocess

    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--one-pass", sf_dir],
        stdout=subprocess.PIPE,
    )
    out, own = _poll_and_drain(proc)
    if proc.returncode != 0:
        raise RuntimeError(f"measured pass subprocess failed rc={proc.returncode}")
    data = json.loads(out.decode().strip().splitlines()[-1])
    return data["timings"], data["one_time"], own


def _poll_and_drain(proc, observe=None, poll_sleep: float = 1.0):
    """Poll a child while CONCURRENTLY draining its stdout pipe:
    deferring all reading to communicate() deadlocks once the child's
    JSON outgrows the ~64KB pipe buffer (the child blocks on write,
    the parent polls forever). ``observe`` is sampled each poll tick
    (the own-JVM descendant scan); returns (stdout bytes, the union
    of all observations)."""
    import threading

    if observe is None:
        observe = _own_java_descendants
    chunks: list[bytes] = []
    drain = threading.Thread(
        target=lambda: chunks.append(proc.stdout.read()), daemon=True
    )
    drain.start()
    own: set[int] = set()
    while proc.poll() is None:
        own |= observe()
        time.sleep(poll_sleep)
    drain.join()
    proc.stdout.close()
    proc.wait()
    return b"".join(chunks), own


def _measure(sf_dir: str, ncpus: int) -> dict:
    """The measurement: pass 1, the conditional second pass
    (BASELINE.md two-run rule), and the contended verdict. Each pass
    is its own subprocess, so both are the same cold measurement.
    Returns every pass's per-query timings so the committed JSON is
    machine-readable trend evidence, not just a headline total.
    ``own`` collects the java pids seen as ours while a pass ran, so
    pass 1's JVM lingering after its python parent exits is never
    read as a foreign tenant by the later samples."""
    own: set[int] = set()
    jvms_start = _foreign_jvms(own)
    load1_start = os.getloadavg()[0]
    start_flagged = bool(jvms_start) or load1_start > 0.15 * ncpus

    t1, ot1, o1 = _run_pass_subprocess(sf_dir)
    own |= o1
    pass_queries = [t1]
    pass_one_time = [ot1]
    totals = [round(sum(t1.values()), 4)]
    jvms_mid = _foreign_jvms(own)

    if start_flagged or jvms_mid:
        # Auto second pass (BASELINE.md two-run rule): a second cold
        # subprocess, then report the faster pass. >25% total
        # disagreement means the host is actively contended — flag
        # the run either way.
        print(
            f"# start flagged (foreign JVMs start={jvms_start} "
            f"mid={jvms_mid}, load1_start {load1_start:.1f} on {ncpus} "
            f"cpus) — running second back-to-back pass in a fresh "
            f"process",
            file=sys.stderr,
        )
        t2, ot2, o2 = _run_pass_subprocess(sf_dir)
        own |= o2
        pass_queries.append(t2)
        pass_one_time.append(ot2)
        totals.append(round(sum(t2.values()), 4))

    jvms_end = _foreign_jvms(own)
    best = min(range(len(totals)), key=totals.__getitem__)
    return {
        "timings": pass_queries[best],
        "totals": totals,
        "pass_queries": pass_queries,
        "pass_one_time": pass_one_time,
        "one_time": pass_one_time[best],
        "contended": classify_run(totals, jvms_start, jvms_mid, jvms_end),
        "contention": {
            "foreign_jvms_start": len(jvms_start),
            "foreign_jvms_mid": len(jvms_mid),
            "foreign_jvms_end": len(jvms_end),
            "load1_start": round(load1_start, 2),
            "load1_end": round(os.getloadavg()[0], 2),
            "cpus": ncpus,
        },
    }


def main() -> None:
    ncpus = os.cpu_count() or 1
    cpu_calib = _cpu_calibration()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    final = _measure(sf_dir, ncpus)
    contended = final["contended"]
    if contended:
        print(
            "# CONTENDED — this output is NOT a trend point "
            "(trend_point: false); re-run solo",
            file=sys.stderr,
        )
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpu_calib_end = _cpu_calibration()
    # COMPACT final stdout line. Round 11's committed BENCH_r11.json
    # came back ``parsed: null`` because this line had grown (two
    # passes x 20 pass_queries + pass_one_time) past the driver's
    # stdout tail-capture window, truncating the headline fields. The
    # stdout line now carries ONLY what a cross-round trend consumer
    # needs (metric/value/queries/sf/calib x2/contended/trend_point/
    # pass_totals); the per-pass repeat evidence moves to the
    # committed sidecar BENCH_DETAIL_last.json next to this file.
    out = {
        "metric": "headline_queries_total_sec",
        "value": min(final["totals"]),
        "unit": "sec",
        "queries": final["timings"],
        "sf": float(sf),
        "cpu_calib_sec": cpu_calib,
        "cpu_calib_end_sec": cpu_calib_end,
        "contended": contended,
        # The one bit a trend consumer must check: false means the
        # run was contended and "value" is measurement noise.
        "trend_point": not contended,
        "pass_totals": final["totals"],
    }
    # recorded pass's one-time costs as top-level fields too, for
    # consumers of the r8-era connector_gate_server_start_sec key
    out.update(final["one_time"])
    detail = {
        **out,
        # Per-pass per-query seconds for every pass of the run —
        # the back-to-back repeat evidence, machine-readable
        # (VERDICT r8 #2) instead of living only in BASELINE.md prose.
        "pass_queries": final["pass_queries"],
        # Per-pass one-time artifact costs (gate server start, docs
        # stream-source write) — each pass is a fresh process, so
        # these are COLD in every pass and visible per pass.
        "pass_one_time": final["pass_one_time"],
        "contention": final["contention"],
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL_last.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
        print(f"# full per-pass detail written to {detail_path}", file=sys.stderr)
    except OSError as exc:  # read-only checkout: detail on stderr instead
        print(f"# could not write {detail_path}: {exc}", file=sys.stderr)
        print(f"# detail: {json.dumps(detail)}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "--one-pass":
        _one_pass_child(
            sys.argv[2]
            if len(sys.argv) > 2
            else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        )
    else:
        main()
