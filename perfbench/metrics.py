"""Turn one run's samples into the metrics BENCHMARK.json names."""

from __future__ import annotations

import statistics


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _percentile(values: list[float], q: float) -> float:
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))] if v else 0.0


def pass_seconds(run, traced: bool = False, field: str = "seconds") -> float:
    """A warm pass as the sum over ops of each op's median wall seconds
    (or the CPU seconds ``field`` names) in the untraced (or traced)
    warm passes: a slow spell during one execution moves its op's
    median, not the whole figure."""
    return sum(
        median(
            getattr(s, field)
            for s in run.samples
            if s.index > 0 and s.traced == traced and s.op == op
        )
        for op in run.runner.ops
    )


def first_pass_cpu(run) -> float:
    return sum(s.cpu for s in run.samples if s.index == 0)


def end_to_end(run) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, sample count)."""
    n = len(run.warm_passes(traced=False))
    out = {
        "setup_s": (run.setup_s, "s", 1),
        "first_pass_cpu_s": (first_pass_cpu(run), "s", 1),
        "pass_cpu_s": (pass_seconds(run, field="cpu"), "s", n),
        "first_pass_s": (run.first_pass_s, "s", 1),
        "pass_s": (pass_seconds(run), "s", n),
        "peak_rss_mb": (run.peak_rss_mb, "MB", 1),
    }
    if run.args.workload == "connector":
        c = run.runner
        for op, name, records in (
            ("cli_sync", "sync_records_per_s", c.records),
            ("spark_sync", "spark_records_per_s", c.rows["orders"]),
        ):
            times = [s.seconds for s in run.samples if s.index > 0 and s.op == op]
            out[name] = (records / median(times) if times else 0.0, "records/s", len(times))
        out_bytes = len(c.last["cli_sync"]["output"]) if "cli_sync" in c.last else 0
        out["out_bytes_per_record"] = (out_bytes / c.records, "B", 1)
    return out


def per_layer(run, names: list[str]) -> dict[str, float]:
    """Every name in ``names``; a layer the workload does not exercise
    reads 0. Op, Spark and streaming figures are per traced warm pass."""
    v = dict.fromkeys(names, 0.0)
    v.update(run.layer)
    v["process.peak_rss_mb"] = run.peak_rss_mb
    v["first_pass_s"] = run.first_pass_s
    v["first_pass_cpu_s"] = first_pass_cpu(run)
    v["pass_s"] = pass_seconds(run)
    v["jvm.jit_cpu_s"] = pass_seconds(run, field="jit")
    v["jvm.gc_cpu_s"] = pass_seconds(run, field="gc")
    traced = [s for s in run.samples if s.index > 0 and s.traced]
    n_traced = len(run.warm_passes(traced=True))
    for s in run.samples:
        if s.index == 0:
            v[f"{s.op}.first_s"] = s.seconds
    for op in run.runner.ops:
        mine = [s for s in traced if s.op == op]
        if mine and mine[0].split is not None:
            v[f"{op}.build_s"] = median(s.split[0] for s in mine)
            v[f"{op}.exec_s"] = median(s.split[1] for s in mine)
        else:
            v[f"{op}.exec_s"] = median(s.seconds for s in mine)
    for counters in run.counters:
        for k, x in counters.items():
            v[f"spark.{k}"] += x / len(run.counters)
    from perfbench.spark_ops import streaming_summary

    v.update(streaming_summary(run.listener.batches, n_traced))
    for name, seconds in run.tracer.self_times(run.traced_spans).items():
        v[f"self_s.{name}"] = seconds / max(n_traced, 1)
    untraced = pass_seconds(run)
    v["trace_overhead"] = pass_seconds(run, traced=True) / untraced if untraced else 0.0
    if run.args.workload == "connector":
        v.update(_connector_layers(run, traced))
    return {k: v[k] for k in names}


def _connector_layers(run, traced) -> dict[str, float]:
    c = run.runner
    syncs = c.layers
    page_ms = [ms for s in syncs for ms in s["page_ms"]]
    cli = [s.seconds for s in traced if s.op == "cli_sync"]
    cli_untraced = [s.seconds for s in run.samples if s.index > 0 and not s.traced and s.op == "cli_sync"]
    spark = [s.seconds for s in traced if s.op == "spark_sync"]
    out_bytes = median(s["out_bytes"] for s in syncs)
    ndjson = median(s["ndjson_bytes"] for s in syncs)
    return {
        "connector.sync_records_per_s": c.records / median(cli) if cli else 0.0,
        "connector.spark_records_per_s": c.rows["orders"] / median(spark) if spark else 0.0,
        "connector.out_bytes_per_record": out_bytes / c.records,
        "sources.http.requests": median(s["requests"] for s in syncs),
        "sources.http.retries": median(s["retries"] for s in syncs),
        "sources.http.fetch_s": median(s["fetch_s"] for s in syncs),
        "sources.http.page_ms_p50": _percentile(page_ms, 0.50),
        "sources.http.page_ms_p99": _percentile(page_ms, 0.99),
        "sources.source.parse_s": median(s["parse_s"] for s in syncs),
        "protocols.airbyte.encode_s": median(s["encode_s"] for s in syncs),
        "protocols.airbyte.ndjson_bytes": ndjson,
        "engine.compress.write_s": median(s["write_s"] for s in syncs),
        "engine.compress.ratio": ndjson / out_bytes if out_bytes else 0.0,
        "engine.lifecycle.stream_s_max": median(s["stream_s_max"] for s in syncs),
        "engine.lifecycle.busy_share": median(s["busy_share"] for s in syncs),
        "trace_overhead.cli_sync": median(cli) / median(cli_untraced) if cli and cli_untraced else 0.0,
    }
