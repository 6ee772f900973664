"""100x connector extract probe: long-pagination distributed read.

VERDICT r11 item 7: `connector_datasource_distributed_read` is only
measured at sf0.1 (150k rows, 300 pages, 8 strides). This probe
serves a synthetic 100x orders API — N_ROWS (default 2M) rows in
500-row pages (the gate page size), i.e. ~4,000-page pagination
chains — and reads it through the SAME Python DataSource stride path
(sources/datasource.py) at increasing executor fan-out, to show
extract throughput scales with stride count as claimed.

Every page body is PRE-serialized before any measurement (the gate
server's page cache warmed up front), so the toy Python server costs
each run identically — the measured deltas are the client extract
path. Each run re-validates exactness: row count, distinct-key
count, and the closed-form key checksum — the distributed fan-out
must lose/duplicate nothing at every stride count.

Run: python scripts/probe_connector_scale.py
Env: CONNECTOR_ROWS (default 2_000_000), SMOKE_OUT (summary JSON).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import smoke_scale as sm  # noqa: E402
from bench import _cpu_calibration  # noqa: E402

N_ROWS = int(os.environ.get("CONNECTOR_ROWS", "2000000"))
PAGE = 500  # the gate page size (advanced._gate_paginator)
STRIDES = (2, 8, 32)
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _record(i: int) -> dict:
    return {
        "o_orderkey": i,
        "o_custkey": (i * 2654435761) % 1_000_000,
        "o_orderstatus": "OFP"[i % 3],
        "o_orderpriority": PRIORITIES[i % 5],
    }


def start_server() -> int:
    """Paginated HTTP fixture over the synthetic rows, every page
    body serialized up front (build time reported separately).

    Served from CONNECTOR_WORKERS independent PROCESSES sharing one
    SO_REUSEPORT listen port (r13, VERDICT r12 item 8): the r12 probe
    flattened past 8 strides because the single-process toy server's
    GIL was the wall, leaving 32-stride scaling unproven. The page
    dict is built ONCE in the parent and forked copy-on-write, so N
    workers cost no extra build time or memory; the kernel
    load-balances connections across the listeners (the handler's
    HTTP/1.0 close-per-request means every page fetch is a fresh
    connection), and the client — the Spark Python DataSource stride
    path — is byte-identical to the single-process probe.
    CONNECTOR_WORKERS=1 reproduces the r12 arrangement."""
    import socket
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    n_workers = int(os.environ.get("CONNECTOR_WORKERS", "8"))
    t0 = time.perf_counter()
    pages: dict[int, bytes] = {}
    for start in range(0, N_ROWS, PAGE):
        body = json.dumps(
            {"records": [_record(i) for i in range(start, min(start + PAGE, N_ROWS))]}
        ).encode()
        pages[start] = body
    empty = b'{"records": []}'
    print(
        f"# prebuilt {len(pages)} pages "
        f"({sum(map(len, pages.values())) >> 20} MB) in "
        f"{time.perf_counter() - t0:.1f}s; serving from "
        f"{n_workers} worker process(es)",
        flush=True,
    )

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            q = parse_qs(urlparse(self.path).query)
            start = int(q.get("start", ["0"])[0])
            body = pages.get(start, empty)
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    class ReusePortServer(ThreadingHTTPServer):
        def server_bind(self):
            self.socket.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEPORT, 1)
            super().server_bind()

    # pick a free port, then have every worker bind it via REUSEPORT
    probe = socket.socket()
    probe.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEPORT, 1)
    probe.bind(("127.0.0.1", 0))
    port = probe.getsockname()[1]

    def serve_forever() -> None:
        srv = ReusePortServer(("127.0.0.1", port), Handler)
        srv.serve_forever()

    # fork BEFORE the JVM/Spark exists: children inherit only the
    # page dict (copy-on-write) and their own listener
    import atexit
    import signal

    child_pids: list[int] = []
    for _ in range(max(0, n_workers - 1)):
        pid = os.fork()
        if pid == 0:  # child: serve until the parent exits
            probe.close()
            try:
                serve_forever()
            finally:
                os._exit(0)
        child_pids.append(pid)

    def _reap() -> None:
        for p in child_pids:
            try:
                os.kill(p, signal.SIGTERM)
            except OSError:
                pass

    atexit.register(_reap)
    threading.Thread(target=serve_forever, daemon=True).start()
    probe.close()
    return port


def main() -> None:
    from pyspark.sql import functions as F

    from go_integ_spark.operators.advanced import _gate_paginator
    from go_integ_spark.schema.stream import StreamSchema
    from go_integ_spark.session import get_spark
    from go_integ_spark.sources.datasource import (
        stream_dataframe,
        warmup_datasource,
    )
    from go_integ_spark.sources.source import HttpStream

    port = start_server()
    spark = get_spark(app_name="probe_connector_scale")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    warmup_datasource(spark, num_partitions=max(STRIDES))
    warm_sec = round(time.perf_counter() - t0, 2)
    print(f"# datasource warmup: {warm_sec}s", flush=True)

    stream = HttpStream(
        schema=StreamSchema.from_ddl(
            "orders",
            "o_orderkey bigint, o_custkey bigint, "
            "o_orderstatus string, o_orderpriority string",
        ),
        path="/orders",
        record_path="records",
        paginator=_gate_paginator,
    )
    want_sum = N_ROWS * (N_ROWS - 1) // 2
    results = {}
    for strides in STRIDES:
        lo = sm._max_stage_id(spark) + 1
        t0 = time.perf_counter()
        df, _ = stream_dataframe(
            spark,
            stream,
            {"url": f"http://127.0.0.1:{port}"},
            None,
            num_partitions=strides,
        )
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("ksum"),
            F.count_distinct("o_orderkey").alias("nd"),
        ).collect()[0]
        secs = round(time.perf_counter() - t0, 2)
        assert agg["n"] == N_ROWS, (agg["n"], N_ROWS)
        assert agg["nd"] == N_ROWS, (agg["nd"], N_ROWS)
        assert agg["ksum"] == want_sum, (agg["ksum"], want_sum)
        results[f"strides_{strides}"] = {
            "sec": secs,
            "rows_per_sec": round(N_ROWS / secs),
            "stages": [lo, sm._max_stage_id(spark)],
        }
        print(
            f"== {strides} strides: {N_ROWS} rows in {secs}s "
            f"({round(N_ROWS / secs):,} rows/s), exact ==",
            flush=True,
        )

    report = sm.stage_report(spark)
    for s in report:
        if s["tasks"] < 2:
            continue
        print(
            f"stage {s['stage']:>3} tasks={s['tasks']:>3} "
            f"task med/max={s['task_med_ms']:.0f}/{s['task_max_ms']:.0f}ms "
            f"skew={s['skew']}"
            + (f" data_skew={s['data_skew']}" if s["data_skew"] else "")
        )
    base = results[f"strides_{STRIDES[0]}"]["sec"]
    top = results[f"strides_{STRIDES[-1]}"]["sec"]
    summary = {
        "rows": N_ROWS,
        "page_size": PAGE,
        "pages": -(-N_ROWS // PAGE),
        "server_workers": int(os.environ.get("CONNECTOR_WORKERS", "8")),
        "warmup_sec": warm_sec,
        "runs": results,
        "speedup_low_to_high": round(base / top, 2),
        "strides": list(STRIDES),
        "cpu_calib_sec": _cpu_calibration(),
    }
    print(json.dumps(summary))
    out = os.environ.get("SMOKE_OUT")
    if out:
        with open(out, "w") as f:
            json.dump(summary, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
