"""The connector workload: a CLI sync and a Spark sync of the fixture
API, driven through the package's public entry points, with the
transport, protocol writer and output stream injected so the traced
run can time each layer from outside.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import threading
import time

import pyarrow.parquet as pq

from go_integ_spark.engine.compress import read_compressed, wrap_output
from go_integ_spark.engine.envelope import RunInput
from go_integ_spark.engine.lifecycle import Engine
from go_integ_spark.protocols.airbyte import AirbyteStreamWriter, AirbyteWriter
from go_integ_spark.protocols.distributed import airbyte_envelope, write_ndjson
from go_integ_spark.schema.stream import StreamSchema
from go_integ_spark.sources.datasource import stream_dataframe
from go_integ_spark.sources.http import OffsetLimitPaginator, urllib_transport
from go_integ_spark.sources.source import HttpStream, Source

from perfbench.fixture import PAGE_SIZE, STREAMS
from perfbench.spans import span

DDL = {
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate string, o_orderpriority string",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
}
EMITTED_AT_MS = 1_700_000_000_000
CONCURRENCY = 4
# Spark's text writer has no zstd codec without Hadoop's native
# library, so the Spark sync writes gzip part files.
SPARK_CODEC = "gzip"


def _paginator() -> OffsetLimitPaginator:
    # module-level so the stream pickles into DataSource partitions
    return OffsetLimitPaginator(offset_param="start", limit_param="num", page_size=PAGE_SIZE)


def http_stream(name: str) -> HttpStream:
    return HttpStream(
        schema=StreamSchema.from_ddl(name, DDL[name]),
        path=f"/{name}",
        record_path="records",
        paginator=_paginator,
    )


class CountingTransport:
    """The urllib transport plus a count of requests and 429 answers.
    With a tracer it also records a span and a latency per request."""

    def __init__(self, tracer=None):
        self._do = urllib_transport()
        self._lock = threading.Lock()
        self.tracer = tracer
        self.requests = 0
        self.retries = 0
        self.page_ms: list[float] = []

    def __call__(self, req):
        if self.tracer is None:
            resp = self._do(req)
        else:
            t0 = time.perf_counter()
            with self.tracer.span("sources.http.transport"):
                resp = self._do(req)
            ms = (time.perf_counter() - t0) * 1000.0
        with self._lock:
            self.requests += 1
            self.retries += resp.status == 429
            if self.tracer is not None:
                self.page_ms.append(ms)
        return resp


class TimedText(io.TextIOBase):
    """Output stream handed to the protocol writer: forwards to the
    codec stream and sums the seconds each thread spends writing. One
    write per record is too many to record as spans."""

    def __init__(self, inner, tracer):
        self.inner = inner
        self.tracer = tracer
        self.chars = 0
        self.seconds: dict[int, float] = {}  # thread -> seconds in write

    def write(self, s: str) -> int:
        t0 = time.perf_counter()
        n = self.inner.write(s)
        tid = threading.get_ident()
        # the protocol writer holds its lock around every write
        self.seconds[tid] = self.seconds.get(tid, 0.0) + time.perf_counter() - t0
        self.chars += len(s)
        return n

    def close(self) -> None:
        with self.tracer.span("engine.compress.close"):
            self.inner.close()
        super().close()


class _TracedStreamWriter(AirbyteStreamWriter):
    def emit_records(self, records):
        with self.proto.tracer.span("protocols.airbyte.emit_records", stream=self.schema.name):
            super().emit_records(records)


class TracedAirbyteWriter(AirbyteWriter):
    """AirbyteWriter whose per-stream writers time ``emit_records``.
    ``open_stream`` runs first on each stream thread, so it marks the
    start of that thread's busy time."""

    def __init__(self, out, tracer):
        super().__init__(out)
        self.tracer = tracer
        self.stream_start: dict[int, float] = {}

    def open_stream(self, schema):
        self.stream_start[threading.get_ident()] = time.perf_counter()
        self.schemas.append(schema)
        return _TracedStreamWriter(self, schema)


def _cli_layers(spans, stream_start: dict[int, float], writes: dict[int, float], wall: float) -> dict:
    """Split the stream threads' busy time into fetch, parse, encode
    and compress. A thread is busy from ``open_stream`` to its last
    span; parse is what remains of that after fetch and emit, and
    encode is emit minus the output writes inside it."""
    by_name: dict[str, float] = {}
    busy: dict[int, float] = {}
    for s in spans:
        dur = s.end - s.start
        by_name[s.name] = by_name.get(s.name, 0.0) + dur
        if s.thread in stream_start:
            by_name[f"thread:{s.name}"] = by_name.get(f"thread:{s.name}", 0.0) + dur
            busy[s.thread] = max(busy.get(s.thread, 0.0), s.end - stream_start[s.thread])
    fetch = by_name.get("thread:sources.http.transport", 0.0)
    emit = by_name.get("thread:protocols.airbyte.emit_records", 0.0)
    write_in_threads = sum(t for tid, t in writes.items() if tid in stream_start)
    return {
        "fetch_s": fetch,
        "parse_s": sum(busy.values()) - fetch - emit,
        "encode_s": emit - write_in_threads,
        "write_s": sum(writes.values()) + by_name.get("engine.compress.close", 0.0),
        "busy_s": sum(busy.values()),
        "stream_s_max": max(busy.values(), default=0.0),
        "busy_share": sum(busy.values()) / (CONCURRENCY * wall),
        "wall": wall,
    }


class Connector:
    """The two connector ops over one fixture. Each execution's output
    is checked as soon as it ends."""

    ops = ("cli_sync", "spark_sync")
    check_each_run = True

    def __init__(self, spark, fixture, data_dir: str, tmp: str, tracer=None):
        self.spark = spark
        self.fixture = fixture
        self.data_dir = data_dir
        self.tmp = tmp
        self.tracer = tracer
        self.config = {"url": fixture.url}
        self.source = Source(
            name="perfbench",
            streams=[http_stream(n) for n in STREAMS],
            concurrency=CONCURRENCY,
        )
        self.rows = {
            name: pq.ParquetFile(os.path.join(data_dir, f"{table}.parquet")).metadata.num_rows
            for name, (table, _key) in STREAMS.items()
        }
        self.records = sum(self.rows.values())
        self.last: dict[str, dict] = {}
        self.layers: list[dict] = []  # one per traced cli_sync
        self.split: dict = {}  # connector ops have no separate build step

    # -- cli_sync --------------------------------------------------------
    def cli_sync(self, traced: bool) -> float:
        self.fixture.reset()
        before = self.fixture.stats()["injected"]
        sink = io.BytesIO()
        out = wrap_output(sink, "zstd")
        transport = CountingTransport(self.tracer if traced else None)
        engine = Engine(transport=transport)
        errors: dict[str, str] = {}
        if traced:
            tracer = self.tracer
            out = TimedText(out, tracer)
            writer = TracedAirbyteWriter(out, tracer)
            first_span = len(tracer.spans)
            t0 = time.perf_counter()
            with tracer.span("engine.read", op="cli_sync"):
                errors = engine.read(self.source, self.config, writer=writer).errors
            out.close()
            wall = time.perf_counter() - t0
            self.layers.append(
                _cli_layers(tracer.spans[first_span:], writer.stream_start, out.seconds, wall)
                | {
                    "page_ms": transport.page_ms,
                    "requests": transport.requests,
                    "retries": transport.retries,
                    "ndjson_bytes": out.chars,
                    "out_bytes": len(sink.getvalue()),
                }
            )
        else:
            t0 = time.perf_counter()
            engine.handle(self.source, "read", RunInput(format="airbyte", config=self.config), out)
            out.close()
            wall = time.perf_counter() - t0
        self.last["cli_sync"] = {
            "output": sink.getvalue(),
            "errors": errors,
            "retries": transport.retries,
            "injected": self.fixture.stats()["injected"] - before,
        }
        return wall

    # -- spark_sync ------------------------------------------------------
    def _orders_df(self):
        df, _ = stream_dataframe(
            self.spark, http_stream("orders"), self.config, None, num_partitions=CONCURRENCY
        )
        return df

    def spark_sync(self, traced: bool) -> float:
        self.fixture.reset()
        path = os.path.join(self.tmp, "spark_sync")
        shutil.rmtree(path, ignore_errors=True)
        tracer = self.tracer if traced else None
        t0 = time.perf_counter()
        with span(tracer, "sources.datasource.stream_dataframe"):
            df = self._orders_df()
        with span(tracer, "protocols.distributed.airbyte_envelope"):
            lines = airbyte_envelope(df, "orders", EMITTED_AT_MS)
        with span(tracer, "protocols.distributed.write_ndjson"):
            write_ndjson(lines, path, SPARK_CODEC)
        wall = time.perf_counter() - t0
        self.last["spark_sync"] = {"path": path}
        return wall

    def extra_layers(self) -> dict[str, float]:
        """The DataSource read and the JVM-side encode, each timed on
        its own (traced run only)."""
        from go_integ_spark.tables import load_table

        self.fixture.reset()
        t0 = time.perf_counter()
        df = self._orders_df()
        plan = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        read = time.perf_counter() - t0
        orders = load_table(self.spark, self.data_dir, "orders")
        path = os.path.join(self.tmp, "encode_write")
        t0 = time.perf_counter()
        write_ndjson(airbyte_envelope(orders, "orders", EMITTED_AT_MS), path, SPARK_CODEC)
        encode_write = time.perf_counter() - t0
        shutil.rmtree(path, ignore_errors=True)
        return {
            "sources.datasource.plan_s": plan,
            "sources.datasource.read_s": read,
            "protocols.distributed.encode_write_s": encode_write,
        }

    def run(self, op: str, traced: bool) -> float:
        return getattr(self, op)(traced)

    # -- correctness -----------------------------------------------------
    def check(self, op: str) -> str | None:
        """None when the execution of ``op`` that just ended delivered
        every row exactly once; else what was wrong."""
        last = self.last[op]
        if op == "cli_sync":
            return self._check_cli(last)
        return self._check_spark(last["path"])

    def _check_cli(self, last: dict) -> str | None:
        # Every injected 429 must come back as one counted retry.
        if last["retries"] != last["injected"]:
            return f"{last['retries']} retries counted, {last['injected']} 429s injected"
        # Engine.read returns the stream errors; Engine.handle writes
        # each as a LOG message, which the decode below rejects.
        if last["errors"]:
            return f"stream errors {last['errors']}"
        keys: dict[str, list[int]] = {n: [] for n in STREAMS}
        lines = read_compressed(io.BytesIO(last["output"]), "zstd").read().splitlines()
        msgs = [json.loads(x) for x in lines]
        for m in msgs[:-1]:
            if m["type"] != "RECORD":
                return f"unexpected {m['type']} message: {str(m)[:200]}"
            stream = m["record"]["stream"]
            keys[stream].append(m["record"]["data"][STREAMS[stream][1]])
        if not msgs or msgs[-1]["type"] != "STATE":
            return "output does not end with a STATE message"
        for name, got in keys.items():
            if sorted(got) != list(range(self.rows[name])):
                return f"stream {name}: {len(got)} records for {self.rows[name]} rows"
        return None

    def _check_spark(self, path: str) -> str | None:
        keys: list[int] = []
        for name in sorted(os.listdir(path)):
            if not name.startswith("part-"):
                continue
            with open(os.path.join(path, name), "rb") as f:
                for line in read_compressed(f, SPARK_CODEC).read().splitlines():
                    msg = json.loads(line)
                    keys.append(msg["record"]["data"]["o_orderkey"])
        if sorted(keys) != list(range(self.rows["orders"])):
            return f"{len(keys)} orders records for {self.rows['orders']} rows"
        return None
