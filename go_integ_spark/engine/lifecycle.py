"""Engine lifecycle: spec / check / discover / read (reference
command dispatch proto.go:119-126, sourcedef.go:47-60).

``read`` runs selected streams concurrently under a semaphore
(reference R4: errgroup + channel throttler, sourcedef.go:153-186),
captures per-stream errors to LOG instead of failing the run
(reference R5: proto.go:305-332), and commits state with
protocol-defined timing (Airbyte merged-at-close vs Singer inline —
the writer owns that distinction).

Spark integration: ``read_dataframes`` returns one DataFrame per
stream, each fetched inside executors by the Python DataSource
(sources/datasource.py).
"""

from __future__ import annotations

import io
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import IO, Any

from pyspark.sql import DataFrame, SparkSession

from go_integ_spark.engine.envelope import RunInput
from go_integ_spark.protocols import PROTOCOLS
from go_integ_spark.protocols.base import Clock, ProtocolWriter, utc_now
from go_integ_spark.schema.catalog import Catalog, CatalogStream
from go_integ_spark.sources.datasource import stream_dataframe
from go_integ_spark.sources.http import Transport
from go_integ_spark.sources.source import HttpStream, Source


@dataclass
class ReadResult:
    states: dict[str, Any] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)


class Engine:
    def __init__(
        self,
        transport: Transport | None = None,
        clock: Clock = utc_now,
        spark: SparkSession | None = None,
    ):
        self.transport = transport
        self.clock = clock
        self.spark = spark

    # -- spec (sourcedef.go:120-126) --------------------------------------
    def spec(self, source: Source) -> dict:
        return {
            "documentationUrl": source.docs_url,
            "supportsIncremental": source.supports_incremental(),
            "connectionSpecification": source.config_json_schema,
        }

    # -- check (R2: probe first page of FIRST stream, sourcedef.go:128-142)
    def check(self, source: Source, config: dict) -> tuple[bool, str | None]:
        if not source.streams:
            return False, "source has no streams"
        stream = source.streams[0]
        try:
            pages, _ = stream.read(
                config, None, transport=self.transport, clock=self.clock
            )
            next(pages, None)  # executes exactly one request, then aborts
            return True, None
        except Exception as e:  # noqa: BLE001 - surface as status, not crash
            return False, str(e)

    # -- discover (R3: schemas only, no runners; sourcedef.go:144-147) ----
    def discover(self, source: Source) -> Catalog:
        return Catalog(streams=[CatalogStream(s.schema) for s in source.streams])

    # -- read (R4/R5) ------------------------------------------------------
    def read(
        self,
        source: Source,
        config: dict,
        states: dict[str, dict] | None = None,
        writer: ProtocolWriter | None = None,
        selected: set[str] | None = None,
    ) -> ReadResult:
        states = states or {}
        result = ReadResult()
        lock = threading.Lock()
        # one token bucket for the whole source: all stream threads
        # share the API's request budget
        limiter = source.make_limiter()

        def run_stream(stream: HttpStream) -> None:
            name = stream.schema.name
            sw = writer.open_stream(stream.schema) if writer else None
            try:
                pages, new_state = stream.read(
                    config,
                    states.get(name),
                    transport=self.transport,
                    clock=self.clock,
                    limiter=limiter,
                )
                n = 0
                for page in pages:
                    n += len(page)
                    if sw:
                        sw.emit_records(page)
                if new_state is not None:
                    if sw:
                        sw.emit_state(new_state)
                    with lock:
                        result.states[name] = new_state
                with lock:
                    result.counts[name] = n
            except Exception as e:  # noqa: BLE001 - per-stream error -> LOG (R5)
                with lock:
                    result.errors[name] = str(e)
                if sw:
                    sw.emit_log(e)

        streams = [
            s
            for s in source.streams
            if selected is None or s.schema.name in selected
        ]
        # errgroup-with-semaphore parity (sourcedef.go:153-186)
        with ThreadPoolExecutor(max_workers=max(source.concurrency, 1)) as pool:
            list(pool.map(run_stream, streams))
        if writer:
            writer.close("read")
        return result

    # -- command dispatch (proto.go:119-126) -------------------------------
    def handle(self, source: Source, cmd: str, run: RunInput, out: IO[str]) -> None:
        proto_cls = PROTOCOLS.get(run.format)
        if proto_cls is None:
            raise ValueError(f"unknown protocol format {run.format!r}")
        writer = proto_cls(out, self.clock)
        if cmd == "spec":
            writer.emit_spec(self.spec(source))
        elif cmd == "check":
            ok, reason = self.check(source, run.config)
            writer.emit_status(None if ok else (reason or "failed"))
        elif cmd == "discover":
            for s in source.streams:
                writer.open_stream(s.schema)
            writer.close("discover")
        elif cmd == "read":
            self.read(
                source,
                run.config,
                states=run.states,
                writer=writer,
                selected=run.selected_streams,
            )
        else:
            raise ValueError(f"unknown command {cmd!r} (expected spec/check/discover/read)")

    def handle_to_string(self, source: Source, cmd: str, run: RunInput) -> str:
        buf = io.StringIO()
        self.handle(source, cmd, run, buf)
        return buf.getvalue()

    # -- Spark path --------------------------------------------------------
    def read_dataframes(
        self,
        source: Source,
        config: dict,
        states: dict[str, dict] | None = None,
        selected: set[str] | None = None,
    ) -> tuple[dict[str, DataFrame], dict[str, Any]]:
        """One DataFrame per selected stream + post-read states. Pages
        are fetched in executors by the Python DataSource, with the
        Engine's transport (pickled to the executors) and clock."""
        if self.spark is None:
            raise RuntimeError("Engine needs a SparkSession for read_dataframes")
        states = states or {}
        out: dict[str, DataFrame] = {}
        new_states: dict[str, Any] = {}
        for stream in source.streams:
            name = stream.schema.name
            if selected is not None and name not in selected:
                continue
            out[name], ns = stream_dataframe(
                self.spark,
                stream,
                config,
                states.get(name),
                self.transport,
                clock=self.clock,
            )
            if ns is not None:
                new_states[name] = ns
        return out, new_states
