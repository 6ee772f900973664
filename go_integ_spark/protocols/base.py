"""Protocol writer interface (reference Proto/StreamProto contract,
backend.go:50-74): a protocol opens per-stream writers and emits
SPEC / CONNECTION_STATUS / CATALOG / RECORD / STATE / LOG messages as
NDJSON lines.

Records go out a page at a time, as in the reference's per-stream
buffer (pkg/airbyte/stream_proto.go:20-36): one envelope head per page
and one locked ``ProtocolWriter.write`` of the page's joined lines.

The clock is injectable so golden tests pin ``emitted_at`` /
``time_extracted`` (the reference hardcodes time.Now—
pkg/airbyte/proto.go:28, pkg/singer/singer.go:29 — making its output
untestable; we fix that).
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import threading
from collections.abc import Callable
from typing import IO, Any

from go_integ_spark.schema.stream import StreamSchema

Clock = Callable[[], dt.datetime]


def utc_now() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc)


class StreamWriter:
    def emit_records(self, records: list[dict]) -> None:
        raise NotImplementedError

    def emit_state(self, state: Any) -> None:
        raise NotImplementedError

    def emit_log(self, v: Any) -> None:
        raise NotImplementedError

    def flush(self) -> None:
        pass


class ProtocolWriter:
    """Base NDJSON emitter. Subclasses implement the envelope shapes."""

    def __init__(self, out: IO[str], clock: Clock = utc_now):
        self.out = out
        self.clock = clock
        self._lock = threading.Lock()

    def write(self, lines: str) -> None:
        # whole lines under the reference's wMtx (protocol.go:28-33):
        # up to `concurrency` stream threads share one output
        with self._lock:
            self.out.write(lines)

    def encode(self, msg: dict) -> None:
        # one JSON doc per line (reference Protocol.Encode, protocol.go:20-33)
        self.write(encode_json(msg) + "\n")

    def emit(self, typ: str, v: Any) -> None:
        # reference emit(): {"type": T, lower(T): payload}
        # (pkg/airbyte/proto.go:53-55)
        self.encode({"type": typ, typ.lower(): v})

    # -- lifecycle ---------------------------------------------------------
    def open_stream(self, schema: StreamSchema) -> StreamWriter:
        raise NotImplementedError

    def emit_spec(self, spec: dict) -> None:
        self.emit("SPEC", spec)

    def emit_status(self, error: str | None) -> None:
        # reference EmitStatus (pkg/airbyte/proto.go:70-80)
        status: dict[str, Any] = {"status": "SUCCEEDED" if error is None else "FAILED"}
        if error is not None:
            status["reason"] = error
        self.emit("CONNECTION_STATUS", status)

    def emit_log(self, v: Any) -> None:
        self.emit("LOG", _log_value(v))

    def close(self, cmd: str) -> None:
        """End-of-run hook; Airbyte emits CATALOG (discover) or the
        merged STATE (read) here."""


def _log_value(v: Any) -> Any:
    # reference logErr: errors stringified (pkg/airbyte/stream_proto.go:50-55)
    if isinstance(v, BaseException):
        return str(v)
    return v


def _default(o: Any):
    if isinstance(o, (dt.datetime, dt.date)):
        return o.isoformat()
    if isinstance(o, bytes):
        return base64.b64encode(o).decode()
    raise TypeError(f"not JSON serializable: {type(o)}")


# built once: json.dumps(msg, separators=..., default=...) builds one per call
encode_json = json.JSONEncoder(separators=(",", ":"), default=_default).encode
