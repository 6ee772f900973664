"""Airbyte protocol encoder (reference pkg/airbyte).

Message shapes (pkg/airbyte/proto.go, stream_proto.go):

- RECORD: ``{"type":"RECORD","record":{"stream":S,"emitted_at":ms,"data":...}}``
- STATE:  registered per stream during read, ONE merged message at
  close: ``{"type":"STATE","state":{stream: state, ...}}``
  (proto.go:42-51 + stream_proto.go:42-45) — the atomic-commit
  semantics: state is only visible if the whole read finished.
- CATALOG at discover-close (proto.go:44-47). We emit the proper
  Airbyte ``{"streams":[...]}`` wrapper (the reference marshals its
  internal schema list directly — a wire-shape quirk, not semantics).
- LOG: ``{"type":"LOG","log":...}``, CONNECTION_STATUS, SPEC per base.
"""

from __future__ import annotations

from typing import IO, Any

from go_integ_spark.protocols.base import Clock, ProtocolWriter, StreamWriter, encode_json, utc_now
from go_integ_spark.schema.catalog import CatalogStream
from go_integ_spark.schema.stream import StreamSchema


class AirbyteStreamWriter(StreamWriter):
    def __init__(self, proto: "AirbyteWriter", schema: StreamSchema):
        self.proto = proto
        self.schema = schema
        self._head = f'{{"type":"RECORD","record":{{"stream":{encode_json(schema.name)},"emitted_at":'

    def emit_records(self, records: list[dict]) -> None:
        if not records:
            return
        # each line has the bytes encode() gives its envelope; one write per page
        head = f'{self._head}{int(self.proto.clock().timestamp() * 1000)},"data":'
        self.proto.write(head + ("}}\n" + head).join(map(encode_json, records)) + "}}\n")

    def emit_state(self, state: Any) -> None:
        # lazily registered; merged STATE at close (stream_proto.go:42-45)
        self.proto.reg_state[self.schema.name] = state

    def emit_log(self, v: Any) -> None:
        self.proto.emit_log(v)


class AirbyteWriter(ProtocolWriter):
    def __init__(self, out: IO[str], clock: Clock = utc_now):
        super().__init__(out, clock)
        self.reg_state: dict[str, Any] = {}
        self.schemas: list[StreamSchema] = []

    def open_stream(self, schema: StreamSchema) -> AirbyteStreamWriter:
        self.schemas.append(schema)
        return AirbyteStreamWriter(self, schema)

    def close(self, cmd: str) -> None:
        # proto.go:42-51
        if cmd == "discover":
            self.emit(
                "CATALOG",
                {"streams": [CatalogStream(s).to_airbyte() for s in self.schemas]},
            )
        elif cmd == "read":
            self.emit("STATE", self.reg_state)
