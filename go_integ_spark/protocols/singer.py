"""Singer protocol encoder (reference pkg/singer).

Message shapes (singer.go, singer_stream.go):

- SCHEMA up-front at stream open, with key_properties /
  order_by_properties (singer.go:35-63)
- RECORD: ``{"type":"RECORD","stream":S,"time_extracted":unix,"record":...}``
- STATE: inline per stream: ``{"type":"STATE","stream":S,"state":...}``
  (singer_stream.go:41-58) — visible as soon as the stream commits,
  unlike Airbyte's merged-at-close.
- LOG: ``{"type":"LOG","timestamp":unix,"stream":S,"log":...}``
"""

from __future__ import annotations

from typing import Any

from go_integ_spark.protocols.base import ProtocolWriter, StreamWriter, _log_value, encode_json
from go_integ_spark.schema.stream import StreamSchema


class SingerStreamWriter(StreamWriter):
    def __init__(self, proto: "SingerWriter", schema: StreamSchema):
        self.proto = proto
        self.schema = schema
        self._head = f'{{"type":"RECORD","stream":{encode_json(schema.name)},"time_extracted":'

    def emit_records(self, records: list[dict]) -> None:
        if not records:
            return
        head = f'{self._head}{int(self.proto.clock().timestamp())},"record":'
        self.proto.write(head + ("}\n" + head).join(map(encode_json, records)) + "}\n")

    def emit_state(self, state: Any) -> None:
        # inline, per stream (singer_stream.go:41-58)
        self.proto.encode({"type": "STATE", "stream": self.schema.name, "state": state})

    def emit_log(self, v: Any) -> None:
        self.proto.encode(
            {
                "type": "LOG",
                "timestamp": int(self.proto.clock().timestamp()),
                "stream": self.schema.name,
                "log": _log_value(v),
            }
        )


class SingerWriter(ProtocolWriter):
    def open_stream(self, schema: StreamSchema) -> SingerStreamWriter:
        # SCHEMA message first (singer.go:43-63)
        self.encode(
            {
                "type": "SCHEMA",
                "schema": schema.json_schema(),
                "stream": schema.name,
                "key_properties": [f.path for f in schema.primary_key],
                "order_by_properties": [f.path for f in schema.order_by],
            }
        )
        return SingerStreamWriter(self, schema)
