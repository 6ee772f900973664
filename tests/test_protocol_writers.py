"""Byte-level contract of the Python protocol writers: the exact
NDJSON bytes each writer emits for a fixed page, and how many writes
an Engine read makes on its output stream.
"""

from __future__ import annotations

import datetime as dt
import io
import json

from pyspark.sql import types as T

from go_integ_spark.engine.lifecycle import Engine
from go_integ_spark.examples.connectors import klaviyo, pokeapi, sitoo, storm
from go_integ_spark.protocols.airbyte import AirbyteWriter
from go_integ_spark.protocols.singer import SingerWriter
from go_integ_spark.schema.stream import StreamSchema
from go_integ_spark.sources.source import Source
from tests.stub_server import StubServer

CLOCK = lambda: dt.datetime(2024, 2, 29, 23, 59, 58, 250000, tzinfo=dt.timezone.utc)  # noqa: E731

PAGE = [
    {
        "größe": 1.5,
        "naïve": 'say "hi"\nbye',
        "none": None,
        "nested": {"a": [1, 2.25, {"b": None}], "ü": []},
    },
    {
        "größe": -0.1,
        "naïve": "日本語\t\\",
        "none": None,
        "nested": {
            "when": dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc),
            "day": dt.date(2024, 1, 2),
        },
        "blob": b"\x00\xffok",
    },
    {"größe": 1e100, "naïve": "", "none": None, "nested": [[], {}, [True, False]]},
]

AIRBYTE_GOLDEN = "".join(
    line + "\n"
    for line in (
        r'{"type":"RECORD","record":{"stream":"bestellungen_\u00fc","emitted_at":1709251198250,"data":{"gr\u00f6\u00dfe":1.5,"na\u00efve":"say \"hi\"\nbye","none":null,"nested":{"a":[1,2.25,{"b":null}],"\u00fc":[]}}}}',
        r'{"type":"RECORD","record":{"stream":"bestellungen_\u00fc","emitted_at":1709251198250,"data":{"gr\u00f6\u00dfe":-0.1,"na\u00efve":"\u65e5\u672c\u8a9e\t\\","none":null,"nested":{"when":"2024-01-02T03:04:05+00:00","day":"2024-01-02"},"blob":"AP9vaw=="}}}',
        r'{"type":"RECORD","record":{"stream":"bestellungen_\u00fc","emitted_at":1709251198250,"data":{"gr\u00f6\u00dfe":1e+100,"na\u00efve":"","none":null,"nested":[[],{},[true,false]]}}}',
        r'{"type":"LOG","log":"page 3 failed: \"boom\""}',
        r'{"type":"STATE","state":{"bestellungen_\u00fc":{"cursor":"2024-02-29T23:59:58+00:00","seen":3}}}',
    )
)

SINGER_GOLDEN = "".join(
    line + "\n"
    for line in (
        r'{"type":"SCHEMA","schema":{"type":"object","properties":{"gr\u00f6\u00dfe":{"type":"number"},"na\u00efve":{"type":"string"}},"required":[]},"stream":"bestellungen_\u00fc","key_properties":["gr\u00f6\u00dfe"],"order_by_properties":[]}',
        r'{"type":"RECORD","stream":"bestellungen_\u00fc","time_extracted":1709251198,"record":{"gr\u00f6\u00dfe":1.5,"na\u00efve":"say \"hi\"\nbye","none":null,"nested":{"a":[1,2.25,{"b":null}],"\u00fc":[]}}}',
        r'{"type":"RECORD","stream":"bestellungen_\u00fc","time_extracted":1709251198,"record":{"gr\u00f6\u00dfe":-0.1,"na\u00efve":"\u65e5\u672c\u8a9e\t\\","none":null,"nested":{"when":"2024-01-02T03:04:05+00:00","day":"2024-01-02"},"blob":"AP9vaw=="}}',
        r'{"type":"RECORD","stream":"bestellungen_\u00fc","time_extracted":1709251198,"record":{"gr\u00f6\u00dfe":1e+100,"na\u00efve":"","none":null,"nested":[[],{},[true,false]]}}',
        r'{"type":"STATE","stream":"bestellungen_\u00fc","state":{"cursor":"2024-02-29T23:59:58+00:00","seen":3}}',
        r'{"type":"LOG","timestamp":1709251198,"stream":"bestellungen_\u00fc","log":"page 3 failed: \"boom\""}',
    )
)


def _emit_fixed_page(writer_cls) -> str:
    out = io.StringIO()
    writer = writer_cls(out, clock=CLOCK)
    schema = StreamSchema(
        name="bestellungen_ü",
        struct=T.StructType(
            [T.StructField("größe", T.DoubleType()), T.StructField("naïve", T.StringType())]
        ),
    ).primary("größe")
    sw = writer.open_stream(schema)
    sw.emit_records(PAGE)
    sw.emit_state({"cursor": "2024-02-29T23:59:58+00:00", "seen": 3})
    sw.emit_log(ValueError('page 3 failed: "boom"'))
    writer.close("read")
    return out.getvalue()


def test_airbyte_writer_golden_bytes():
    assert _emit_fixed_page(AirbyteWriter) == AIRBYTE_GOLDEN


def test_singer_writer_golden_bytes():
    assert _emit_fixed_page(SingerWriter) == SINGER_GOLDEN


class _CountingOut(io.StringIO):
    def __init__(self):
        super().__init__()
        self.writes: list[str] = []

    def write(self, s: str) -> int:
        self.writes.append(s)
        return super().write(s)


def test_engine_read_writes_one_page_at_a_time():
    """Four stream threads share one Airbyte writer: each page of
    records is one write, the merged STATE is one more, and each
    stream's records arrive once, in page order."""
    source = Source(
        name="four",
        streams=[
            pokeapi.stream("pokemon"),  # next URL in the body
            klaviyo.stream("members"),  # body marker
            storm.stream("orders"),  # OData nextLink
            sitoo.stream("users"),  # offset/limit
        ],
        concurrency=4,
    )
    pages = {
        "pokemon": [10, 10, 5],
        "members": [8, 8, 8, 6],
        "orders": [6, 6, 3],
        "users": [10, 10, 3],
    }
    out = _CountingOut()
    with StubServer() as server:
        config = {"url": server.base, "api_key": "klav-key", "user": "u", "password": "p"}
        res = Engine(clock=CLOCK).read(source, config, writer=AirbyteWriter(out, clock=CLOCK))
        data = server.data
    assert res.errors == {}
    assert len(out.writes) == sum(len(p) for p in pages.values()) + 1

    got_pages: dict[str, list[int]] = {name: [] for name in pages}
    records: dict[str, list[dict]] = {name: [] for name in pages}
    for chunk in out.writes[:-1]:
        msgs = [json.loads(line) for line in chunk.splitlines()]
        assert chunk.endswith("\n") and {m["type"] for m in msgs} == {"RECORD"}
        streams = {m["record"]["stream"] for m in msgs}
        assert len(streams) == 1  # a write never mixes streams
        name = streams.pop()
        got_pages[name].append(len(msgs))
        records[name] += [m["record"]["data"] for m in msgs]
    assert got_pages == pages
    assert records == {
        "pokemon": data["pokemon"],
        "members": data["members"],
        "orders": data["storm_orders"],
        "users": data["sitoo_users"],
    }
    assert json.loads(out.writes[-1]) == {"type": "STATE", "state": {}}
