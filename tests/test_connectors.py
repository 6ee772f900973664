"""Connector-layer tests: all five pagination styles against the stub
server, auth, retry, projection pushdown, cursor incremental state,
lifecycle commands, envelope parsing, protocol golden shapes.
"""

from __future__ import annotations

import datetime as dt
import io
import json
import urllib.parse

import pytest

from go_integ_spark.engine.envelope import parse_envelope
from go_integ_spark.engine.lifecycle import Engine
from go_integ_spark.examples.connectors import klaviyo, pokeapi, shopify, sitoo, storm
from go_integ_spark.protocols.airbyte import AirbyteWriter
from go_integ_spark.protocols.base import utc_now
from go_integ_spark.protocols.singer import SingerWriter
from go_integ_spark.sources.http import Retryer, urllib_transport
from tests.stub_server import StubServer

FIXED_CLOCK = lambda: dt.datetime(2022, 4, 7, 12, 0, 0, tzinfo=dt.timezone.utc)  # noqa: E731


@pytest.fixture(scope="module")
def server():
    with StubServer() as s:
        yield s


def read_all(stream, config, state=None, clock=utc_now, **kw):
    pages, new_state = stream.read(config, state, clock=clock, **kw)
    return [r for p in pages for r in p], new_state


# --- pagination styles S2-S6 ---------------------------------------------
def test_next_url_pagination(server):
    rows, _ = read_all(pokeapi.streams[0], {"url": server.base})
    assert rows == server.data["pokemon"]  # 25 rows over 3 pages


def test_link_header_pagination_with_auth_cursor_projection(server):
    stream = shopify.stream("users")
    config = {"url": server.base, "api_key": "sekret"}
    rows, new_state = read_all(stream, config, clock=FIXED_CLOCK)
    # cursor window [now-10y, now] covers all fixture rows
    assert len(rows) == len(server.data["users"])
    # projection pushdown: server only returned schema fields
    assert set(rows[0]) == set(stream.schema.field_keys())
    # new state = window end, RFC3339 (shopify.go:60,67-72)
    assert new_state == {"To": "2022-04-07T12:00:00+0000"}


def test_cursor_state_filters_server_side(server):
    stream = shopify.stream("users")
    config = {"url": server.base, "api_key": "sekret"}
    state = {"To": "2022-03-15T00:00:00+00:00"}
    rows, _ = read_all(stream, config, state=state, clock=FIXED_CLOCK)
    expected = [u for u in server.data["users"] if u["updated_at"] >= state["To"]]
    assert len(rows) == len(expected)


def test_auth_failure_surfaces(server):
    stream = shopify.stream("users")
    config = {"url": server.base, "api_key": "wrong"}
    with pytest.raises(Exception, match="401"):
        read_all(stream, config, clock=FIXED_CLOCK)


def test_marker_pagination(server):
    sent = []
    transport = urllib_transport()

    def recording(req):
        sent.append(req.full_url())
        return transport(req)

    rows, _ = read_all(
        klaviyo.streams[0],
        {"url": server.base, "api_key": "klav-key"},
        transport=recording,
    )
    assert rows == server.data["members"]  # 30 rows over 4 pages
    # the query-parameter key goes on every page exactly once
    assert len(sent) == 4
    for url in sent:
        query = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
        assert query["api_key"] == ["klav-key"], url
    # a rejected key is not echoed into the error (and so the LOG line)
    with pytest.raises(Exception, match="401") as err:
        read_all(klaviyo.streams[0], {"url": server.base, "api_key": "bad-klav-key"})
    assert "bad-klav-key" not in str(err.value)


def test_odata_pagination(server):
    rows, _ = read_all(
        storm.stream("orders"), {"url": server.base, "user": "u", "password": "p"}
    )
    assert rows == server.data["storm_orders"]


def test_offset_limit_short_page_termination(server):
    rows, _ = read_all(
        sitoo.stream("users"), {"url": server.base, "user": "u", "password": "p"}
    )
    assert rows == server.data["sitoo_users"]  # 23 rows: 10+10+3


def test_body_paginator_decodes_each_page_once(monkeypatch):
    """The fetch loop and a body-driven paginator share one decode of
    each page: three pages, three ``json.loads`` calls."""
    import types

    from go_integ_spark.sources import http
    from go_integ_spark.sources.http import HttpRequest, HttpResponse, NextUrlPaginator, PageFetcher

    loads = []

    def counting_loads(s):
        loads.append(s)
        return json.loads(s)

    monkeypatch.setattr(http, "json", types.SimpleNamespace(loads=counting_loads, dumps=json.dumps))
    bodies = {
        "http://api/p0": {"results": [{"i": 0}, {"i": 1}], "next": "http://api/p1"},
        "http://api/p1": {"results": [{"i": 2}], "next": "http://api/p2"},
        "http://api/p2": {"results": [{"i": 3}], "next": None},
    }

    def transport(req):
        return HttpResponse(status=200, headers={}, body=json.dumps(bodies[req.url]).encode())

    fetcher = PageFetcher(transport=transport, paginator=NextUrlPaginator(), record_path="results")
    pages = list(fetcher.pages(HttpRequest(url="http://api/p0")))
    assert [r["i"] for p in pages for r in p] == [0, 1, 2, 3]
    assert len(loads) == 3


def test_offset_limit_stride_splits_offsets():
    """``start``/``stride`` split one offset chain across N readers:
    reader p asks for offsets p, p+N, ... pages until a short page, and
    the readers together fetch every record exactly once."""
    from go_integ_spark.sources.http import (
        HttpRequest,
        HttpResponse,
        OffsetLimitPaginator,
        PageFetcher,
    )

    size, total, n = 10, 73, 3  # 8 pages, the last one short
    starts = []

    def transport(req):
        q = dict(req.params)
        assert q["num"] == str(size)
        starts.append(int(q["start"]))
        rows = [{"i": i} for i in range(starts[-1], min(starts[-1] + size, total))]
        return HttpResponse(status=200, headers={}, body=json.dumps({"items": rows}).encode())

    want = {0: [0, 30, 60, 90], 1: [10, 40, 70], 2: [20, 50, 80]}
    seen = []
    for p in range(n):
        pag = OffsetLimitPaginator(page_size=size, start=p * size, stride=n)
        assert pag.first_params() == {"start": str(p * size), "num": str(size)}
        fetcher = PageFetcher(transport=transport, paginator=pag, record_path="items")
        first = HttpRequest(url="http://api/items").with_params(**pag.first_params())
        starts.clear()
        seen += [r["i"] for page in fetcher.pages(first) for r in page]
        assert starts == want[p]
    assert sorted(seen) == list(range(total))


# --- retry (S10) ----------------------------------------------------------
def test_retry_429_backoff(server):
    from go_integ_spark.sources.http import HttpRequest, PageFetcher, NextUrlPaginator

    sleeps = []
    fetcher = PageFetcher(
        transport=urllib_transport(),
        paginator=NextUrlPaginator(),
        record_path="results",
        retryer=Retryer(max_attempts=4, sleep=sleeps.append),
    )
    pages = list(fetcher.pages(HttpRequest(url=f"{server.base}/flaky")))
    assert pages == [[{"name": "ok", "url": "u"}]]
    assert len(sleeps) == 2  # two 429s, Retry-After: 0 honored


def test_retry_after_http_date_and_garbage():
    """RFC 7231 allows an HTTP-date Retry-After; garbage values and
    deltas that are not finite and >= 0 fall back to the exponential
    delay instead of crashing mid-backoff (sleep(inf) overflows)."""
    import datetime as dt
    from email.utils import format_datetime

    from go_integ_spark.sources.http import HttpRequest, HttpResponse, Retryer

    future = dt.datetime.now(dt.timezone.utc) + dt.timedelta(seconds=40)
    headers = iter(
        [
            {"retry-after": format_datetime(future)},
            {"retry-after": "not-a-date"},
            {"retry-after": "inf"},
            {"retry-after": "nan"},
            {"retry-after": "-5"},
            {},
        ]
    )
    attempts = []

    def transport(req):
        attempts.append(req)
        if len(attempts) < 7:
            return HttpResponse(status=429, headers=next(headers), body=b"{}")
        return HttpResponse(status=200, headers={}, body=b"{}")

    sleeps = []
    r = Retryer(max_attempts=7, base_delay=0.5, sleep=sleeps.append)
    resp = r.execute(transport, HttpRequest(url="http://x/y"))
    assert resp.status == 200
    assert 30 < sleeps[0] <= 40  # HTTP-date honored (wall-clock delta)
    assert sleeps[1] == 1.0  # garbage -> exponential 0.5 * 2^1
    assert sleeps[2] == 2.0  # inf -> exponential 0.5 * 2^2
    assert sleeps[3] == 4.0  # nan -> exponential 0.5 * 2^3
    assert sleeps[4] == 8.0  # negative -> exponential 0.5 * 2^4
    assert sleeps[5] == 16.0  # absent -> exponential 0.5 * 2^5


def test_retry_gives_up():
    from go_integ_spark.sources.http import HttpRequest, HttpResponse, Retryer, HttpStatusError

    calls = []

    def always_503(req):
        calls.append(req)
        return HttpResponse(status=503, headers={}, body=b"{}")

    r = Retryer(max_attempts=3, sleep=lambda s: None)
    with pytest.raises(HttpStatusError):
        r.execute(always_503, HttpRequest(url="http://x/y"))
    assert len(calls) == 3


# --- lifecycle (R1-R3) ----------------------------------------------------
def test_spec(server):
    spec = Engine().spec(shopify)
    assert spec["supportsIncremental"] is True
    assert spec["connectionSpecification"]["required"] == ["url", "api_key"]


def test_check_ok_and_fail(server):
    eng = Engine(clock=FIXED_CLOCK)
    ok, reason = eng.check(pokeapi, {"url": server.base})
    assert ok and reason is None
    ok, reason = eng.check(shopify, {"url": server.base, "api_key": "bad"})
    assert not ok and "401" in reason


def test_discover_catalog(server):
    cat = Engine().discover(shopify)
    entry = cat.to_airbyte()["streams"][0]
    assert entry["name"] == "users"
    assert entry["supported_sync_modes"] == ["full_refresh", "incremental"]
    assert entry["default_cursor_field"] == ["updated_at"]
    assert entry["source_defined_primary_key"] == [["id"]]
    assert entry["json_schema"]["properties"]["id"] == {"type": "integer"}


# --- read + protocols (K2/K3, T2 timing semantics) ------------------------
def test_read_airbyte_merged_state_at_close(server):
    eng = Engine(clock=FIXED_CLOCK)
    buf = io.StringIO()
    writer = AirbyteWriter(buf, clock=FIXED_CLOCK)
    res = eng.read(
        shopify,
        {"url": server.base, "api_key": "sekret"},
        states={},
        writer=writer,
    )
    lines = [json.loads(x) for x in buf.getvalue().splitlines()]
    types = [x["type"] for x in lines]
    # records for both streams, exactly ONE merged STATE, at the end
    assert types.count("STATE") == 1 and types[-1] == "STATE"
    state = lines[-1]["state"]
    assert set(state) == {"users", "orders"}
    assert state["users"] == {"To": "2022-04-07T12:00:00+0000"}
    rec = next(x for x in lines if x["type"] == "RECORD")
    assert set(rec["record"]) == {"stream", "emitted_at", "data"}
    assert rec["record"]["emitted_at"] == int(FIXED_CLOCK().timestamp() * 1000)
    assert res.counts["users"] == len(server.data["users"])


def test_read_singer_inline_state_and_schema_first(server):
    eng = Engine(clock=FIXED_CLOCK)
    buf = io.StringIO()
    writer = SingerWriter(buf, clock=FIXED_CLOCK)
    eng.read(
        shopify,
        {"url": server.base, "api_key": "sekret"},
        states={},
        writer=writer,
        selected={"users"},
    )
    lines = [json.loads(x) for x in buf.getvalue().splitlines()]
    assert lines[0]["type"] == "SCHEMA"
    assert lines[0]["key_properties"] == ["id"]
    # inline STATE per stream (not merged)
    states = [x for x in lines if x["type"] == "STATE"]
    assert states and states[0]["stream"] == "users"
    rec = next(x for x in lines if x["type"] == "RECORD")
    assert {"stream", "time_extracted", "record"} <= set(rec)


def test_read_per_stream_error_capture(server):
    eng = Engine(clock=FIXED_CLOCK)
    buf = io.StringIO()
    writer = AirbyteWriter(buf, clock=FIXED_CLOCK)
    res = eng.read(
        shopify, {"url": server.base, "api_key": "bad"}, states={}, writer=writer
    )
    assert set(res.errors) == {"users", "orders"}  # captured, not raised (R5)
    logs = [
        json.loads(x) for x in buf.getvalue().splitlines() if '"LOG"' in x
    ]
    assert logs and "401" in json.dumps(logs)


# --- envelope parsing (proto.go:44-108) -----------------------------------
def test_envelope_parse_and_global_state_fanout():
    lines = [
        '{"type":"SETTINGS","settings":{"format":"singer"}}',
        '{"type":"CONFIG","config":{"url":"http://x","api_key":"k"}}',
        '{"type":"STATE","state":{"":{"To":"2022-04-07T12:39:06+00:00"}}}',
    ]
    run = parse_envelope(lines, ["users", "orders"])
    assert run.format == "singer"
    assert run.config["url"] == "http://x"
    # global state fanned out to every stream (proto.go:90-101)
    assert run.states["users"] == run.states["orders"] == {"To": "2022-04-07T12:39:06+00:00"}


def test_envelope_per_stream_state_and_catalog_selection():
    lines = [
        '{"type":"STATE","state":{"users":{"To":"2022-01-01"}}}',
        '{"type":"CATALOG","catalog":{"streams":[{"stream":{"name":"users"}}]}}',
    ]
    run = parse_envelope(lines, ["users", "orders"])
    assert run.states == {"users": {"To": "2022-01-01"}}
    assert run.selected_streams == {"users"}


def test_handle_command_dispatch(server):
    eng = Engine(clock=FIXED_CLOCK)
    run = parse_envelope(
        ['{"type":"CONFIG","config":{"url":"%s"}}' % server.base], ["pokemon"]
    )
    out = eng.handle_to_string(pokeapi, "spec", run)
    msg = json.loads(out)
    assert msg["type"] == "SPEC"
    out = eng.handle_to_string(pokeapi, "check", run)
    assert json.loads(out)["connection_status"]["status"] == "SUCCEEDED"
    out = eng.handle_to_string(pokeapi, "discover", run)
    assert json.loads(out)["type"] == "CATALOG"
    out = eng.handle_to_string(pokeapi, "read", run)
    recs = [json.loads(x) for x in out.splitlines() if '"RECORD"' in x]
    assert len(recs) == len(server.data["pokemon"])


def test_nested_expand_projection(server):
    """P2 (storm.go:49-55): struct-typed fields become $expand=
    Name($select=...) and leave the flat $select list; the server
    returns the nested object which lands as a nested dict."""
    from go_integ_spark.examples.connectors import _storm_auth
    from go_integ_spark.sources.http import ODataPaginator
    from go_integ_spark.sources.source import HttpStream, Projection
    from go_integ_spark.schema.stream import StreamSchema

    stream = HttpStream(
        schema=StreamSchema.from_ddl(
            "orders_expanded",
            "Id long, OrderNo double, Customer struct<Id:long,Name:string>",
        ),
        path="/Orders",
        record_path="value",
        paginator=ODataPaginator,
        projection=Projection(param="$select", expand_param="$expand"),
        auth=_storm_auth,
    )
    rows, _ = read_all(stream, {"url": server.base, "user": "u", "password": "p"})
    assert len(rows) == 15
    assert rows[0]["Customer"] == {"Id": 0, "Name": "cust0"}
    assert rows[3]["Customer"]["Id"] == 30


# --- shared rate limiting (SURVEY §7 hard part c) --------------------------
def test_rate_limiter_token_bucket_timing():
    """Deterministic token-bucket check: burst drains free, then each
    request waits 1/rate; refill follows the injected clock."""
    from go_integ_spark.sources.http import RateLimiter

    t = [0.0]
    sleeps = []

    def clock():
        return t[0]

    def sleep(s):
        sleeps.append(round(s, 3))
        t[0] += s

    rl = RateLimiter(rate=2.0, burst=2, clock=clock, sleep=sleep)
    rl.acquire()  # token 1: free
    rl.acquire()  # token 2: free
    rl.acquire()  # bucket empty -> wait 0.5s at 2 rps
    assert sleeps == [0.5]
    t[0] += 10  # long idle refills to burst cap only
    rl.acquire()
    rl.acquire()
    rl.acquire()
    assert sleeps == [0.5, 0.5]  # 2 free again, 3rd waits


def test_engine_read_shares_limiter_across_streams(server):
    """Both sitoo streams read under one source-level budget: total
    requests > burst forces acquire() waits even though each stream
    alone fits the burst."""
    from dataclasses import replace as dc_replace

    from go_integ_spark.engine.lifecycle import Engine
    from go_integ_spark.examples.connectors import sitoo

    waits = []
    # rate so slow that refill is negligible within the test: every
    # request beyond the burst must go through a coordinated wait
    limited = dc_replace(sitoo, concurrency=2, rate_limit_per_sec=0.001)
    real_make = limited.make_limiter

    def make_limiter():
        rl = real_make()

        def fake_sleep(s):  # record the wait, grant the token, no delay
            waits.append(s)
            rl._tokens += 1.0

        rl.sleep = fake_sleep
        return rl

    limited.make_limiter = make_limiter  # type: ignore[method-assign]
    eng = Engine()
    res = eng.read(
        limited, {"url": server.base, "user": "u", "password": "p"}
    )
    # 23 users (3 pages) + 7 orders (1 page) = 4 requests through a
    # burst-2, near-zero-refill bucket -> 2 coordinated waits
    assert sum(res.counts.values()) == 30
    assert not res.errors
    assert len(waits) == 2


# --- GraphQL cursor pagination (POST body) --------------------------------
def test_graphql_cursor_pagination_fake_transport():
    """Relay-style connection pagination: re-POST with variables.after,
    stop on hasNextPage=false, unwrap edges[].node."""
    from go_integ_spark.schema.stream import StreamSchema
    from go_integ_spark.sources.http import GraphQLCursorPaginator
    from go_integ_spark.sources.source import HttpStream

    data = [{"id": i, "name": f"c{i}"} for i in range(25)]
    seen_bodies = []

    def transport(req):
        assert req.method == "POST"
        assert dict(req.headers)["Content-Type"] == "application/json"
        payload = req.json_body()
        seen_bodies.append(payload)
        assert "query" in payload  # the GraphQL doc is re-sent every page
        after = (payload.get("variables") or {}).get("after")
        start = int(after.split(":", 1)[1]) if after else 0
        page = data[start : start + 10]
        nxt = start + len(page)
        from go_integ_spark.sources.http import HttpResponse

        return HttpResponse(
            status=200,
            headers={},
            body=json.dumps(
                {
                    "data": {
                        "things": {
                            "edges": [{"node": r} for r in page],
                            "pageInfo": {
                                "hasNextPage": nxt < len(data),
                                "endCursor": f"cur:{nxt}",
                            },
                        }
                    }
                }
            ).encode(),
        )

    stream = HttpStream(
        schema=StreamSchema.from_ddl("things", "id bigint, name string"),
        path="/graphql",
        record_path="data.things.edges",
        record_unwrap="node",
        json_body={"query": "query($after: String) { things { } }",
                   "variables": {"after": None}},
        paginator=lambda: GraphQLCursorPaginator(connection_path="data.things"),
    )
    pages, _ = stream.read({"url": "http://api"}, None, transport=transport)
    rows = [r for p in pages for r in p]
    assert rows == data  # 3 pages, lossless, in order
    assert len(seen_bodies) == 3
    assert [b["variables"]["after"] for b in seen_bodies] == [None, "cur:10", "cur:20"]


def test_graphql_paginator_stops_without_page_info():
    """A response with no pageInfo (error shape / empty data) must
    terminate the chain, not crash."""
    from go_integ_spark.sources.http import (
        GraphQLCursorPaginator,
        HttpRequest,
        HttpResponse,
    )

    p = GraphQLCursorPaginator(connection_path="data.things")
    req = HttpRequest(url="http://api/graphql").with_json_body(
        {"query": "q", "variables": {}}
    )
    resp = HttpResponse(status=200, headers={}, body=b'{"data": {}}')
    assert p.next(req, resp, []) is None
