"""Source / stream definitions: the declarative layer binding a
StreamSchema to an HTTP endpoint, pagination style, projection
pushdown, and cursor-incremental state.

Capability parity with the reference's sourceDef (sourcedef.go:13-24:
config type + streams + runners + protocols + concurrency) and its
runner contract. The five reference integrations (pokeapi, shopify,
klaviyo, storm, sitoo) are reproducible as pure declarations — see
tests/test_connectors.py; fully custom extraction drops down to a
``reader`` callable (the source-level UDTF analogue of
HttpRunnerFunc, proto.go:25-29).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

from go_integ_spark.protocols.base import Clock, utc_now
from go_integ_spark.schema.stream import StreamSchema
from go_integ_spark.sources.http import (
    Auth,
    HttpRequest,
    PageFetcher,
    Paginator,
    RateLimiter,
    Retryer,
    SinglePagePaginator,
    Transport,
    urllib_transport,
)


def no_auth(config: dict) -> Auth:
    """Default auth factory (module-level so HttpStream pickles into
    executor tasks for the DataSource path)."""
    return Auth()


@dataclass
class CursorSpec:
    """Cursor-predicate pushdown + state management (reference P3,
    shopify.go:39-72).

    The sync window is [state[state_key] or (now - fallback), now],
    with ``now`` read from the clock once per read; bounds are pushed
    to the server as ``min_param``/``max_param`` query params; the new
    state records the window end — committed only when the read
    finishes (Airbyte semantics) or inline (Singer), per the protocol
    in use.
    """

    cursor_field: str
    min_param: str
    max_param: str | None = None
    state_key: str = "To"
    fallback: dt.timedelta = dt.timedelta(days=3650)  # shopify.go:67-72
    time_format: str = "%Y-%m-%dT%H:%M:%S%z"

    def params(self, state: dict | None, now: dt.datetime) -> dict[str, str]:
        lo = (state or {}).get(self.state_key)
        if not lo:
            lo = (now - self.fallback).strftime(self.time_format)
        p = {self.min_param: lo}
        if self.max_param:
            p[self.max_param] = now.strftime(self.time_format)
        return p

    def new_state(self, now: dt.datetime) -> dict:
        return {self.state_key: now.strftime(self.time_format)}


@dataclass
class Projection:
    """Column-projection pushdown into the HTTP query (reference P1:
    ``fields=`` shopify.go:52 / klaviyo.go:33 / sitoo.go:51, OData
    ``$select=`` storm.go:47; field list from schema.go:72-74).

    With ``expand_param`` set (P2, storm.go:49-55): struct-typed
    fields are requested as server-side expansions —
    ``$expand=Name($select=sub1,sub2)`` — and excluded from the flat
    field list, mirroring the reference's JSON-Schema-object walk.
    """

    param: str = "fields"
    joiner: str = ","
    expand_param: str | None = None

    def params(self, fields: list[str]) -> dict[str, str]:
        return {self.param: self.joiner.join(fields)}

    def params_for(self, struct, fields: list[str]) -> dict[str, str]:
        if self.expand_param is None:
            return self.params(fields)
        from pyspark.sql.types import StructType

        nested = {
            f.name: f.dataType
            for f in struct.fields
            if isinstance(f.dataType, StructType)
        }
        flat = [f for f in fields if f not in nested]
        out = {self.param: self.joiner.join(flat)}
        expansions = [
            f"{name}($select={','.join(sorted(dt.fieldNames()))})"
            for name, dt in sorted(nested.items())
            if name in fields
        ]
        if expansions:
            out[self.expand_param] = ",".join(expansions)
        return out


# (config, state, projected_fields) -> (pages iterator, new_state)
CustomReader = Callable[
    [dict, dict | None, list[str] | None], tuple[Iterator[list[dict]], dict | None]
]


@dataclass
class HttpStream:
    schema: StreamSchema
    path: str = ""  # appended to config["url"]
    record_path: str = ""
    record_unwrap: str = ""  # per-record payload path (GraphQL edges -> node)
    params: dict[str, str] = field(default_factory=dict)
    json_body: dict | None = None  # POST payload (GraphQL query + variables)
    paginator: Callable[[], Paginator] = SinglePagePaginator
    projection: Projection | None = None
    cursor: CursorSpec | None = None
    auth: Callable[[dict], Auth] = no_auth
    reader: CustomReader | None = None  # escape hatch: fully custom extraction
    max_pages: int | None = None

    def read(
        self,
        config: dict,
        state: dict | None,
        transport: Transport | None = None,
        clock: Clock = utc_now,
        fields: list[str] | None = None,
        retryer: Retryer | None = None,
        limiter: RateLimiter | None = None,
    ) -> tuple[Iterator[list[dict]], dict | None]:
        """Run the extraction: yields record pages lazily, returns the
        post-sync state (None for full-refresh streams).
        """
        if self.reader is not None:
            return self.reader(config, state, fields)
        projected = fields if fields is not None else self.schema.field_keys()
        paginator = self.paginator()
        params = dict(self.params)
        params.update(paginator.first_params())
        if self.projection is not None:
            params.update(self.projection.params_for(self.schema.struct, projected))
        new_state: dict | None = None
        if self.cursor is not None:
            now = clock()
            params.update(self.cursor.params(state, now))
            new_state = self.cursor.new_state(now)
        base = config.get("url", "").rstrip("/")
        url = f"{base}{self.path}" if self.path.startswith("/") else (self.path or base)
        first = HttpRequest(url=url).with_params(**params)
        if self.json_body is not None:
            first = first.with_json_body(self.json_body)
        fetcher = PageFetcher(
            transport=transport or urllib_transport(),
            paginator=paginator,
            record_path=self.record_path,
            record_unwrap=self.record_unwrap,
            auth=self.auth(config),
            retryer=retryer or Retryer(),
            max_pages=self.max_pages,
            limiter=limiter,
        )
        return fetcher.pages(first), new_state


@dataclass
class Source:
    """A named connector: config schema + N streams (reference
    sourceDef, sourcedef.go:13-24,62-64). ``concurrency`` caps
    parallel stream syncs (sourcedef.go:63: reference default 1; we
    default higher because Spark jobs are independent).
    """

    name: str
    streams: list[HttpStream]
    config_json_schema: dict = field(default_factory=dict)
    docs_url: str = ""
    concurrency: int = 4
    # Requests/second shared across ALL concurrent stream threads of
    # this source (token bucket) — the coordination the reference
    # sidesteps by forcing concurrency=1 (sourcedef.go:63). None = no
    # limit.
    rate_limit_per_sec: float | None = None

    def make_limiter(self) -> RateLimiter | None:
        if self.rate_limit_per_sec is None:
            return None
        return RateLimiter(rate=self.rate_limit_per_sec, burst=self.concurrency)

    def stream(self, name: str) -> HttpStream:
        for s in self.streams:
            if s.schema.name == name:
                return s
        raise KeyError(f"source {self.name!r} has no stream {name!r}")

    def stream_names(self) -> list[str]:
        return [s.schema.name for s in self.streams]

    def supports_incremental(self) -> bool:
        # reference: sourcedef.go:120-126
        return any(s.schema.incremental for s in self.streams)

    def validate(self) -> None:
        for s in self.streams:
            s.schema.validate()
