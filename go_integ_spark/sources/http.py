"""HTTP extraction layer: request building, auth, retry/backoff, and
the page-fetch loop.

Capability parity with the reference's runner contract
(/root/reference/proto.go:25-29 HttpRunnerFunc, frontend.go:47-55
EmitBatch loop) and its delegated request stack (go-requests:
readme.MD:97-117 — retry/429 backoff, JSON exec). Implemented on
stdlib urllib so the reader has zero non-baked dependencies; the
transport is injectable for stub-server tests and for swapping in a
faster client.

Scale note: fetching happens inside DataSource partitions (see
datasource.py) or a driver thread pool (engine/lifecycle.py) —
this module is deliberately session-free and picklable so executors
can run it.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field, replace
from typing import Any


@dataclass(frozen=True)
class HttpRequest:
    url: str
    params: tuple[tuple[str, str], ...] = ()
    headers: tuple[tuple[str, str], ...] = ()
    method: str = "GET"
    body: bytes = b""

    def with_params(self, **params: str) -> "HttpRequest":
        return replace(self, params=self.params + tuple((k, str(v)) for k, v in params.items()))

    def with_headers(self, **headers: str) -> "HttpRequest":
        return replace(self, headers=self.headers + tuple(headers.items()))

    def with_json_body(self, obj: dict) -> "HttpRequest":
        """POST with a JSON payload (GraphQL-style APIs)."""
        headers = tuple((k, v) for k, v in self.headers if k.lower() != "content-type")
        return replace(
            self,
            method="POST",
            body=json.dumps(obj).encode(),
            headers=headers + (("Content-Type", "application/json"),),
        )

    def json_body(self) -> dict:
        return json.loads(self.body)

    def full_url(self) -> str:
        if not self.params:
            return self.url
        sep = "&" if urllib.parse.urlparse(self.url).query else "?"
        return self.url + sep + urllib.parse.urlencode(list(self.params))


@dataclass
class HttpResponse:
    status: int
    headers: dict[str, str]
    body: bytes
    _json: Any = field(default=None, init=False, repr=False, compare=False)

    def json(self) -> dict:
        # decoded once: the fetch loop and body-driven paginators share it
        if self._json is None:
            self._json = json.loads(self.body)
        return self._json


Transport = Callable[[HttpRequest], HttpResponse]


def urllib_transport(timeout: float = 30.0) -> Transport:
    def do(req: HttpRequest) -> HttpResponse:
        r = urllib.request.Request(
            req.full_url(),
            headers=dict(req.headers),
            data=req.body or None,
            method=req.method,
        )
        try:
            with urllib.request.urlopen(r, timeout=timeout) as resp:
                return HttpResponse(
                    status=resp.status,
                    headers={k.lower(): v for k, v in resp.headers.items()},
                    body=resp.read(),
                )
        except urllib.error.HTTPError as e:
            return HttpResponse(
                status=e.code,
                headers={k.lower(): v for k, v in e.headers.items()},
                body=e.read(),
            )

    return do


@dataclass
class Retryer:
    """429/5xx-aware exponential backoff (reference DefaultRetryer,
    utils.go:35-38; policy per readme.MD:103-110). Honors Retry-After
    when present; exponential with jitter-free deterministic delays
    otherwise (determinism > fairness in tests; executors add natural
    jitter at scale).
    """

    max_attempts: int = 5
    base_delay: float = 0.5
    max_delay: float = 30.0
    retry_statuses: frozenset[int] = frozenset({429, 500, 502, 503, 504})
    sleep: Callable[[float], None] = time.sleep

    def execute(self, transport: Transport, req: HttpRequest) -> HttpResponse:
        last: HttpResponse | None = None
        for attempt in range(self.max_attempts):
            resp = transport(req)
            if resp.status < 400:
                return resp
            if resp.status not in self.retry_statuses:
                raise HttpStatusError(req, resp)
            last = resp
            if attempt + 1 < self.max_attempts:
                delay = self._retry_after_seconds(resp.headers.get("retry-after"))
                if delay is None:
                    delay = min(self.base_delay * (2**attempt), self.max_delay)
                self.sleep(delay)
        raise HttpStatusError(req, last)

    @staticmethod
    def _retry_after_seconds(value: str | None) -> float | None:
        """RFC 7231 Retry-After: delta-seconds OR an HTTP-date. An
        unparseable value, or a delta that is not finite and >= 0
        (``inf``, ``nan``, ``-5``), falls back to exponential delay
        instead of crashing a retryable 429/503 mid-backoff."""
        if not value:
            return None
        try:
            delta = float(value)
        except ValueError:
            pass
        else:
            return delta if math.isfinite(delta) and delta >= 0 else None
        try:
            from email.utils import parsedate_to_datetime

            when = parsedate_to_datetime(value)
            now = dt.datetime.now(dt.timezone.utc)
            if when.tzinfo is None:
                when = when.replace(tzinfo=dt.timezone.utc)
            return max(0.0, (when - now).total_seconds())
        except Exception:
            return None


@dataclass
class RateLimiter:
    """Thread-safe token bucket shared by all of a source's stream
    threads — the rate-limit coordination the reference sidesteps by
    forcing concurrency=1 (sourcedef.go:63). ``rate`` requests/second
    refill, ``burst`` bucket depth; ``acquire()`` blocks until a
    token is available. Clock/sleep injectable for deterministic
    tests.
    """

    rate: float
    burst: int = 1
    clock: Callable[[], float] = time.monotonic
    sleep: Callable[[float], None] = time.sleep

    def __post_init__(self) -> None:
        import threading

        if self.rate <= 0:
            raise ValueError(f"rate must be positive, got {self.rate}")
        self._tokens = float(self.burst)
        self._last = self.clock()
        self._lock = threading.Lock()

    def acquire(self) -> None:
        while True:
            with self._lock:
                now = self.clock()
                self._tokens = min(
                    float(self.burst), self._tokens + (now - self._last) * self.rate
                )
                self._last = now
                # 1e-9 tolerance: without it, float rounding can leave
                # tokens at 1.0 - ulp with a computed wait so small the
                # clock cannot advance past it (t + wait == t) — a
                # livelock at full CPU. The matching sleep floor below
                # guarantees forward progress even on a coarse clock.
                if self._tokens >= 1.0 - 1e-9:
                    self._tokens = max(0.0, self._tokens - 1.0)
                    return
                wait = (1.0 - self._tokens) / self.rate
            self.sleep(max(wait, 1e-9))


class HttpStatusError(Exception):
    def __init__(self, req: HttpRequest, resp: HttpResponse | None):
        self.request = req
        self.response = resp
        status = resp.status if resp else "?"
        super().__init__(f"HTTP {status} for {req.full_url()}")


# --------------------------------------------------------------------------
# Auth strategies (reference S11: shopify.go:26 SecretHeader,
# storm.go:43 BasicAuth, sitoo.go:49 basic, klaviyo.go:32 api-key query)
# --------------------------------------------------------------------------
class Auth:
    def apply(self, req: HttpRequest) -> HttpRequest:
        return req


@dataclass
class HeaderSecret(Auth):
    header: str
    value: str

    def apply(self, req: HttpRequest) -> HttpRequest:
        return req.with_headers(**{self.header: self.value})


@dataclass
class BasicAuth(Auth):
    user: str
    password: str

    def apply(self, req: HttpRequest) -> HttpRequest:
        import base64

        tok = base64.b64encode(f"{self.user}:{self.password}".encode()).decode()
        return req.with_headers(Authorization=f"Basic {tok}")


@dataclass
class QueryApiKey(Auth):
    param: str
    key: str

    def apply(self, req: HttpRequest) -> HttpRequest:
        return req.with_params(**{self.param: self.key})


# --------------------------------------------------------------------------
# Pagination strategies (reference S2-S6)
# --------------------------------------------------------------------------
class Paginator:
    """Given the previous request/response, produce the next request
    or None to stop. Strategy per integration style.
    """

    def first_params(self) -> dict[str, str]:
        """Query params the first request carries (none by default)."""
        return {}

    def next(
        self, prev: HttpRequest, resp: HttpResponse, records: list[dict]
    ) -> HttpRequest | None:
        raise NotImplementedError


@dataclass
class NextUrlPaginator(Paginator):
    """Absolute next-page URL in the body (reference S2,
    integrations/pokeapi/poke.go:32-40)."""

    path: str = "next"

    def next(self, prev, resp, records):
        nxt = _dig(resp.json(), self.path)
        if not nxt:
            return None
        return HttpRequest(url=str(nxt), headers=prev.headers)


def parse_link_next(header: str) -> str:
    """Extract rel="next" target from an RFC-5988 Link header
    (reference ParseNext: integrations/shopify/shopify.go:74-84)."""
    for part in header.split(","):
        section = part.split(";")
        if len(section) < 2:
            continue
        if 'rel="next"' in section[1] or "rel=next" in section[1]:
            return section[0].strip().strip("<>")
    return ""


@dataclass
class LinkHeaderPaginator(Paginator):
    """``Link: <url>; rel="next"`` header (reference S3,
    shopify.go:55-64)."""

    def next(self, prev, resp, records):
        nxt = parse_link_next(resp.headers.get("link", ""))
        if not nxt:
            return None
        return HttpRequest(url=nxt, headers=prev.headers)


@dataclass
class MarkerPaginator(Paginator):
    """Body marker token becomes a query param of the next request
    (reference S4, klaviyo.go:36-44)."""

    marker_path: str = "marker"
    param: str = "marker"

    def next(self, prev, resp, records):
        marker = _dig(resp.json(), self.marker_path)
        if marker in (None, 0, ""):
            return None
        params = tuple((k, v) for k, v in prev.params if k != self.param)
        return replace(prev, params=params + ((self.param, str(marker)),))


@dataclass
class ODataPaginator(Paginator):
    """OData ``@odata.nextLink`` follow (reference S5, storm.go:57-65)."""

    def next(self, prev, resp, records):
        nxt = resp.json().get("@odata.nextLink")
        if not nxt:
            return None
        return HttpRequest(url=str(nxt), headers=prev.headers)


@dataclass
class OffsetLimitPaginator(Paginator):
    """offset/limit advance; stop when a page comes back shorter than
    the page size (reference S6, sitoo.go:56-62).

    ``start`` and ``stride`` split one offset chain across N readers:
    reader p of N takes ``start=p * page_size, stride=N`` and fetches
    pages p, p+N, p+2N, ... (the DataSource partitions,
    sources/datasource.py).
    """

    offset_param: str = "start"
    limit_param: str = "num"
    page_size: int = 100
    start: int = 0
    stride: int = 1

    def __post_init__(self) -> None:
        self._offset = self.start

    def first_params(self) -> dict[str, str]:
        return {self.offset_param: str(self.start), self.limit_param: str(self.page_size)}

    def next(self, prev, resp, records):
        if len(records) < self.page_size:
            return None
        self._offset += self.page_size * self.stride
        params = tuple(
            (k, v) for k, v in prev.params if k not in (self.offset_param, self.limit_param)
        )
        return replace(
            prev,
            params=params
            + ((self.offset_param, str(self._offset)), (self.limit_param, str(self.page_size))),
        )


class SinglePagePaginator(Paginator):
    def next(self, prev, resp, records):
        return None


@dataclass
class GraphQLCursorPaginator(Paginator):
    """Relay-style GraphQL connection pagination: each response
    carries ``pageInfo { hasNextPage, endCursor }`` under the
    connection, and the next request re-POSTs the same query with
    ``variables[after] = endCursor``. No reference twin (the
    reference's Shopify integration is REST, shopify.go:46-53), but
    it is the pagination style of that same API's GraphQL successor —
    table stakes for the connector surface.

    ``connection_path`` locates the connection object in the response
    (e.g. ``data.orders``); records live at
    ``{connection_path}.edges`` with payloads under ``node`` (set
    ``record_path``/``record_unwrap`` accordingly on the fetcher).
    """

    connection_path: str = "data"
    cursor_variable: str = "after"

    def next(self, prev, resp, records):
        info = _dig(resp.json(), f"{self.connection_path}.pageInfo")
        if not info or not info.get("hasNextPage"):
            return None
        payload = prev.json_body()
        variables = dict(payload.get("variables") or {})
        variables[self.cursor_variable] = info.get("endCursor")
        return prev.with_json_body({**payload, "variables": variables})


def _dig(obj: dict, path: str):
    cur = obj
    for part in path.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return None
        cur = cur[part]
    return cur


# --------------------------------------------------------------------------
# The page-fetch loop (reference EmitBatch loop, proto.go:283-293)
# --------------------------------------------------------------------------
@dataclass
class PageFetcher:
    """Streams pages of records from a paginated endpoint.

    ``record_path`` locates the record array in each response
    (reference P4: "results"/"value"/"records"; proto.go:283-289).
    Pages are yielded lazily — a long pagination chain never
    materializes in memory (reference pipelining parity, §4).
    """

    transport: Transport
    paginator: Paginator
    record_path: str = ""
    record_unwrap: str = ""  # per-record payload path (GraphQL edges -> node)
    retryer: Retryer = field(default_factory=Retryer)
    auth: Auth = field(default_factory=Auth)
    max_pages: int | None = None
    limiter: RateLimiter | None = None

    def pages(self, first: HttpRequest) -> Iterator[list[dict]]:
        # The paginator and the retryer (and so HttpStatusError's
        # message) see the request without credentials; only the copy
        # handed to the transport is authenticated, once per request.
        def send(r: HttpRequest) -> HttpResponse:
            return self.transport(self.auth.apply(r))

        req: HttpRequest | None = first
        n = 0
        while req is not None:
            if self.limiter is not None:
                self.limiter.acquire()
            resp = self.retryer.execute(send, req)
            body = resp.json()
            records = self.extract_records(body)
            yield records
            n += 1
            if self.max_pages is not None and n >= self.max_pages:
                return
            req = self.paginator.next(req, resp, records)

    def extract_records(self, body) -> list[dict]:
        if self.record_path:
            arr = _dig(body, self.record_path)
        else:
            arr = body
        if arr is None:
            return []
        if not isinstance(arr, list):
            raise ValueError(
                f"record path {self.record_path!r} did not resolve to an array"
            )
        if self.record_unwrap:
            return [_dig(r, self.record_unwrap) for r in arr]
        return arr
