"""In-process stub HTTP server serving deterministic paginated
fixtures for all five pagination styles (FIXTURES.md Part A).
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


def make_fixtures(base: str) -> dict:
    """route -> callable(query, headers) -> (status, headers, body-dict)"""

    pokemon = [{"name": f"poke{i}", "url": f"{base}/pokemon/{i}"} for i in range(25)]
    users = [
        {
            "id": i,
            "email": f"u{i}@example.com",
            "created_at": f"2022-01-{i % 28 + 1:02d}T00:00:00+00:00",
            "updated_at": f"2022-03-{i % 28 + 1:02d}T00:00:00+00:00",
            "verified_email": i % 2 == 0,
            "accepts_marketing": i % 3 == 0,
        }
        for i in range(12)
    ]
    members = [{"id": f"m{i}", "email": f"m{i}@example.com"} for i in range(30)]
    storm_orders = [
        {"Id": i, "OrderNo": float(1000 + i), "OrderDate": f"2022-02-{i % 28 + 1:02d}"}
        for i in range(15)
    ]
    sitoo_users = [
        {"userid": f"s{i}", "email": f"s{i}@example.com", "company": f"co{i % 3}"}
        for i in range(23)
    ]

    def poke_route(q, h):
        offset = int(q.get("offset", ["0"])[0])
        limit = int(q.get("limit", ["100"])[0])
        limit = min(limit, 10)  # force pagination
        page = pokemon[offset : offset + limit]
        nxt = (
            f"{base}/pokemon?offset={offset + limit}&limit={limit}"
            if offset + limit < len(pokemon)
            else None
        )
        return 200, {}, {"count": len(pokemon), "next": nxt, "results": page}

    def shopify_users_route(q, h):
        if h.get("X-Shopify-Access-Token") != "sekret":
            return 401, {}, {"error": "unauthorized"}
        lo = q.get("updated_at_min", [""])[0]
        hi = q.get("updated_at_max", ["9999"])[0]
        rows = [u for u in users if lo <= u["updated_at"] <= hi]
        fields = q.get("fields", [""])[0]
        if fields:
            keep = fields.split(",")
            rows = [{k: v for k, v in r.items() if k in keep} for r in rows]
        page_idx = int(q.get("page", ["0"])[0])
        page = rows[page_idx * 5 : page_idx * 5 + 5]
        headers = {}
        if (page_idx + 1) * 5 < len(rows):
            from urllib.parse import urlencode

            qs = urlencode(
                [(k, v[0]) for k, v in q.items() if k != "page"]
                + [("page", str(page_idx + 1))]
            )
            headers["Link"] = f'<{base}/users.json?{qs}>; rel="next"'
        return 200, headers, {"users": page}

    def klaviyo_route(q, h):
        if q.get("api_key", [""])[0] != "klav-key":
            return 401, {}, {"error": "unauthorized"}
        marker = int(q.get("marker", ["0"])[0])
        page = members[marker : marker + 8]
        nxt = marker + 8 if marker + 8 < len(members) else None
        body = {"records": page}
        if nxt:
            body["marker"] = nxt
        return 200, {}, body

    def storm_route(q, h):
        skip = int(q.get("skip", ["0"])[0])
        page = storm_orders[skip : skip + 6]
        # OData $expand: attach the nested object only when requested
        # (mirrors storm.go:49-55 server-side denormalization)
        if "Customer($select=Id,Name)" in q.get("$expand", [""])[0]:
            page = [
                {**r, "Customer": {"Id": r["Id"] * 10, "Name": f"cust{r['Id']}"}}
                for r in page
            ]
        body = {"value": page}
        if skip + 6 < len(storm_orders):
            body["@odata.nextLink"] = f"{base}/Orders?skip={skip + 6}"
        return 200, {}, body

    def sitoo_route(q, h):
        start = int(q.get("start", ["0"])[0])
        num = int(q.get("num", ["10"])[0])
        return 200, {}, {"items": sitoo_users[start : start + num]}

    sitoo_orders = [{"orderid": i, "email": f"o{i}@example.com"} for i in range(7)]

    def shopify_orders_route(q, h):
        if h.get("X-Shopify-Access-Token") != "sekret":
            return 401, {}, {"error": "unauthorized"}
        return 200, {}, {"orders": []}

    def orders_json_route(q, h):
        if "X-Shopify-Access-Token" in h:
            return shopify_orders_route(q, h)
        start = int(q.get("start", ["0"])[0])
        num = int(q.get("num", ["10"])[0])
        return 200, {}, {"items": sitoo_orders[start : start + num]}

    flaky_state = {"calls": 0}

    def flaky_route(q, h):
        flaky_state["calls"] += 1
        if flaky_state["calls"] <= 2:
            return 429, {"Retry-After": "0"}, {"error": "rate limited"}
        return 200, {}, {"results": [{"name": "ok", "url": "u"}], "next": None}

    def users_json_route(q, h):
        # shared path: shopify (header token) vs sitoo (basic auth)
        if "X-Shopify-Access-Token" in h:
            return shopify_users_route(q, h)
        return sitoo_route(q, h)

    # offset/limit endpoint that 429s the FIRST request for every
    # offset (deterministic), then serves it — exercises executor-side
    # retry in the distributed DataSource path.
    flaky_offsets_seen: set = set()

    def flaky_users_route(q, h):
        start = int(q.get("start", ["0"])[0])
        if start not in flaky_offsets_seen:
            flaky_offsets_seen.add(start)
            return 429, {"Retry-After": "0"}, {"error": "rate limited"}
        num = int(q.get("num", ["10"])[0])
        return 200, {}, {"items": sitoo_users[start : start + num]}

    return {
        "/pokemon": poke_route,
        "/users.json": users_json_route,
        "/members": klaviyo_route,
        "/Orders": storm_route,
        "/orders.json": orders_json_route,
        "/flaky": flaky_route,
        "/flaky_users.json": flaky_users_route,
        "_data": {
            "pokemon": pokemon,
            "users": users,
            "members": members,
            "storm_orders": storm_orders,
            "sitoo_users": sitoo_users,
        },
    }


class StubServer:
    def __init__(self):
        self.httpd: ThreadingHTTPServer | None = None
        self.fixtures: dict = {}

    def __enter__(self) -> "StubServer":
        fixtures_holder = {}

        class Handler(BaseHTTPRequestHandler):
            def do_GET(handler):  # noqa: N805
                parsed = urlparse(handler.path)
                route = fixtures_holder.get(parsed.path)
                if route is None:
                    handler.send_response(404)
                    handler.end_headers()
                    handler.wfile.write(b"{}")
                    return
                q = parse_qs(parsed.query)
                status, headers, body = route(q, dict(handler.headers))
                payload = json.dumps(body).encode()
                handler.send_response(status)
                for k, v in headers.items():
                    handler.send_header(k, v)
                handler.send_header("Content-Type", "application/json")
                handler.send_header("Content-Length", str(len(payload)))
                handler.end_headers()
                handler.wfile.write(payload)

            def log_message(self, *a):  # silence
                pass

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.base = f"http://127.0.0.1:{self.httpd.server_port}"
        self.fixtures = make_fixtures(self.base)
        fixtures_holder.update({k: v for k, v in self.fixtures.items() if k != "_data"})
        threading.Thread(target=self.httpd.serve_forever, daemon=True).start()
        return self

    def __exit__(self, *exc):
        if self.httpd:
            self.httpd.shutdown()
            self.httpd.server_close()

    @property
    def data(self) -> dict:
        return self.fixtures["_data"]


@dataclass
class QueryLogTransport:
    """Picklable transport that appends each request's query string
    (as a JSON object of first values) to ``log_path``, then sends it
    over urllib — shows what executor-side reads actually asked for.
    """

    log_path: str

    def __call__(self, req):
        from go_integ_spark.sources.http import urllib_transport

        url = req.full_url()
        query = {k: v[0] for k, v in parse_qs(urlparse(url).query).items()}
        with open(self.log_path, "a") as f:
            f.write(json.dumps(query) + "\n")
        return urllib_transport()(req)
