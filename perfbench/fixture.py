"""Paginated HTTP API the connector workload syncs from.

Runs in one separate process so the connector under test never shares
an interpreter with its load generator. Every page body is serialized
once at start-up, so a request costs the fixture a dictionary lookup
and a socket write. Pages follow the offset/limit convention
(``?start=&num=``) of the package's ``OffsetLimitPaginator``.

The benchmark seed picks about 5% of the pages; each of them answers
``429`` with ``Retry-After: 0`` the first time it is requested after a
``/_reset``. ``/_stats`` reports the requests served and the 429s
injected since the fixture started.

Run as ``python3 -m perfbench.fixture DATA_DIR SEED``; it prints
``READY <port>`` once it listens on 127.0.0.1.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import subprocess
import sys
import threading
import time
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

PAGE_SIZE = 500
RETRY_SHARE = 0.05
# stream -> (table, key column); the four streams the CLI sync reads.
STREAMS = {
    "orders": ("orders", "o_orderkey"),
    "customer": ("customer", "c_custkey"),
    "part": ("part", "p_partkey"),
    "supplier": ("supplier", "s_suppkey"),
}


def _json_value(v):
    return v.isoformat() if isinstance(v, dt.datetime) else v


def page_bodies(data_dir: str) -> dict[tuple[str, int], bytes]:
    """(stream, offset) -> body for every page a sequential sync
    requests, including the empty page that ends a table whose size is
    a whole number of pages."""
    import pyarrow.parquet as pq

    bodies: dict[tuple[str, int], bytes] = {}
    for stream, (table, _key) in STREAMS.items():
        rows = pq.read_table(os.path.join(data_dir, f"{table}.parquet")).to_pylist()
        for start in range(0, len(rows) + 1, PAGE_SIZE):
            page = [
                {k: _json_value(v) for k, v in r.items()}
                for r in rows[start : start + PAGE_SIZE]
            ]
            bodies[(stream, start)] = json.dumps({"records": page}).encode()
            if len(page) < PAGE_SIZE:
                break
    return bodies


def _serve(data_dir: str, seed: int) -> None:
    bodies = page_bodies(data_dir)
    keys = sorted(bodies)
    throttled = frozenset(
        random.Random(seed).sample(keys, round(RETRY_SHARE * len(keys)))
    )
    lock = threading.Lock()
    state = {"requests": 0, "injected": 0, "answered": set()}

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            url = urlparse(self.path)
            if url.path == "/_reset":
                with lock:
                    state["answered"] = set()
                return self._send(200, b"{}")
            if url.path == "/_stats":
                with lock:
                    body = {"requests": state["requests"], "injected": state["injected"]}
                return self._send(200, json.dumps(body).encode())
            q = parse_qs(url.query)
            key = (url.path.strip("/"), int(q.get("start", ["0"])[0]))
            if key[0] not in STREAMS or int(q.get("num", [PAGE_SIZE])[0]) != PAGE_SIZE:
                return self._send(404, b"{}")
            # Offsets past the end (a strided reader's last step) get an
            # empty page.
            body = bodies.get(key, b'{"records": []}')
            with lock:
                state["requests"] += 1
                retry = key in throttled and key not in state["answered"]
                if retry:
                    state["answered"].add(key)
                    state["injected"] += 1
            if retry:
                return self._send(429, b"{}", {"Retry-After": "0"})
            self._send(200, body)

        def _send(self, status: int, body: bytes, headers: dict | None = None):
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            for k, v in (headers or {}).items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    parent = os.getppid()

    def _watch_parent() -> None:
        # Exit with the benchmark even if it dies without stopping us.
        while os.getppid() == parent:
            time.sleep(1.0)
        os._exit(0)

    threading.Thread(target=_watch_parent, daemon=True).start()
    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    print(f"READY {server.server_address[1]}", flush=True)
    server.serve_forever()


class Fixture:
    """The fixture process, seen from the benchmark. It starts loading
    pages at construction; ``wait_ready`` blocks until it listens."""

    def __init__(self, root: str, data_dir: str, seed: int):
        env = dict(os.environ)
        env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.fixture", data_dir, str(seed)],
            stdout=subprocess.PIPE,
            env=env,
        )
        self.url: str | None = None

    def wait_ready(self) -> None:
        line = self.proc.stdout.readline().decode().split()
        if line[:1] != ["READY"]:
            self.stop()
            raise RuntimeError("fixture process did not start")
        self.url = f"http://127.0.0.1:{line[1]}"
        self.cpu_at_ready = self.cpu_s()

    def _get(self, path: str) -> dict:
        with urllib.request.urlopen(self.url + path, timeout=30) as r:
            return json.loads(r.read())

    def reset(self) -> None:
        """Arm every throttled page to answer 429 once more."""
        self._get("/_reset")

    def stats(self) -> dict:
        return self._get("/_stats")

    def cpu_s(self) -> float:
        """User plus system CPU seconds the fixture process has used."""
        with open(f"/proc/{self.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def stop(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


if __name__ == "__main__":
    _serve(sys.argv[1], int(sys.argv[2]))
