"""HTTP service mode (reference R6: proto.go:149-212,
cmd/server/main.go:23-32,100-120).

Routes:
- ``GET /discover``          -> JSON list of registered source names
  (proto.go:151-161)
- ``POST /{source}/{cmd}``   -> run the lifecycle command; the request
  body is the SETTINGS/CONFIG/STATE NDJSON envelope (proto.go:189-212)
  and the response is the protocol NDJSON stream. Longest-prefix
  source matching mirrors proto.go:163-168; the command is the last
  path segment (proto.go:191-192).

Compression: the reference wraps responses in zstd when the client
sends ``Accept-Zstd`` (proto.go:196-204); honored here too (codec
from pyarrow's bundled libzstd — engine/compress.py), alongside
standard ``Accept-Encoding: gzip``/``zstd``.

Built on stdlib http.server: the service is a control-plane shim in
front of the engine, not a data-plane component — heavy reads go
through Spark jobs, so a threaded stdlib server is the right weight.
Signed-token auth (R8, cmd/server/main.go:34-98): pass
``allowed_keys`` (Ed25519 public keys) and every request must carry a
valid Authorization token (engine/auth.py, wire-compatible with the
reference's NaCl tokens); failures answer 405 like the reference
(main.go:113).
"""

from __future__ import annotations

import io
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from go_integ_spark.engine.compress import wrap_output
from go_integ_spark.engine.envelope import parse_envelope
from go_integ_spark.engine.lifecycle import Engine
from go_integ_spark.sources.source import Source

COMMANDS = ("spec", "check", "discover", "read")


class IntegService:
    """A set of named sources served over HTTP (reference Handler,
    proto.go:149-172)."""

    def __init__(
        self,
        sources: dict[str, Source],
        engine: Engine | None = None,
        allowed_keys: list[bytes] | None = None,
    ):
        self.sources = dict(sources)
        self.engine = engine or Engine()
        self.allowed_keys = allowed_keys

    def check_auth(self, handler: BaseHTTPRequestHandler) -> bool:
        """True if the request may proceed; answers 405 otherwise
        (reference main.go:110-116)."""
        if self.allowed_keys is None:
            return True
        from go_integ_spark.engine.auth import AuthError, verify

        try:
            verify(
                handler.headers.get("Authorization", ""),
                handler.path,
                self.allowed_keys,
            )
            return True
        except AuthError:
            msg = b"auth error"
            handler.send_response(405)
            handler.send_header("Content-Length", str(len(msg)))
            handler.end_headers()
            handler.wfile.write(msg)
            return False

    def match_source(self, path: str) -> tuple[str, Source] | None:
        """Longest-prefix match of /{source}/... (proto.go:163-168)."""
        best: tuple[str, Source] | None = None
        for name, src in self.sources.items():
            if path == f"/{name}" or path.startswith(f"/{name}/"):
                if best is None or len(name) > len(best[0]):
                    best = (name, src)
        return best

    def handler_class(self) -> type[BaseHTTPRequestHandler]:
        service = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test servers
                pass

            def do_GET(self):
                if not service.check_auth(self):
                    return
                if self.path.rstrip("/") == "/discover":
                    body = json.dumps(sorted(service.sources)).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                else:
                    self.send_error(404)

            def do_POST(self):
                if not service.check_auth(self):
                    return
                matched = service.match_source(self.path)
                cmd = self.path.rstrip("/").rsplit("/", 1)[-1]
                if matched is None or cmd not in COMMANDS:
                    self.send_error(404)
                    return
                _, source = matched
                try:
                    length = int(self.headers.get("Content-Length") or 0)
                except ValueError:
                    length = -1
                if length < 0:
                    # rfile.read(-1) would block until the client closes
                    self.send_error(400, "Content-Length must be an integer >= 0")
                    return
                body = self.rfile.read(length).decode("utf-8")
                accept = self.headers.get("Accept-Encoding", "")
                # reference parity: Accept-Zstd wins (proto.go:196-204);
                # Accept-Encoding: gzip/zstd also honored
                codec = None
                if self.headers.get("Accept-Zstd") or "zstd" in accept:
                    codec = "zstd"
                elif "gzip" in accept:
                    codec = "gzip"
                raw = io.BytesIO()
                try:
                    run = parse_envelope(
                        body.splitlines(), source.stream_names()
                    )
                    out = wrap_output(raw, codec or "none")
                    service.engine.handle(source, cmd, run, out)
                    out.close()
                except Exception as e:  # noqa: BLE001 - surface as 500
                    msg = str(e).encode()
                    self.send_response(500)
                    self.send_header("Content-Length", str(len(msg)))
                    self.end_headers()
                    self.wfile.write(msg)
                    return
                payload = raw.getvalue()
                self.send_response(200)
                self.send_header("Content-Type", "application/x-ndjson")
                if codec:
                    self.send_header("Content-Encoding", codec)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        return Handler

    def serve(self, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
        """Start a threaded server; returns it (caller shuts down).
        ``server.server_address[1]`` is the bound port."""
        server = ThreadingHTTPServer((host, port), self.handler_class())
        t = threading.Thread(target=server.serve_forever, daemon=True)
        t.start()
        return server
