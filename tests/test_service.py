"""HTTP service mode (reference R6): /discover listing, /{source}/
{cmd} dispatch with the NDJSON envelope as request body, longest-
prefix source matching, gzip response negotiation, 404/500 paths.
"""

from __future__ import annotations

import gzip
import json
import urllib.request

import pytest

from go_integ_spark.engine.service import IntegService
from go_integ_spark.examples.connectors import pokeapi, shopify
from tests.stub_server import StubServer


@pytest.fixture(scope="module")
def upstream():
    with StubServer() as s:
        yield s


@pytest.fixture(scope="module")
def service(upstream):
    svc = IntegService({"pokeapi": pokeapi, "shopify": shopify})
    server = svc.serve()
    port = server.server_address[1]
    yield f"http://127.0.0.1:{port}"
    server.shutdown()


def _post(url: str, body: str, headers: dict | None = None) -> tuple[int, bytes, dict]:
    req = urllib.request.Request(
        url, data=body.encode(), method="POST", headers=headers or {}
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read(), dict(resp.headers)
    except urllib.error.HTTPError as e:
        return e.code, e.read(), dict(e.headers)


def test_discover_lists_sources(service):
    with urllib.request.urlopen(f"{service}/discover") as resp:
        assert json.loads(resp.read()) == ["pokeapi", "shopify"]


def test_spec_roundtrip(service):
    status, body, _ = _post(f"{service}/pokeapi/spec", "")
    assert status == 200
    msg = json.loads(body.splitlines()[0])
    assert msg["type"] == "SPEC"


def test_read_with_envelope_body(service, upstream):
    envelope = "\n".join(
        [
            json.dumps({"type": "SETTINGS", "settings": {"format": "airbyte"}}),
            json.dumps({"type": "CONFIG", "config": {"url": upstream.base}}),
        ]
    )
    status, body, _ = _post(f"{service}/pokeapi/read", envelope)
    assert status == 200
    msgs = [json.loads(line) for line in body.splitlines()]
    assert sum(m["type"] == "RECORD" for m in msgs) == 25


def test_gzip_negotiation(service, upstream):
    envelope = json.dumps({"type": "CONFIG", "config": {"url": upstream.base}})
    status, body, headers = _post(
        f"{service}/pokeapi/read", envelope, {"Accept-Encoding": "gzip"}
    )
    assert status == 200
    assert headers.get("Content-Encoding") == "gzip"
    lines = gzip.decompress(body).splitlines()
    assert sum(json.loads(ln)["type"] == "RECORD" for ln in lines) == 25


def test_zstd_negotiation(service, upstream):
    """reference proto.go:196-204: Accept-Zstd wraps the response in
    zstd; round-trip through the repo's own reader."""
    import io

    from go_integ_spark.engine.compress import read_compressed

    envelope = json.dumps({"type": "CONFIG", "config": {"url": upstream.base}})
    status, body, headers = _post(
        f"{service}/pokeapi/read", envelope, {"Accept-Zstd": "1"}
    )
    assert status == 200
    assert headers.get("Content-Encoding") == "zstd"
    assert body[:4] == bytes.fromhex("28b52ffd")  # standard zstd frame
    lines = read_compressed(io.BytesIO(body), "zstd").read().splitlines()
    assert sum(json.loads(ln)["type"] == "RECORD" for ln in lines) == 25


def test_unknown_source_or_cmd_404(service):
    assert _post(f"{service}/nosuch/read", "")[0] == 404
    assert _post(f"{service}/pokeapi/frobnicate", "")[0] == 404


def test_bad_content_length_400(service):
    """A Content-Length that is not an integer >= 0 gets a 400 reply:
    ``abc`` used to drop the connection, and ``-1`` to block the
    handler reading until the client closed."""
    import socket
    import urllib.parse

    addr = urllib.parse.urlparse(service)
    for value in ("abc", "-1"):
        with socket.create_connection((addr.hostname, addr.port), timeout=5) as s:
            s.sendall(
                b"POST /pokeapi/spec HTTP/1.1\r\nHost: x\r\n"
                b"Content-Length: " + value.encode() + b"\r\n\r\n"
            )
            status_line = s.makefile("rb").readline()
        assert status_line.split()[1:2] == [b"400"], (value, status_line)


def test_singer_format_selectable(service, upstream):
    envelope = "\n".join(
        [
            json.dumps({"type": "SETTINGS", "settings": {"format": "singer"}}),
            json.dumps({"type": "CONFIG", "config": {"url": upstream.base}}),
        ]
    )
    status, body, _ = _post(f"{service}/pokeapi/read", envelope)
    assert status == 200
    first = json.loads(body.splitlines()[0])
    assert first["type"] == "SCHEMA"  # Singer emits SCHEMA up-front


# --- R8: signed-token auth (reference cmd/server/main.go:34-98) -----------
@pytest.fixture(scope="module")
def auth_service(upstream):
    from go_integ_spark.engine.auth import generate_keypair

    pub, priv = generate_keypair()
    svc = IntegService({"pokeapi": pokeapi}, allowed_keys=[pub])
    server = svc.serve()
    port = server.server_address[1]
    yield f"http://127.0.0.1:{port}", pub, priv
    server.shutdown()


def _token(priv, prefixes="/pokeapi", expires_in=3600):
    import time

    from go_integ_spark.engine.auth import Token, sign_token

    pub = priv.public_key().public_bytes_raw()
    return sign_token(
        Token(
            expires_at=int(time.time()) + expires_in,
            url_prefixes=prefixes,
            public=pub,
        ),
        priv,
    )


def test_auth_valid_token_passes(auth_service, upstream):
    base, _pub, priv = auth_service
    envelope = json.dumps({"type": "CONFIG", "config": {"url": upstream.base}})
    status, body, _ = _post(
        f"{base}/pokeapi/read",
        envelope,
        {"Authorization": _token(priv)},
    )
    assert status == 200
    assert sum(
        json.loads(ln)["type"] == "RECORD" for ln in body.splitlines()
    ) == 25


def test_auth_missing_expired_or_wrong_path_405(auth_service, upstream):
    base, _pub, priv = auth_service
    envelope = json.dumps({"type": "CONFIG", "config": {"url": upstream.base}})
    for headers in (
        {},  # no token
        {"Authorization": _token(priv, expires_in=-10)},  # expired
        {"Authorization": _token(priv, prefixes="/other")},  # wrong prefix
    ):
        status, body, _ = _post(f"{base}/pokeapi/read", envelope, headers)
        assert status == 405
        assert body == b"auth error"


def test_auth_unknown_key_and_tamper_405(auth_service, upstream):
    from go_integ_spark.engine.auth import generate_keypair

    base, _pub, priv = auth_service
    envelope = json.dumps({"type": "CONFIG", "config": {"url": upstream.base}})
    _, other_priv = generate_keypair()
    status, _, _ = _post(
        f"{base}/pokeapi/read", envelope, {"Authorization": _token(other_priv)}
    )
    assert status == 405  # key not in allowlist

    # tamper: flip a byte inside the signed payload
    tok = _token(priv)
    import base64 as b64

    raw = bytearray(b64.urlsafe_b64decode(tok + "=" * (-len(tok) % 4)))
    raw[70] ^= 0xFF
    bad = b64.urlsafe_b64encode(bytes(raw)).rstrip(b"=").decode()
    status, _, _ = _post(
        f"{base}/pokeapi/read", envelope, {"Authorization": bad}
    )
    assert status == 405


def test_auth_verify_roundtrip_unit():
    import time as _time

    from go_integ_spark.engine.auth import (
        AuthError,
        Token,
        generate_keypair,
        sign_token,
        verify,
    )

    pub, priv = generate_keypair()
    tok = Token(int(_time.time()) + 60, "/a,/b", pub)
    header = sign_token(tok, priv)
    out = verify(header, "/b/read", [pub])
    assert out.url_prefixes == "/a,/b"
    with pytest.raises(AuthError, match="invalid prefix"):
        verify(header, "/c/read", [pub])
    with pytest.raises(AuthError, match="invalid auth len"):
        verify("QUJD", "/a", [pub])
