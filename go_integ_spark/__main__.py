"""Airbyte-style connector CLI (reference R7: pkg/airbyte/cmd.go —
argv -> NDJSON envelope -> Handle).

Usage:
    python -m go_integ_spark <module:source> <cmd> \
        [--config file-or-inline-json] [--state ...] [--catalog ...] \
        [--format airbyte|singer]

``<module:source>`` imports ``module`` and takes attribute ``source``
(a go_integ_spark.sources.source.Source). Mirrors the reference's
file-or-inline argument handling (cmd.go:42-71).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

from go_integ_spark.engine.envelope import parse_envelope
from go_integ_spark.engine.lifecycle import Engine


def _load_json_arg(v: str | None):
    # file path or inline JSON (reference cmd.go:42-71)
    if not v:
        return None
    if os.path.exists(v):
        with open(v) as f:
            return json.load(f)
    return json.loads(v)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="go_integ_spark")
    ap.add_argument("source", help="import path module:attr of a Source")
    ap.add_argument("cmd", choices=["spec", "check", "discover", "read"])
    ap.add_argument("--config")
    ap.add_argument("--state")
    ap.add_argument("--catalog")
    ap.add_argument("--format", default="airbyte")
    ap.add_argument("--out", help="output file (default stdout)")
    ap.add_argument(
        "--compression",
        default="none",
        choices=["none", "gzip", "zstd"],
        help="compress the NDJSON output (reference: zstd server "
        "responses, proto.go:196-204)",
    )
    args = ap.parse_args(argv)

    mod_name, _, attr = args.source.partition(":")
    source = getattr(importlib.import_module(mod_name), attr or "source")

    # argv -> NDJSON envelope, parsed like any other run input
    lines = [json.dumps({"type": "SETTINGS", "settings": {"format": args.format}})]
    for typ, key, arg in (
        ("CONFIG", "config", args.config),
        ("STATE", "state", args.state),
        ("CATALOG", "catalog", args.catalog),
    ):
        value = _load_json_arg(arg)
        if value:
            lines.append(json.dumps({"type": typ, key: value}))
    run = parse_envelope(lines, source.stream_names())

    if args.out or args.compression != "none":
        from go_integ_spark.engine.compress import wrap_output

        raw = open(args.out, "wb") if args.out else sys.stdout.buffer
        out = wrap_output(raw, args.compression)
        try:
            Engine().handle(source, args.cmd, run, out)
        finally:
            out.close()
            if args.out:
                raw.close()
    else:
        Engine().handle(source, args.cmd, run, sys.stdout)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
