"""NDJSON input-envelope parsing (reference integ.Open,
proto.go:44-108): a run's input is SETTINGS / CONFIG / STATE /
CATALOG lines; a state keyed by ``""`` is a *global* state fanned out
to every stream (proto.go:90-101).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import IO


@dataclass
class RunInput:
    format: str = ""  # "" -> airbyte default (proto.go:103-107)
    config: dict = field(default_factory=dict)
    states: dict[str, dict] = field(default_factory=dict)
    catalog: dict | None = None  # accepted; stream selection honored
    selected_streams: set[str] | None = None


def parse_envelope(lines: IO[str] | list[str], stream_names: list[str]) -> RunInput:
    out = RunInput()
    for raw in lines:
        raw = raw.strip()
        if not raw:
            continue
        msg = json.loads(raw)
        typ = msg.get("type", "")
        if typ == "SETTINGS":
            settings = msg.get("settings", {})
            out.format = settings.get("format", "") or ""
            streams = settings.get("streams")
            if streams:
                out.selected_streams = set(streams)
        elif typ == "CONFIG":
            out.config = msg.get("config", {})
        elif typ == "STATE":
            state = msg.get("state", {})
            # Global-state fan-out (proto.go:90-101): "" key, or a
            # doc keyed by stream names.
            if "" in state:
                for name in stream_names:
                    out.states[name] = state[""]
            else:
                for k, v in state.items():
                    out.states[k] = v
        elif typ == "CATALOG":
            # accepted; used for stream selection when present
            out.catalog = msg.get("catalog")
            if out.catalog and "streams" in out.catalog:
                names = set()
                for s in out.catalog["streams"]:
                    inner = s.get("stream", s)
                    if "name" in inner:
                        names.add(inner["name"])
                if names:
                    out.selected_streams = names
    return out


class MaskedStr(str):
    """Secret config value: behaves as the real string in code, but
    serializes masked — a length-preserving ``x`` repeat (reference
    MaskedString, utils.go:12-24).
    """

    def masked(self) -> str:
        return "x" * len(self)


def mask_config(config: dict, json_schema: dict | None = None) -> dict:
    """Copy of ``config`` safe to echo in logs/spec output: values
    are masked when they are ``MaskedStr`` or when the source's
    config JSON-Schema marks the property secret (``writeOnly`` per
    JSON-Schema, or the Airbyte ``airbyte_secret`` convention).
    """
    props = (json_schema or {}).get("properties", {})

    def _mask(k: str, v):
        if isinstance(v, MaskedStr):
            return v.masked()
        meta = props.get(k, {})
        if isinstance(v, str) and (meta.get("writeOnly") or meta.get("airbyte_secret")):
            return "x" * len(v)
        return v

    return {k: _mask(k, v) for k, v in config.items()}
