"""Catalog model (reference: pkg/airbyte/types.go:25-40 — Stream,
Catalog): every stream a source offers, as emitted by ``discover``.
A ``read``'s stream selection arrives in the run input
(engine/envelope.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from go_integ_spark.schema.stream import StreamSchema


@dataclass
class CatalogStream:
    """Airbyte catalog entry (pkg/airbyte/types.go:32-40)."""

    schema: StreamSchema

    def to_airbyte(self) -> dict:
        modes = ["full_refresh"]
        if self.schema.incremental:
            modes.append("incremental")
        d = {
            "name": self.schema.name,
            "json_schema": self.schema.json_schema(),
            "supported_sync_modes": modes,
        }
        if self.schema.cursor_field():
            d["default_cursor_field"] = [self.schema.cursor_field()]
        if self.schema.primary_key:
            d["source_defined_primary_key"] = [[f.path] for f in self.schema.primary_key]
        if self.schema.namespace:
            d["namespace"] = self.schema.namespace
        return d


@dataclass
class Catalog:
    streams: list[CatalogStream] = field(default_factory=list)

    def to_airbyte(self) -> dict:
        return {"streams": [s.to_airbyte() for s in self.streams]}

    def names(self) -> list[str]:
        return [s.schema.name for s in self.streams]
