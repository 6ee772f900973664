from __future__ import annotations

import pytest
from pyspark.sql import types as T

from go_integ_spark.schema.stream import (
    Field,
    StreamSchema,
    json_schema_to_spark_type,
    parse_ddl,
    spark_type_to_json_schema,
)


def test_parse_ddl_primitives_and_nested():
    st = parse_ddl(
        "id long, name string, ok boolean, score double, "
        "tags array<string>, meta struct<a: int, b: string>, m map<string, double>"
    )
    assert st["id"].dataType == T.LongType()
    assert st["tags"].dataType == T.ArrayType(T.StringType())
    assert st["meta"].dataType == T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    assert st["m"].dataType == T.MapType(T.StringType(), T.DoubleType())


def test_json_schema_reflection():
    # nested struct parity with reference storm items (types.go:20-31)
    s = StreamSchema.from_ddl(
        "items",
        "StatusId long, PartNo string, IsBuyable boolean, "
        "Product struct<Id: long, ManufacturerId: long, ManufacturerPartNo: string>",
    )
    js = s.json_schema()
    assert js["type"] == "object"
    assert js["properties"]["Product"]["type"] == "object"
    assert js["properties"]["Product"]["properties"]["Id"] == {"type": "integer"}
    # round trip back to spark types
    back = json_schema_to_spark_type(js)
    assert isinstance(back, T.StructType)
    assert back["Product"].dataType["Id"].dataType == T.LongType()


def test_field_keys_sorted_projection():
    # reference FieldKeys: sorted property names (schema.go:72-74)
    s = StreamSchema.from_ddl("u", "b string, a string, c long")
    assert s.field_keys() == ["a", "b", "c"]


def test_key_metadata_builders_and_validate():
    s = (
        StreamSchema.from_ddl("users", "id long, updated_at string")
        .primary(Field("id"))
        .ordered_by(Field("updated_at").desc())
        .iterated_by("updated_at")
    )
    assert s.incremental
    assert s.cursor_field() == "updated_at"
    s.validate()
    bad = StreamSchema.from_ddl("x", "a string").primary(Field("missing"))
    with pytest.raises(ValueError, match="missing"):
        bad.validate()


def test_timestamp_and_binary_json_schema():
    js = spark_type_to_json_schema(parse_ddl("ts timestamp, blob binary"))
    assert js["properties"]["ts"] == {"type": "string", "format": "date-time"}
    assert js["properties"]["blob"]["contentEncoding"] == "base64"


def test_entry_queries_staleness_first_and_complete():
    """The driver-gate ordering contract: every registered query has a
    measured cost entry (new queries must be timed via
    scripts/time_queries.py), and queries() iterates least-recently-
    verified first — a query with no green CORRECTNESS row ever must
    precede every query that already has one, so a time-budgeted gate
    sweep always spends its budget on unverified work."""
    import __spark_entry__ as entry
    from go_integ_spark.registry import load_all

    names = list(entry.queries())
    registry = load_all()
    assert set(names) == set(registry), "queries() must expose the full registry"
    missing = [n for n in names if n not in entry._MEASURED_COST]
    assert not missing, f"untimed queries (run scripts/time_queries.py): {missing}"
    assert set(entry._MEASURED_COST) <= set(registry), "cost entries for unregistered names"

    last_green = entry._last_green_rounds()
    seq = [last_green.get(n, -1) for n in names]
    assert seq == sorted(seq), "least-recently-green must come first"

    # Within a staleness bucket, families interleave: the i-th
    # occurrence of a family must come after all (i-1)-th occurrences.
    fam = {n: (s.tags[0] if s.tags else "misc") for n, s in registry.items()}
    seen: dict[str, int] = {}
    by_bucket: dict[int, list[int]] = {}
    for n in names:
        r = seen.get(fam[n], 0)
        seen[fam[n]] = r + 1
        by_bucket.setdefault(last_green.get(n, -1), []).append(r)
    for bucket, ranks in by_bucket.items():
        assert ranks == sorted(ranks), f"bucket {bucket} not family-interleaved"
    assert set(entry.oracle_sql()) <= set(names)


def test_entry_never_green_backlog_fits_driver_budget():
    """Never-checked-budget guard (VERDICT r6 item 8): every query
    with NO green driver row ever — never gate-checked, or only
    red rows like text_winnow_fingerprint's stale r1 `no_oracle` —
    must sit inside the first DRIVER_GATE_BUDGET positions of the
    gate ordering, so ONE driver round clears the whole backlog.
    Registry growth is what breaks this: each new query lands in the
    -1 staleness bucket, and once that bucket outgrows the driver's
    per-round row budget some queries stay unverified indefinitely
    (round 6 added 58 and the backlog went 14 -> 27). This is the
    structural form of "freeze growth until the backlog clears"."""
    import __spark_entry__ as entry

    DRIVER_GATE_BUDGET = 50  # rows the r6 driver gate actually ran
    last_green = entry._last_green_rounds()
    order = entry._ordered_names()
    never_green = [n for n in order if last_green.get(n, -1) == -1]
    head = set(order[:DRIVER_GATE_BUDGET])
    overflow = [n for n in never_green if n not in head]
    assert not overflow, (
        f"{len(never_green)} never-green queries but only "
        f"{DRIVER_GATE_BUDGET} gate slots; these would stay "
        f"unverified: {overflow} — stop adding queries until the "
        "backlog clears"
    )


def test_entry_staleness_order_burns_down_whole_registry(monkeypatch):
    """Simulated driver rounds with a fixed per-round budget B: if the
    gate greens the first B queries each round, the staleness ordering
    must verify the ENTIRE registry within ceil(N/B) rounds — the
    burn-down guarantee the round-4 blind rotation lacked (a query the
    budget never reached could stay unreached indefinitely)."""
    import __spark_entry__ as entry
    from go_integ_spark.registry import load_all

    registry = load_all()
    budget = 40
    greened: dict[str, int] = {}
    max_rounds = -(-len(registry) // budget)
    for rnd in range(1, max_rounds + 1):
        monkeypatch.setattr(entry, "_ORDER_CACHE", None)
        monkeypatch.setattr(
            entry, "_last_green_rounds", lambda d=dict(greened): d
        )
        for n in entry._ordered_names()[:budget]:
            greened[n] = rnd
    monkeypatch.setattr(entry, "_ORDER_CACHE", None)
    assert set(greened) == set(registry)
