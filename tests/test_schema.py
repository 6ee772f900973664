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


def test_entry_contract_lists_registry_in_name_order():
    """The driver contract lists every registered op in name order, the
    order tests/test_queries_oracle.py and scripts/strict_sweep.py use;
    oracle_sql() is the name-ordered subset of ops that have an oracle."""
    import __spark_entry__ as entry
    from go_integ_spark.registry import load_all

    registry = load_all()
    names = sorted(registry)
    fns = entry.queries()
    assert list(fns) == names
    assert all(fns[n] is registry[n].fn for n in names)
    oracles = entry.oracle_sql()
    assert list(oracles) == [n for n in names if registry[n].oracle is not None]
    assert all(oracles[n] == registry[n].oracle for n in oracles)
