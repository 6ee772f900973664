"""Destination modes (T3) and PK merge (T5): append/overwrite,
partitioned layout, merge-upsert keeping the max-cursor row per
primary key across batches.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from go_integ_spark.schema.stream import StreamSchema
from go_integ_spark.sinks import latest_per_key, merge_upsert, write_table

USERS = StreamSchema.from_ddl(
    "users", "id long, name string, updated_at string", incremental=True
).primary("id").iterated_by("updated_at")


def _df(spark, rows):
    return spark.createDataFrame(rows, schema=USERS.struct)


def test_append_and_overwrite(spark, tmp_path):
    p = str(tmp_path / "t")
    write_table(_df(spark, [(1, "a", "t1")]), p, mode="append")
    write_table(_df(spark, [(2, "b", "t1")]), p, mode="append")
    assert spark.read.parquet(p).count() == 2
    write_table(_df(spark, [(3, "c", "t2")]), p, mode="overwrite")
    assert [r["id"] for r in spark.read.parquet(p).collect()] == [3]


def test_partitioned_layout_prunes(spark, tmp_path):
    p = str(tmp_path / "t")
    df = _df(spark, [(1, "a", "t1"), (2, "b", "t2")])
    write_table(df, p, mode="overwrite", partition_by=["updated_at"])
    back = spark.read.parquet(p).filter(F.col("updated_at") == "t2")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan  # pruning, not a data filter
    assert back.count() == 1


def test_latest_per_key_keeps_max_cursor(spark):
    df = _df(
        spark,
        [(1, "old", "t1"), (1, "new", "t9"), (2, "only", "t5")],
    )
    got = {r["id"]: r["name"] for r in latest_per_key(df, ["id"], "updated_at").collect()}
    assert got == {1: "new", 2: "only"}


def test_merge_upsert_across_batches(spark, tmp_path):
    p = str(tmp_path / "users")
    merge_upsert(spark, _df(spark, [(1, "a", "t1"), (2, "b", "t1")]), p, USERS)
    merge_upsert(spark, _df(spark, [(2, "b2", "t2"), (3, "c", "t2")]), p, USERS)
    back = {r["id"]: (r["name"], r["updated_at"]) for r in spark.read.parquet(p).collect()}
    assert back == {1: ("a", "t1"), 2: ("b2", "t2"), 3: ("c", "t2")}


def test_first_merge_into_missing_path_never_reads(spark, tmp_path, monkeypatch):
    """A missing target is found without a failing read, which would
    make Spark log a listener ERROR for the failed query."""
    from pyspark.sql.readwriter import DataFrameReader

    loads = []
    load = DataFrameReader.load

    def spy(self, *args, **kwargs):
        loads.append(args)
        return load(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "load", spy)
    p = str(tmp_path / "t")
    merge_upsert(spark, _df(spark, [(1, "a", "t1")]), p, USERS)
    assert loads == []
    merge_upsert(spark, _df(spark, [(2, "b", "t1")]), p, USERS)
    assert len(loads) == 1
    assert sorted(r["id"] for r in spark.read.parquet(p).collect()) == [1, 2]


def test_merge_refuses_to_overwrite_on_read_failure(spark, tmp_path):
    """A corrupt/unreadable existing table must abort the merge, not
    silently become a 'first write' that overwrites the table with
    one batch."""
    p = str(tmp_path / "t")
    (tmp_path / "t").mkdir()
    (tmp_path / "t" / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as exc_info:
        merge_upsert(spark, _df(spark, [(1, "a", "t1")]), p, USERS)
    assert "PATH_NOT_FOUND" not in str(exc_info.value)
    # table was not clobbered by the failed merge
    assert (tmp_path / "t" / "part-00000.parquet").read_bytes() == b"not a parquet file"


def test_merge_refuses_schema_drift(spark, tmp_path):
    """Existing table missing an incoming column is drift, not a
    license to overwrite."""
    p = str(tmp_path / "t")
    _df(spark, [(1, "a", "t1")]).select("id", "name").write.parquet(p)
    with pytest.raises(ValueError, match="schema drift"):
        merge_upsert(spark, _df(spark, [(2, "b", "t2")]), p, USERS)


def test_merge_requires_pk(spark, tmp_path):
    nopk = StreamSchema.from_ddl("x", "id long, v string")
    with pytest.raises(ValueError):
        merge_upsert(spark, _df(spark, []), str(tmp_path / "x"), nopk)


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """The bucketing payoff: two tables bucketed on the join key
    co-locate, so the join plans with ZERO exchanges — at 100 TB this
    is the difference between a network-bound and a local join.
    """
    orders = spark.createDataFrame(
        [(i % 50, i, f"s{i % 3}") for i in range(500)],
        "custkey long, orderkey long, status string",
    )
    cust = spark.createDataFrame(
        [(i, f"c{i}") for i in range(50)], "custkey long, name string"
    )
    write_table(orders, str(tmp_path / "o"), mode="overwrite",
                bucket_by=(8, ["custkey"]), table_name="b_orders")
    write_table(cust, str(tmp_path / "c"), mode="overwrite",
                bucket_by=(8, ["custkey"]), table_name="b_cust")
    try:
        # force SMJ so the assertion is about bucketing, not size
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined2 = (
            spark.table("b_orders")
            .join(spark.table("b_cust"), "custkey")
            .groupBy("custkey", "name")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan2 = joined2._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan2, plan2
        assert joined2.count() == 50
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")
