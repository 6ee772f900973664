"""Round-12 pins: the bin->partition aliasing (driver-predicted
murmur3 placement), the fused/caller-supplied grid sizing, and the
CC edge-list repartition toggle's result-invariance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_integ_spark.session import get_spark

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(master="local[4]", shuffle_partitions=8)
    yield s


class TestMurmur3Parity:
    def test_matches_spark_hash_for_ints(self, spark):
        """_murmur3_int must equal F.hash (Murmur3Hash, seed 42) on
        IntegerType for the whole id range the binner emits — the
        alias search is only sound if the driver predicts Spark's
        partitioning exactly."""
        from go_integ_spark.functions.blocks import _murmur3_int

        vals = list(range(-1000, 1001)) + [2**31 - 1, -(2**31), 123456789]
        df = spark.createDataFrame([(v,) for v in vals], "x int").select(
            "x", F.hash("x").alias("h")
        )
        got = {r["x"]: r["h"] for r in df.collect()}
        for v in vals:
            assert got[v] == _murmur3_int(v), v

    def test_alias_bin_ids_distinct_partitions(self):
        from go_integ_spark.functions.blocks import (
            _murmur3_int,
            alias_bin_ids,
        )

        for n_bins, n_parts in ((7, 32), (256, 256), (1000, 1024)):
            aliases = alias_bin_ids(n_bins, n_parts)
            assert len(aliases) == n_bins
            parts = {_murmur3_int(a) % n_parts for a in aliases}
            assert len(parts) == n_bins  # every bin its own partition
        assert alias_bin_ids(33000, 32768) is None  # past the cap


class TestGridCellSizes:
    def test_caller_supplied_sizes_equal_default(self, spark):
        """grid_block_cogroup(cell_sizes=...) must produce the exact
        pair set the self-sizing path produces (the kNN caller hands
        sizes from its persisted assignment frame)."""
        import pandas as pd

        from go_integ_spark.functions.blocks import grid_block_cogroup

        probes = spark.createDataFrame(
            [(i, i % 5) for i in range(200)], "pid bigint, cell int"
        )
        members = spark.createDataFrame(
            [(i, i % 5) for i in range(300)], "mid bigint, cell int"
        )

        def score(p, m):
            if len(p) == 0 or len(m) == 0:
                return pd.DataFrame({"pid": [], "mid": []}).astype("int64")
            out = p[["pid"]].merge(
                m.rename(columns={"m_cell": "cell"})[["mid"]], how="cross"
            )
            return out[(out.pid + out.mid) % 7 == 0]

        kw = dict(
            keys=["cell"],
            probe_id="pid",
            member_id="mid",
            score_fn=score,
            schema="pid bigint, mid bigint",
            cap=16,
        )
        a = grid_block_cogroup(probes, members, **kw)
        sizes = [((c,), 60, 40) for c in range(5)]
        b = grid_block_cogroup(probes, members, cell_sizes=sizes, **kw)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )

    def test_key_dtype_mismatch_fails_loud(self, spark):
        from go_integ_spark.functions.blocks import grid_block_cogroup

        probes = spark.createDataFrame([(1, 1)], "pid bigint, cell int")
        members = spark.createDataFrame([(1, 1)], "mid bigint, cell bigint")
        with pytest.raises(TypeError, match="dtypes must match"):
            grid_block_cogroup(
                probes,
                members,
                ["cell"],
                "pid",
                "mid",
                lambda p, m: p,
                "pid bigint",
                cap=16,
            )


class TestCCEdgeRepartInvariance:
    def test_components_identical_both_arms(self, spark):
        """The `src`-repartitioned edge list changes only physical
        partitioning (1000x A/B: evidence/SMOKE_r12_1000x_cc_ab*.json); the
        labels stay pinned to the golden components. The 30..36 chain
        needs several rounds and pointer jumps."""
        from go_integ_spark.operators.dedup import connected_components

        rows = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
        rows += [(i, i + 1) for i in range(30, 36)]
        edges = spark.createDataFrame(rows, "doc_a bigint, doc_b bigint")
        got = sorted(map(tuple, connected_components(edges).collect()))
        assert got == [
            (1, 1),
            (2, 1),
            (3, 1),
            (10, 10),
            (11, 10),
            (20, 20),
            (21, 20),
            (22, 20),
            (23, 20),
        ] + [(n, 30) for n in range(30, 37)]
