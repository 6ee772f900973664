"""Round-13 optimization pins (evidence/OPTIMIZATION_r13.md §4): the LSH
kernel single-evaluation, the funnel near-dup groupBy ≡ self-join
equivalence, and the q2 window-min ≡ join-back-min equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_integ_spark.session import get_spark

SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(master="local[4]", shuffle_partitions=8)
    yield s


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class TestMinhashSingleKernelEval:
    def test_band_buckets_kernel_evaluated_once(self, spark):
        """Guide §4.4 pin: the explode consumer's inferred
        size/notnull guard must NOT duplicate the minhash kernel —
        the r13 before-plan carried two ArrowEvalPython nodes for
        `_buckets`, doubling the 64-permutation kernel per doc. The
        nondeterministic marking keeps it at exactly one."""
        from go_integ_spark.operators.dedup import (
            _cached_doc_sets,
            lsh_band_buckets,
        )
        from go_integ_spark.tables import load_table

        docs = load_table(spark, SF001, "documents")
        exploded = lsh_band_buckets(_cached_doc_sets(docs)).select(
            "doc_id", F.explode("buckets").alias("bucket")
        )
        detail = _formatted_plan(exploded).split("\n\n", 1)[-1]
        n_kernel_nodes = detail.count(") ArrowEvalPython")
        assert n_kernel_nodes == 1, detail


class TestFunnelDupBEquivalence:
    def test_groupby_form_equals_selfjoin_form(self, spark):
        """The near-dup membership rewrite: 'doc shares a chunk hash
        with a smaller doc' == 'doc is not the min doc_id of at least
        one of its chunk groups'. Pinned on a frame with a hot chunk
        (3 docs), a pair chunk, a unique chunk, and a doc that is min
        of one group but non-min of another."""
        rows = [
            (1, "h1"),
            (2, "h1"),
            (3, "h1"),  # hot chunk: 2 and 3 are dups
            (4, "h2"),
            (5, "h2"),  # pair: 5 is a dup
            (6, "h3"),  # unique: not a dup
            (4, "h4"),
            (2, "h4"),  # 4 is min of h2's group but non-min here -> dup
            (2, "h1"),  # duplicate (doc, hash) occurrence must not matter
        ]
        wins = spark.createDataFrame(rows, "doc_id bigint, chunk_hash string")
        join_form = (
            wins.select(F.col("doc_id").alias("a"), "chunk_hash")
            .join(
                wins.select(F.col("doc_id").alias("b"), "chunk_hash"),
                "chunk_hash",
            )
            .filter(F.col("a") < F.col("b"))
            .select(F.col("b").alias("doc_id"))
            .distinct()
        )
        group_form = (
            wins.groupBy("chunk_hash")
            .agg(
                F.min("doc_id").alias("mn"),
                F.collect_set("doc_id").alias("ds"),
            )
            .filter(F.size("ds") >= 2)
            .select(F.explode("ds").alias("doc_id"), "mn")
            .filter(F.col("doc_id") != F.col("mn"))
            .select("doc_id")
            .distinct()
        )
        jf = sorted(r.doc_id for r in join_form.collect())
        gf = sorted(r.doc_id for r in group_form.collect())
        assert jf == gf == [2, 3, 4, 5]


class TestQ2WindowMinEquivalence:
    def test_window_form_equals_join_back_form(self, spark):
        """q2's r13 restructure: window min per part after the
        selective part join must produce exactly the rows of the r12
        join-back-to-own-aggregate form (min over ALL parts, join
        later). Replays the old form inline at sf0.001 and compares
        full row sets (pre-LIMIT, so the equivalence is on the whole
        relation, not the top-100 slice)."""
        from go_integ_spark.tables import load_table

        li = load_table(spark, SF001, "lineitem")
        cost = li.groupBy("l_partkey", "l_suppkey").agg(
            F.round(
                F.min(F.col("l_extendedprice") / F.col("l_quantity")), 2
            ).alias("unit_cost")
        )
        n = load_table(spark, SF001, "nation")
        r = load_table(spark, SF001, "region").filter(F.col("r_name") == "EUROPE")
        eu = (
            load_table(spark, SF001, "supplier")
            .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
            .select("s_suppkey", "s_name", "s_acctbal", "n_name")
        )
        eu_cost = cost.join(eu, F.col("l_suppkey") == F.col("s_suppkey"))
        p = load_table(spark, SF001, "part").filter(F.col("p_size") == 15)
        cols = ["s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_cost"]

        # r12 form: min over all parts, join back on equality
        mc = eu_cost.groupBy(F.col("l_partkey").alias("mp")).agg(
            F.min("unit_cost").alias("min_cost")
        )
        old = (
            eu_cost.join(
                mc,
                (F.col("mp") == F.col("l_partkey"))
                & (F.col("unit_cost") == F.col("min_cost")),
            )
            .join(p, F.col("p_partkey") == F.col("l_partkey"))
            .select(*cols)
        )

        # r13 form: part join first, window min
        from pyspark.sql import Window

        w = Window.partitionBy("l_partkey")
        new = (
            eu_cost.join(p, F.col("p_partkey") == F.col("l_partkey"))
            .withColumn("min_cost", F.min("unit_cost").over(w))
            .filter(F.col("unit_cost") == F.col("min_cost"))
            .select(*cols)
        )
        assert sorted(map(tuple, old.collect())) == sorted(
            map(tuple, new.collect())
        )
