"""Round-14 optimization pins: the funnel near-dup de-array (VERDICT
r13 item 2) and the cached_persist token key (ADVICE r13)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


class TestFunnelWindowMinEquivalence:
    def test_window_form_equals_selfjoin_form(self, spark):
        """VERDICT r13 item 2: the de-arrayed near-dup membership —
        window min over chunk_hash, no collect_set buffer — must
        produce exactly the self-join form's dup set. Same fixture as
        the r13 pin: a hot chunk, a pair chunk, a unique chunk, a doc
        that is min of one group but non-min of another, and a
        duplicate (doc, hash) occurrence."""
        rows = [
            (1, "h1"),
            (2, "h1"),
            (3, "h1"),
            (4, "h2"),
            (5, "h2"),
            (6, "h3"),
            (4, "h4"),
            (2, "h4"),
            (2, "h1"),
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
        window_form = (
            wins.withColumn(
                "mn", F.min("doc_id").over(Window.partitionBy("chunk_hash"))
            )
            .filter(F.col("doc_id") != F.col("mn"))
            .select("doc_id")
            .distinct()
        )
        jf = sorted(r.doc_id for r in join_form.collect())
        wf = sorted(r.doc_id for r in window_form.collect())
        assert jf == wf == [2, 3, 4, 5]

    def test_funnel_plan_has_no_object_hash_aggregate(self, spark):
        """The de-array's point is the aggregation-buffer class: the
        funnel plan must carry NO ObjectHashAggregate (collect_set's
        physical form) — the near-dup stage is a sort-based window."""
        from go_integ_spark.operators.curation import curation_pipeline_funnel

        df = curation_pipeline_funnel(spark, "/root/testdata/sf0.001")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "ObjectHashAggregate" not in plan
        assert plan.count("Window") >= 1


class TestCachedPersistToken:
    def test_token_change_evicts_instead_of_forking(self, spark):
        """ADVICE r13 (entity.py): a parameter baked into the built
        frame goes through cached_persist's token — changing it must
        EVICT the one live slot, not fork a second persisted frame."""
        from go_integ_spark.functions import cache

        base = spark.range(0, 10)
        cache._slots.pop("_r14_tok", None)
        f1 = cache.cached_persist(
            "_r14_tok", base, lambda: base.filter("id < 5"), token=5
        )
        assert f1.count() == 5
        f2 = cache.cached_persist(
            "_r14_tok", base, lambda: base.filter("id < 3"), token=3
        )
        assert f2.count() == 3
        # one live slot, holding the new token's frame
        assert cache._slots["_r14_tok"][3] == 3
        assert cache._slots["_r14_tok"][2] is f2
        # old frame was unpersisted by the eviction
        assert f1.storageLevel.useMemory is False
        # same token -> served the cached handle
        f3 = cache.cached_persist(
            "_r14_tok", base, lambda: base.filter("id < 3"), token=3
        )
        assert f3 is f2
        cache._slots.pop("_r14_tok")[2].unpersist()

    def test_er_kept_names_single_slot_across_cap_change(
        self, spark, monkeypatch
    ):
        """The entity.py consumer: monkeypatching MAX_BLOCK must reuse
        the ONE er_kept_names slot (evict + rebuild), never leave two
        live persisted frames."""
        import go_integ_spark.operators.entity as entity
        from go_integ_spark.functions import cache

        sf = "/root/testdata/sf0.001"
        cache._slots.pop("er_kept_names", None)
        entity._kept_names(spark, sf)
        monkeypatch.setattr(entity, "MAX_BLOCK", entity.MAX_BLOCK + 7)
        entity._kept_names(spark, sf)
        er_slots = [s for s in cache._slots if s.startswith("er_kept_names")]
        assert er_slots == ["er_kept_names"]
        assert cache._slots["er_kept_names"][3] == entity.MAX_BLOCK
        cache._slots.pop("er_kept_names")[2].unpersist()
