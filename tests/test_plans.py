"""Plan-shape assertions: the scale properties the row-level oracle
can't see. Each test pins a physical-plan guarantee an operator
relies on at 100 TB — if a refactor silently breaks pushdown, drops a
broadcast, or adds a shuffle, these fail before any cluster does.
"""

from __future__ import annotations

import pytest

from go_integ_spark.plans import (
    count_op,
    executed_plan,
    pushed_filters,
    read_schemas,
    shuffle_count,
)
from go_integ_spark.registry import load_all

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _df(registry, spark, name):
    return registry[name].fn(spark, SF_DIR)


def test_q1_filter_and_pruning_reach_scan(registry, spark):
    df = _df(registry, spark, "q1_pricing_summary")
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # 7 needed columns, not the full 11-column lineitem schema
    (schema,) = read_schemas(df)
    assert "l_orderkey" not in schema and "l_partkey" not in schema
    # map-side partial aggregation before the exchange
    assert "partial_sum" in executed_plan(df)


def test_q6_all_predicates_pushed(registry, spark):
    df = _df(registry, spark, "q6_forecast_revenue")
    fs = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in fs, f"{col} not pushed to scan"


def test_q5_broadcasts_fixed_dims(registry, spark):
    df = _df(registry, spark, "q5_local_supplier_volume")
    assert count_op(df, "BroadcastHashJoin") >= 2  # nation + region


def test_q7_nation_filter_cuts_before_fact_join(registry, spark):
    df = _df(registry, spark, "q7_volume_shipping")
    assert count_op(df, "BroadcastHashJoin") >= 2
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_topk_uses_sort_limit_not_global_sort(registry, spark):
    df = _df(registry, spark, "sort_limit_top_lineitems")
    assert "TakeOrderedAndProject" in executed_plan(df)
    assert count_op(df, "Exchange rangepartitioning") == 0


def test_semi_anti_joins_planned_as_such(registry, spark):
    semi = _df(registry, spark, "join_semi_customers_with_orders")
    anti = _df(registry, spark, "join_anti_customers_without_orders")
    assert "LeftSemi" in executed_plan(semi)
    assert "LeftAnti" in executed_plan(anti)


def test_q22_scalar_subquery_broadcasts(registry, spark):
    df = _df(registry, spark, "q22_idle_customers")
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_shingle_sets_single_shuffle(registry, spark):
    """Shingle-set construction must stay row-local: exactly one
    exchange (the deliberate corpus _spread), nothing per-shingle."""
    from go_integ_spark.operators.dedup import doc_shingle_sets
    from go_integ_spark.tables import load_table

    # cold plan: a cached doc_sets from an earlier LSH run would be
    # substituted here and its debug string double-counts exchanges
    spark.catalog.clearCache()
    df = doc_shingle_sets(load_table(spark, SF_DIR, "documents"))
    assert shuffle_count(df) == 1


def test_exact_dedup_partial_aggregates(registry, spark):
    df = _df(registry, spark, "dedup_exact")
    assert "partial_" in executed_plan(df)


def test_incremental_cursor_pushdown(registry, spark):
    """The incremental read's cursor predicate must reach the scan —
    this is the Spark analogue of the reference's cursor-window
    pushdown (shopify.go:46-53) — and so must its projection: the 5
    stream columns, not all of events.parquet."""
    df = _df(registry, spark, "connector_file_incremental_read")
    assert "GreaterThan(ts" in pushed_filters(df), "cursor predicate not pushed to scan"
    (schema,) = read_schemas(df)
    fields = schema.removeprefix("struct<").removesuffix(">").split(",")
    assert [f.split(":")[0] for f in fields] == [
        "event_id", "ts", "user_id", "event_type", "value"
    ], schema


def test_range_join_is_hash_not_nested_loop(registry, spark):
    """The binned interval join must plan as an equi-join; the bare
    BETWEEN formulation would be a BroadcastNestedLoopJoin."""
    df = _df(registry, spark, "range_join_error_clicks")
    plan = executed_plan(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_incremental_lsh_never_joins_corpus_to_itself(registry, spark):
    """The incremental dedup must join new-batch buckets to corpus
    buckets — a plan with a bucket self-join (corpus x corpus) defeats
    the point. Both bucket sides must carry the split filter."""
    df = _df(registry, spark, "dedup_incremental_lsh")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # the % 10 split predicates survive into the plan (both sides)
    assert plan.count("% 10") >= 2


def test_gapfill_touches_corpus_exactly_twice(spark):
    """Bounds + counts: exactly two events scans; the spine side must
    never scale with the corpus."""
    from go_integ_spark.operators.events import hourly_gapfill

    df = hourly_gapfill(spark, SF_DIR)
    schemas = read_schemas(df)
    assert len(schemas) == 2  # two scans of events.parquet, nothing else


def test_embedding_dedup_has_no_cross_join(registry, spark):
    """Candidate generation must be the IVF-cell equi-join — a plan
    regression to the all-pairs inequality join shows up as a
    CartesianProduct / BroadcastNestedLoopJoin."""
    df = _df(registry, spark, "dedup_embedding_cosine")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_sample_stratified_is_shuffle_free_and_pruned(registry, spark):
    df = _df(registry, spark, "sample_stratified")
    assert shuffle_count(df) == 0  # pure row-local hash filter
    (schema,) = read_schemas(df)
    assert "doc_id" in schema and "lang" in schema
    assert "text" not in schema  # never reads document bodies


def test_corpus_token_stats_single_agg_shuffle(registry, spark):
    df = _df(registry, spark, "corpus_token_stats")
    assert shuffle_count(df) == 1
    (schema,) = read_schemas(df)
    assert "doc_id" not in schema  # only text + group keys


def test_pii_redact_shuffle_free(registry, spark):
    df = _df(registry, spark, "text_pii_redact")
    assert shuffle_count(df) == 0


def test_weighted_sample_shuffle_free_and_pruned(registry, spark):
    df = _df(registry, spark, "curation_weighted_sample")
    assert shuffle_count(df) == 0  # row-local hash coin
    (schema,) = read_schemas(df)
    assert "text" not in schema  # never reads document bodies


def test_quality_filter_is_broadcast_two_pass(registry, spark):
    """Cutoffs must arrive via broadcast join; the corpus side is
    never windowed or sorted."""
    df = _df(registry, spark, "curation_quality_filter")
    plan = executed_plan(df)
    assert count_op(df, "BroadcastHashJoin") >= 1
    assert "Window" not in plan


def test_pack_sequences_window_is_sharded(registry, spark):
    """The packing window must partition by (lang, shard), never by
    the 5-value lang alone."""
    import re

    df = _df(registry, spark, "curation_pack_sequences")
    plan = executed_plan(df)
    m = re.search(r"windowspecdefinition\(([^)]*?) ASC", plan)
    assert m is not None
    assert "shard" in m.group(1)


def test_spend_quartiles_two_pass_rank(registry, spark):
    """The scale-safe shape: the row_number rank window is partitioned
    by (segment, slice_id) — never by the 5-value segment alone over
    the data — and the per-slice offsets arrive via broadcast join.
    The spend sum still gets a map-side partial pass.
    """
    import re

    df = _df(registry, spark, "window_spend_quartiles")
    plan = executed_plan(df)
    m = re.search(r"row_number\(\) windowspecdefinition\(([^(]*?) DESC", plan)
    assert m is not None, "rank window missing"
    assert "slice_id" in m.group(1), "rank window must be sliced, not per-segment"
    # customer-join broadcast at test scale + the offsets broadcast
    assert count_op(df, "BroadcastHashJoin") >= 2
    assert "partial_sum" in plan


def test_q21_decorrelation_scans_lineitem_once(registry, spark):
    """The EXISTS/NOT-EXISTS pair is decorrelated into aggregates
    over one (orderkey, suppkey) rollup — the classic 4-scan
    formulation would show multiple lineitem scans and a self-join.
    """
    df = _df(registry, spark, "q21_late_supplier_wait")
    plan = executed_plan(df)
    li_scans = [s for s in read_schemas(df) if "l_suppkey" in s]
    assert len(li_scans) == 1, f"lineitem scanned {len(li_scans)}x"
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_q2_topk_and_broadcast_dims(registry, spark):
    """The final ORDER BY .. LIMIT must be TakeOrderedAndProject (no
    global range-partitioned sort), and the region-filtered supplier
    dim must arrive at the fact via broadcast."""
    df = _df(registry, spark, "q2_min_cost_supplier")
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert count_op(df, "Exchange rangepartitioning") == 0
    assert count_op(df, "BroadcastHashJoin") >= 3  # nation, region, eu-supplier, part


def test_q11_threshold_arrives_by_broadcast(registry, spark):
    """The scalar 0.1% threshold must be a broadcast join back onto
    the per-part aggregate, never a driver collect / literal."""
    df = _df(registry, spark, "q11_important_part_value")
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert any("l_shipdate" not in s and "l_partkey" in s for s in read_schemas(df))


def test_q16_exclusion_is_broadcast_anti_join(registry, spark):
    df = _df(registry, spark, "q16_supplier_part_count")
    plan = executed_plan(df)
    assert "LeftAnti" in plan
    # distinct-count expands to two-phase partial aggregate
    assert "partial_count" in plan or "count(distinct" in plan.lower()


def test_cdc_snapshot_diff_single_shuffle(registry, spark):
    # Both snapshots' arg-max rows come out of ONE groupBy(user_id):
    # exactly one exchange, no self-join of events to itself.
    df = _df(registry, spark, "cdc_snapshot_diff")
    assert shuffle_count(df) == 1
    plan = executed_plan(df)
    assert "partial_max" in plan  # map-side combine before the exchange
    assert count_op(df, "SortMergeJoin") == 0
    assert count_op(df, "BroadcastHashJoin") == 0


def test_exact_substring_partial_aggregates(registry, spark):
    # Window hashing is row-local; count(distinct doc_id) plans as
    # Spark's two-phase distinct aggregate — exactly the two
    # hash-key-only exchanges, each fed by a map-side partial.
    df = _df(registry, spark, "dedup_exact_substring")
    assert shuffle_count(df) == 2
    plan = executed_plan(df)
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning(chunk_hash") == 2


def test_transition_matrix_single_wide_shuffle(registry, spark):
    # One shuffle on user_id for the lag window; everything after the
    # |types|^2 aggregate is tiny (single-partition window is fine).
    df = _df(registry, spark, "events_transition_matrix")
    plan = executed_plan(df)
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_heavy_hitters_salted_topk_and_partial_agg(registry, spark):
    """Top terms per language must use the salted two-phase top-k
    (two row_number windows: per-(lang,salt) then per-lang over
    survivors), never a single window over the full vocabulary of a
    5-value lang partition; the token count gets a map-side partial
    pass before its exchange.
    """
    df = _df(registry, spark, "text_heavy_hitters")
    plan = executed_plan(df)
    assert "partial_count" in plan
    assert plan.count("Window [row_number()") == 2
    assert "salt" in plan
    # Spark's rank-limit pushdown prunes rows before each sort
    assert "WindowGroupLimit" in plan


def test_word_stats_shuffle_free_and_pruned(registry, spark):
    """Per-doc word stats are a pure projection: zero shuffles, and
    the scan reads only (doc_id, text)."""
    df = _df(registry, spark, "text_word_stats")
    assert shuffle_count(df) == 0
    (schema,) = read_schemas(df)
    assert "lang" not in schema and "source" not in schema


def test_sketch_accuracy_single_agg_pass(registry, spark):
    """Sketches and exact twins ride ONE aggregation (one scan, one
    exchange of fixed-size partial state) — no per-sketch jobs."""
    df = _df(registry, spark, "agg_sketch_accuracy")
    plan = executed_plan(df)
    assert plan.count("FileScan") == 1 or plan.count("Scan parquet") == 1
    assert shuffle_count(df) <= 2  # partial->final agg (+ AQE final single partition)


def test_ivfpq_index_build_is_joinless_and_probe_broadcasts(registry, spark):
    """IVF-PQ's scale contract: cell assignment + PQ encode never put
    a join in the plan (the codebook rides as an inline literal), the
    only join is the broadcast probe-list equi-join, and nothing
    degenerates into a nested-loop/cartesian product."""
    df = _df(registry, spark, "ann_ivfpq_topk")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert count_op(df, "BroadcastHashJoin") == 1  # probes only
    assert count_op(df, "SortMergeJoin") == 0


def test_dedup_paragraph_shuffles_hashes_only(registry, spark):
    """Paragraph dedup moves (doc_id, para_id, 8-byte hash) through
    exactly two exchanges — first-occurrence ranking on the hash,
    then the per-doc rollup; the text column never crosses a shuffle
    (extraction is map-side)."""
    df = _df(registry, spark, "dedup_paragraph")
    assert shuffle_count(df) == 2
    plan = executed_plan(df)
    # the exchanges carry hash/count columns, never the text payload
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_bigram_logprob_scoring_is_map_side(registry, spark):
    """r10: scoring is ONE map-side Arrow pass over the docs scan
    against the broadcast model (the CCNet KenLM-per-worker shape) —
    the returned plan must carry NO join and NO shuffle at all (the
    model fit runs as its own collect at build time, with map-side
    partial aggregation; its corpus-sized per-doc shuffle is gone)."""
    df = _df(registry, spark, "text_bigram_logprob")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert shuffle_count(df) == 0
    assert "MapInPandas" in plan


def test_interval_overlap_is_hash_join(registry, spark):
    """Interval x interval overlap must plan as the binned hash
    equi-join — the bare double-inequality formulation degenerates to
    a nested loop."""
    df = _df(registry, spark, "join_interval_overlap")
    plan = executed_plan(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_token_budget_select_avoids_global_sort(registry, spark):
    """The greedy token-budget selection must NOT plan a per-language
    global sort (single-reducer skew at scale): the group/boundary
    tables join back as broadcasts and the only window runs over the
    single boundary token-count group."""
    df = _df(registry, spark, "curation_token_budget_select")
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert count_op(df, "SortMergeJoin") == 0
    # windows appear once (boundary group ranking), never over the
    # full corpus ordering by tokens
    assert plan.count("Window") <= 1


def test_srp_buckets_no_join_before_cogroup(registry, spark):
    """SRP candidate generation is bucket-and-enumerate: the only
    join in the plan is the pair-verification cogroup machinery —
    never a corpus-vs-corpus join. The bucket keys come from ONE
    Arrow-batched projection over the scan."""
    df = _df(registry, spark, "dedup_srp_buckets")
    plan = executed_plan(df)
    assert "ArrowEvalPython" in plan or "FlatMapGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mmr_candidate_generation_is_broadcast_scored(registry, spark):
    """MMR's retrieval stage must broadcast the bounded query set and
    stream the corpus (scan-bound scoring, like ann_bruteforce); the
    re-rank itself is one grouped Arrow batch per query."""
    df = _df(registry, spark, "similarity_mmr_rerank")
    plan = executed_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan


def test_classifier_score_shuffle_free_and_pruned(registry, spark):
    # Model-based filtering must stay a pure scan-bound map: one JVM
    # aggregate HOF per row, nothing moves.
    df = _df(registry, spark, "text_classifier_score")
    assert shuffle_count(df) == 0
    (schema,) = read_schemas(df)
    assert "text" in schema and "lang" not in schema and "source" not in schema


def test_countmin_build_partial_and_probe_broadcast(registry, spark):
    # The CMS grid build partial-aggregates map-side (the token stream
    # collapses into the fixed grid before the shuffle), and the
    # top-k probe joins the 1 KiB grid by broadcast, never shuffling
    # the heavy-hitter side against it.
    df = _df(registry, spark, "agg_countmin_sketch")
    plan = executed_plan(df)
    assert "partial_count" in plan
    assert count_op(df, "BroadcastHashJoin") >= 1


def test_rolling_distinct_users_avoids_range_join(registry, spark):
    # Contribution-explode + broadcast semi-join on observed days —
    # a day-to-range formulation would plan a BroadcastNestedLoopJoin
    # whose build side is the whole (day, user) set.
    df = _df(registry, spark, "window_rolling_distinct_hll")
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_perplexity_buckets_no_global_sort_and_broadcast_cuts(registry, spark):
    # The tertile cutoffs come from a cumulative window over the
    # (lang, score) HISTOGRAM — never a per-language total sort of
    # documents (no range partitioning anywhere) — and the per-doc
    # bucket assignment picks the two cut constants up by broadcast.
    df = _df(registry, spark, "text_perplexity_buckets")
    assert count_op(df, "Exchange rangepartitioning") == 0
    assert count_op(df, "BroadcastHashJoin") >= 1


def test_bitext_no_cross_join_and_equi_joins_only(registry, spark):
    # r9 (VERDICT r8 #1): candidate generation is per-language IVF
    # cell probing — every join in the plan is an equi-join on
    # cell_id / vec_id. The old broadcast-en crossJoin (a
    # BroadcastNestedLoopJoin that degrades to a cartesian product
    # once the en slice outgrows the broadcast limit) must never
    # come back. The margin windows still share exchanges over the
    # ONE deduped candidate frame; the shuffle budget is the 5
    # branch joins + distinct + two window exchanges.
    df = _df(registry, spark, "similarity_bitext_pairs")
    plan = executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 14


def test_bm25_no_token_explode_and_broadcast_df(registry, spark):
    # Term frequency is a length-delta projection: the plan must not
    # contain a token-level Generate/explode of the text column (the
    # only explode is the bounded |terms| array), and both the df
    # table and the corpus scalars join by broadcast.
    df = _df(registry, spark, "text_bm25_topk")
    plan = executed_plan(df)
    assert plan.count("Generate explode") <= 2  # terms fan-out only
    assert count_op(df, "BroadcastHashJoin") >= 1
    assert count_op(df, "SortMergeJoin") == 0


def test_dsir_model_broadcast_and_integer_payload(registry, spark):
    # The 256-row bucket model must broadcast back; the per-document
    # sum shuffles integers only (no text column past the featurize).
    df = _df(registry, spark, "curation_dsir_weights")
    plan = executed_plan(df)
    assert count_op(df, "BroadcastHashJoin") >= 1
    assert count_op(df, "SortMergeJoin") == 0
    assert "partial_count" in plan or "partial_sum" in plan


def test_sq_encode_single_stats_pass_broadcast_back(registry, spark):
    # One aggregation to |dim| rows, broadcast back; no second
    # corpus-scaled join strategy and no Python in the hot path.
    df = _df(registry, spark, "similarity_sq_encode")
    plan = executed_plan(df)
    assert count_op(df, "BroadcastHashJoin") >= 1
    assert count_op(df, "SortMergeJoin") == 0
    assert "EvalPython" not in plan


def test_bpe_apply_tokenizes_word_types_not_instances(registry, spark):
    # The merge chain must run on the DISTINCT word-type table — a
    # HashAggregate pair below the replace projection in addition to
    # the (doc, word) count and final per-doc aggregations — with the
    # learned merges inlined as literals (no UDF anywhere).
    df = _df(registry, spark, "text_bpe_apply")
    plan = executed_plan(df)
    assert "EvalPython" not in plan
    assert count_op(df, "SortMergeJoin") == 0
    # the only Generate is the word explode (it can appear once per
    # DAG branch when the exchange is not reused); tokenization adds
    # no fan-out of its own
    assert plan.count("Generate explode") <= 2
    assert count_op(df, "HashAggregate") >= 5


def test_dup_ngram_fraction_is_zero_shuffle_scan(registry, spark):
    # The whole repetition computation is row-local HOF arithmetic:
    # no exchange anywhere, scan pruned to (doc_id, text), no Python.
    df = _df(registry, spark, "text_dup_ngram_fraction")
    assert shuffle_count(df) == 0
    (schema,) = read_schemas(df)
    assert "text" in schema and "lang" not in schema
    assert "EvalPython" not in executed_plan(df)


def test_annotation_agreement_single_pass_counters(registry, spark):
    # Labels are row-local; the whole query is one map-side-combined
    # aggregation to a single row (at most the final single-partition
    # exchange), reading only the text column.
    df = _df(registry, spark, "curation_annotation_agreement")
    assert shuffle_count(df) <= 1
    (schema,) = read_schemas(df)
    assert schema == "struct<text:string>"
    assert "partial_" in executed_plan(df)


def test_unpivot_is_expand_not_join(registry, spark):
    # The melt must be the Expand operator (map-side row fan-out),
    # never a self-join/union of three scans; the only exchanges are
    # the wide aggregation's (count_distinct adds its two-phase pair).
    df = _df(registry, spark, "events_unpivot_metrics")
    plan = executed_plan(df)
    assert plan.count("Expand") >= 1
    assert shuffle_count(df) <= 2
    assert count_op(df, "SortMergeJoin") == 0
    assert len(read_schemas(df)) == 1  # one scan, not three


def test_temperature_sampling_tiny_window_after_agg(registry, spark):
    # One corpus aggregation shuffle; the unpartitioned window runs
    # over the per-language frame (cardinality = languages), so at
    # most one more tiny exchange.
    df = _df(registry, spark, "curation_temperature_sampling")
    assert shuffle_count(df) <= 2
    (schema,) = read_schemas(df)
    assert "lang" in schema and "doc_id" not in schema


def test_lang_confusion_joins_stay_bounded(registry, spark):
    # The class-list cross join runs over POST-AGGREGATION frames
    # (languages x confusion cells, both tiny); the corpus-side work
    # is the doc_id-aligned prediction join and the cell aggregation.
    df = _df(registry, spark, "text_lang_confusion")
    plan = executed_plan(df)
    assert count_op(df, "BroadcastNestedLoopJoin") <= 1
    assert count_op(df, "SortMergeJoin") == 0
    assert "EvalPython" not in plan


def test_semdedup_no_allpairs_anywhere(registry, spark):
    # Assign steps are broadcast-codebook row-local kernels and the
    # prune is cluster-bounded cogrouped scoring: the plan may shuffle
    # on vec_id/cid but must never contain an all-pairs join.
    df = _df(registry, spark, "dedup_semdedup")
    plan = executed_plan(df)
    assert count_op(df, "BroadcastNestedLoopJoin") == 0
    assert "CartesianProduct" not in plan
    assert count_op(df, "SortMergeJoin") <= 2


def test_order_gaps_one_sort_serves_both_windows(registry, spark):
    # The lag window sorts (o_custkey, o_orderdate, o_orderkey); the
    # 30-day RANGE frame orders by the o_orderdate prefix, so the
    # finer sort must satisfy it — exactly one Sort in the plan.
    df = _df(registry, spark, "window_order_gaps")
    plan = executed_plan(df)
    assert plan.count("+- Sort") == 1
    assert shuffle_count(df) == 1


def test_q15_q11_revenue_aggregate_is_cached(registry, spark):
    # Both queries reference their per-key revenue aggregate twice
    # (scalar branch + probe branch); the persist must surface as an
    # InMemoryTableScan so the fact scan/shuffle runs once at
    # execution. (read_schemas still lists the FileScan twice — the
    # InMemoryRelation's *definition* carries one — so the cache
    # node, not the scan count, is the pinnable signal.)
    for name in ("q15_top_supplier", "q11_important_part_value"):
        df = _df(registry, spark, name)
        assert "InMemoryTableScan" in executed_plan(df), name


def test_pagerank_iterations_checkpoint_and_stay_keyed(registry, spark):
    # The rank loop must never degenerate into an all-pairs join, and
    # the iteration frames must come from checkpointed RDDs (the
    # fresh-stats contract that keeps per-round planning flat — see
    # _checkpoint_fresh_stats). Everything after pair collapse is
    # |sources|-scale.
    df = _df(registry, spark, "graph_pagerank_sources")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert count_op(df, "BroadcastNestedLoopJoin") == 0
    assert "ExistingRDD" in plan  # checkpointed ranks, not raw lineage


def test_epoch_schedule_single_corpus_pass(registry, spark):
    # One map-side-combined per-source aggregation over ONE corpus
    # scan; totals come from a single-partition window over the tiny
    # per-source frame (one more |sources|-scale exchange), never a
    # second scan or a join. Scan pruned to (source, text).
    df = _df(registry, spark, "curation_epoch_schedule")
    assert shuffle_count(df) <= 2
    assert count_op(df, "SortMergeJoin") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") == 0
    assert "partial_sum" in executed_plan(df)
    (schema,) = read_schemas(df)
    assert "text" in schema and "doc_id" not in schema


# --- sixth round-6 session pins --------------------------------------


def test_single_shuffle_aggregation_family(registry, spark):
    # Each of these reduces the corpus through exactly ONE exchange:
    # lifetime/holdout are map-side-combined aggregations.
    for name in (
        "events_user_lifetime",
        "curation_holdout_split",
    ):
        assert shuffle_count(_df(registry, spark, name)) == 1, name


def test_weighted_median_windows_over_cells_not_corpus(registry, spark):
    # The r7 rewrite: corpus rows cross ONE map-side-combined exchange
    # into (flag, price) cells; only the domain-scale cell frame
    # re-shuffles for the cumulative window. The old single-exchange
    # form windowed raw rows partitioned by l_returnflag's THREE
    # values — a third of the corpus sorted in one task.
    df = _df(registry, spark, "agg_weighted_median")
    plan = executed_plan(df)
    assert shuffle_count(df) == 2
    assert "partial_sum" in plan or "partial_" in plan  # map-side combine


def test_rake_topn_is_take_ordered(registry, spark):
    # The final top-N must be TakeOrderedAndProject (per-partition
    # heads + bounded merge), never a global sort of the phrase table.
    df = _df(registry, spark, "text_rake_keywords")
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert count_op(df, "Exchange rangepartitioning") == 0


def test_triangle_join_runs_on_checkpointed_edges(registry, spark):
    # The edge frame is referenced four times (two wedge sides, the
    # closing edge, the degree count); the checkpoint must absorb all
    # of them — zero parquet scans means the LSH pipeline cannot be
    # re-run per self-join reference.
    df = _df(registry, spark, "graph_triangle_count")
    assert executed_plan(df).count("Scan parquet") == 0


def test_hybrid_rrf_broadcasts_both_query_sets(registry, spark):
    # Both rankers are broadcast-query/stream-corpus: the 5-row word
    # and vector query sets ride broadcast nested-loop joins; the
    # corpus is scanned a bounded number of times and never shuffled
    # whole (exchanges carry scored candidate rows only).
    df = _df(registry, spark, "similarity_hybrid_rrf")
    plan = executed_plan(df)
    assert plan.count("BroadcastNestedLoopJoin") == 2
    assert plan.count("Scan parquet") <= 4


# --- seventh round-6 session pins -------------------------------------


def test_source_divergence_reuses_cells(registry, spark):
    # The token stream collapses to (source, word) cells in ONE
    # exchange; word totals and the scalar N re-aggregate the
    # persisted cells (InMemoryTableScan), never the token stream —
    # and N_s / N ride broadcasts, so the corpus-sized data moves
    # exactly once.
    df = _df(registry, spark, "corpus_source_divergence")
    plan = executed_plan(df)
    # terms + word totals + N_s + N all read the cache
    assert plan.count("InMemoryTableScan") >= 3
    # every parquet scan in the printout is the one INSIDE the cached
    # subtree (toString reprints it under each InMemoryRelation) —
    # none outside, so the token stream is exchanged exactly once
    assert plan.count("Scan parquet") == plan.count("InMemoryRelation")
    assert count_op(df, "BroadcastNestedLoopJoin") == 1  # the 1-row N


def test_bloom_probe_side_never_shuffles_for_the_test(registry, spark):
    # The bit set rides a broadcast: the probe (customer) side's only
    # exchanges are its per-key hit count and the final 1-row
    # aggregate — the bloom membership test itself is map-side.
    df = _df(registry, spark, "agg_bloom_prefilter")
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    # bits bounded by m: the broadcast build side aggregates DISTINCT
    # bit positions, never raw keys
    assert "SortMergeJoin" not in plan


def test_ewma_single_window_single_exchange(registry, spark):
    # All 8 lags share one window spec: one Window operator, one
    # exchange on user_id, no second sort.
    df = _df(registry, spark, "window_ewma_value")
    plan = executed_plan(df)
    assert plan.count("Window ") + plan.count("RunningWindowFunction") >= 1
    assert shuffle_count(df) == 1
    assert plan.count("Sort ") == 1


def test_bot_regularity_windows_share_user_prefix(registry, spark):
    # The lag window and the (user, bucket) cell count reduce through
    # key-only exchanges; no nested loop, no corpus-width shuffle
    # (only user_id + the microsecond lag cross the wire).
    df = _df(registry, spark, "events_bot_gap_regularity")
    plan = executed_plan(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    (schema,) = read_schemas(df)
    assert "props" not in schema and "value" not in schema


def test_dedup_impact_shuffles_counters_only(registry, spark):
    # Ranking + two rollups: three exchanges, none carrying text.
    df = _df(registry, spark, "curation_dedup_impact")
    assert shuffle_count(df) == 3
    plan = executed_plan(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_asof_nearest_single_exchange_single_sort(registry, spark):
    # Both frames (prefix-max, suffix-min) share one window
    # partitioning: one exchange on user_id, one sort, no join.
    df = _df(registry, spark, "asof_join_nearest")
    plan = executed_plan(df)
    assert shuffle_count(df) == 1
    assert plan.count("Sort ") == 1
    assert "SortMergeJoin" not in plan and "NestedLoop" not in plan


def test_ivf_cell_balance_bounded_summary(registry, spark):
    # Assignment is row-local (no join); only the <= IVF_K count rows
    # and the 1-row summary exchange.
    df = _df(registry, spark, "similarity_ivf_cell_balance")
    plan = executed_plan(df)
    assert "Join" not in plan
    assert shuffle_count(df) <= 2


def test_partition_plan_single_agg_text_never_moves(registry, spark):
    # One map-side-combined aggregation; the shuffle carries counters,
    # not text; the total is a broadcast cross join.
    df = _df(registry, spark, "sink_partition_plan")
    plan = executed_plan(df)
    assert "partial_" in plan
    assert shuffle_count(df) <= 2
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total


def test_attribution_range_join_is_hash_join(registry, spark):
    # The 7-day window join must be the binned equi-join, never a
    # nested loop over time ranges.
    df = _df(registry, spark, "events_attribution_linear")
    plan = executed_plan(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_session_stats_single_exchange(registry, spark):
    # Lag window, cumulative numbering, and the (user, session) agg
    # all share the user_id partitioning: corpus rows move once.
    df = _df(registry, spark, "events_session_stats")
    assert shuffle_count(df) == 1


def test_asof_tolerance_one_exchange_one_sort(registry, spark):
    # Same plan contract as the other as-of members: the union +
    # prefix-max window moves event rows ONCE (one exchange on
    # user_id, one sort); the tolerance bound is a row-local integer
    # gate that must not add a join or another window.
    df = _df(registry, spark, "asof_join_tolerance")
    plan = executed_plan(df)
    assert shuffle_count(df) == 1
    assert plan.count("+- Sort") == 1
    assert "Join" not in plan


def test_hard_negatives_broadcast_and_bounded_reduction(registry, spark):
    # The scored stream is the brute-force shape (broadcast bounded
    # query set, intentional BNLJ) with the ceiling applied BEFORE
    # the salted top-k, so the only exchanges are the bounded
    # reduction's — never a corpus-sized shuffle.
    df = _df(registry, spark, "similarity_hard_negatives")
    plan = executed_plan(df)
    assert count_op(df, "BroadcastNestedLoopJoin") == 1  # query set join
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 2  # salted local + final top-k windows


def test_probe_recall_curve_single_enumeration(registry, spark):
    # ONE cell enumeration feeds all four curve points: the corpus is
    # scored once against the broadcast probe set (equi-join on
    # cell_id -> BroadcastHashJoin), the per-point top-k is a rank
    # filter; brute-force truth contributes its own broadcast side.
    # No cell-cross corpus join may appear more than once.
    df = _df(registry, spark, "similarity_ivf_probe_recall")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert count_op(df, "BroadcastHashJoin") >= 1  # probes x assigned
    # The kernel count must NOT scale with |IVF_PROBE_CURVE|: the
    # property under test is independence from the curve length (a
    # per-point re-scan would multiply the Arrow scoring stages), so
    # compare against a rebuild with a ONE-point curve instead of
    # pinning the exact operator count (which shifts with Spark
    # versions / AQE / kernel refactors — ADVICE r7).
    from go_integ_spark.operators import similarity as S

    full_curve_kernels = plan.count("ArrowEvalPython")
    orig = S.IVF_PROBE_CURVE
    S.IVF_PROBE_CURVE = (S.IVF_NPROBE,)
    try:
        one_point = _df(registry, spark, "similarity_ivf_probe_recall")
        one_point_kernels = executed_plan(one_point).count("ArrowEvalPython")
    finally:
        S.IVF_PROBE_CURVE = orig
    assert full_curve_kernels == one_point_kernels, (
        f"Arrow kernel count scales with the probe curve: "
        f"{full_curve_kernels} at {len(orig)} points vs "
        f"{one_point_kernels} at 1"
    )


def test_threshold_join_cap_adds_no_data_exchange(registry, spark):
    """The round-8 hot-label cap must stay a small-side construct: the
    kept-labels filter reaches the data via BROADCAST (semi) joins,
    never a new shuffle of the vector frame — otherwise the cap would
    cost an extra wide exchange of the corpus at 100 TB."""
    df = _df(registry, spark, "similarity_threshold_join")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    # both the cap's semi-join and the label pair join broadcast;
    # the only shuffle is the cap's tiny per-label count aggregate.
    assert count_op(df, "BroadcastHashJoin") >= 2
    assert shuffle_count(df) <= 2


def test_hll_rolling_distinct_sketch_merges_mapside(registry, spark):
    # r9 (VERDICT r8 #4): the HLL form's whole point is fixed-size
    # mergeable state — the plan must show partial_approx_count_
    # distinct merging across the exchange, and NO Expand (both
    # distinct aggregates share the user_id column, so Spark's
    # multi-distinct Expand rewrite must not appear).
    df = _df(registry, spark, "window_rolling_distinct_hll")
    plan = executed_plan(df)
    assert "partial_approx_count_distinct" in plan
    assert "merge_approx_count_distinct" in plan
    assert "Expand" not in plan
