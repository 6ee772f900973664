"""Round-10 session-2 operators: blocked fuzzy entity resolution and
CUSUM changepoint detection.

Value parity vs DuckDB is covered by the generic registry sweep
(test_queries_oracle.py); these tests pin the claims the sweep can't
see — plan shape (no cartesian anywhere near the blocked self-join),
the MAX_BLOCK guard actually binding, and the window-algebra rewrite
of the CUSUM recursion being the recursion.
"""

from __future__ import annotations

import pytest

from go_integ_spark.operators import entity
from go_integ_spark.operators.events import (
    CUSUM_H_MULT,
    CUSUM_SLACK_DEN,
    SEASONAL_LAG_H,
    events_changepoint_cusum,
    events_forecast_eval,
    hourly_gapfill,
)
from go_integ_spark.registry import load_all

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestErBlockedFuzzy:
    def test_no_cartesian_and_pair_contract(self, spark):
        df = entity.er_blocked_fuzzy_parts(spark, SF)
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        rows = df.collect()
        assert rows, "gate corpus must produce fuzzy matches"
        for r in rows:
            # pairs are canonical (a < b), block-local, and within
            # the edit budget
            assert r.name_a < r.name_b
            # block key is the SECOND name token by contract (on the
            # gate generator's 2-token names it also equals the last
            # token, but that's incidental — assert the positional
            # contract so a future generator change can't silently
            # pass on the wrong key)
            assert r.name_a.split(" ")[1] == r.block_key
            assert r.name_b.split(" ")[1] == r.block_key
            assert 1 <= r.edit_dist <= entity.MAX_EDIT
            assert r.records_a >= 1 and r.records_b >= 1

    def test_block_cap_binds(self, spark, monkeypatch):
        # Every gate block holds ~8 distinct names; a cap of 3 must
        # drop ALL blocks (the guard is a real filter, not prose).
        monkeypatch.setattr(entity, "MAX_BLOCK", 3)
        assert entity.er_blocked_fuzzy_parts(spark, SF).count() == 0

    def test_comparisons_run_on_distinct_names(self, spark):
        # The join input is the vocabulary-sized distinct-name table:
        # total candidate comparisons are bounded by
        # sum(block_size^2), never by record count. 2000 records,
        # 64 names -> the match table must be far smaller than the
        # record-pair explosion (~31x31 per matched name pair).
        df = entity.er_blocked_fuzzy_parts(spark, SF)
        n_pairs = df.count()
        from go_integ_spark.tables import load_table

        n_names = (
            load_table(spark, SF, "part").select("p_name").distinct().count()
        )
        assert n_pairs <= n_names * (n_names - 1) // 2


class TestErGoldenRecord:
    def test_one_golden_per_cluster_and_majority_rule(self, spark):
        rows = entity.er_golden_record(spark, SF).collect()
        assert rows
        from collections import defaultdict

        by_cluster = defaultdict(list)
        for r in rows:
            by_cluster[r.cluster_id].append(r)
        for cid, members in by_cluster.items():
            golden = [m for m in members if m.is_golden]
            assert len(golden) == 1, cid
            g = golden[0]
            # survivorship: most records, tie-broken lexicographically
            best = max(members, key=lambda m: (m.n_records, ""))
            assert g.n_records == best.n_records
            ties = [m for m in members if m.n_records == g.n_records]
            assert g.entity_name == min(t.entity_name for t in ties)
            assert all(m.cluster_size == len(members) for m in members)
            # cluster id is the smallest member node id, so it can
            # never exceed any member's own min record key
            assert cid >= 0

    def test_cluster_members_are_transitively_matched(self, spark):
        # every matched pair's two names land in the same cluster
        pairs = entity.er_blocked_fuzzy_parts(spark, SF).collect()
        cluster_of = {
            r.entity_name: r.cluster_id
            for r in entity.er_golden_record(spark, SF).collect()
        }
        for p in pairs:
            assert cluster_of[p.name_a] == cluster_of[p.name_b]


class TestErBlockingQuality:
    def test_metrics_internally_consistent(self, spark):
        r = entity.er_blocking_quality(spark, SF).collect()[0]
        assert r.total_pairs == r.n_names * (r.n_names - 1) // 2
        assert 0 <= r.n_caught <= r.n_true <= r.total_pairs
        assert r.n_caught <= r.n_candidates <= r.total_pairs
        assert r.reduction_ratio == round(
            1.0 - r.n_candidates / r.total_pairs, 4
        )
        assert r.pair_completeness == round(r.n_caught / r.n_true, 4)
        # second-token blocking must be a real reduction on this corpus
        assert r.reduction_ratio > 0.5

    def test_completeness_agrees_with_production_path(self, spark):
        # n_caught counts exactly the pairs the production blocked
        # path emits (same block key, same edit budget, uncapped on
        # this corpus)
        r = entity.er_blocking_quality(spark, SF).collect()[0]
        assert r.n_caught == entity.er_blocked_fuzzy_parts(spark, SF).count()


class TestForecastEval:
    def test_matches_python_walk_forward(self, spark):
        """Replay the backtest in plain Python over the gap-filled
        series and require identical rounded metrics — pins the
        window-lag form against the definitionally-obvious loop."""
        from collections import defaultdict

        by_type = defaultdict(list)
        for r in hourly_gapfill(spark, SF).collect():
            by_type[r.event_type].append((r.hour_start, r.n))
        expect = {}
        for et, series in by_type.items():
            series.sort()
            ns = [n for _, n in series]
            e1, es = [], []
            for i in range(SEASONAL_LAG_H, len(ns)):
                e1.append(abs(ns[i] - ns[i - 1]))
                es.append(abs(ns[i] - ns[i - SEASONAL_LAG_H]))
            expect[et] = (
                len(es),
                round(sum(e1) / len(e1), 4),
                round(sum(es) / len(es), 4),
                round(sum(es) / sum(e1), 4) if sum(e1) else None,
            )
        got = events_forecast_eval(spark, SF).collect()
        assert len(got) == len(expect)
        for r in got:
            assert (r.n_hours, r.mae_naive, r.mae_snaive, r.mase) == expect[
                r.event_type
            ], r.event_type

    def test_fair_comparison_window(self, spark):
        # both baselines are averaged over the SAME hours (those with
        # a seasonal predecessor), so mase == mae_snaive / mae_naive
        # up to the two 4-digit roundings feeding the quotient
        for r in events_forecast_eval(spark, SF).collect():
            tol = 0.5e-4 * (1 + r.mase) / r.mae_naive + 0.5e-4
            assert abs(r.mase - r.mae_snaive / r.mae_naive) < tol


class TestKnnCellCap:
    def test_graph_is_bit_identical_at_any_cap(self, spark, monkeypatch):
        """The 1000x skew bound must be result-invariant: forcing the
        cap far below every gate cell size (8) makes every cell
        split, and the finished graph must equal the default-cap
        build row-for-row (same pairs scored, same fold, per-
        sub-block top-k unions preserve every global-top-k member)."""
        from go_integ_spark.functions.cache import _slots
        from go_integ_spark.operators import similarity as sim
        from go_integ_spark.tables import load_table

        emb = load_table(spark, SF, "embeddings").select(
            "vec_id", "embedding"
        )
        base = {
            tuple(r) for r in sim._build_knn_graph(spark, emb).collect()
        }
        monkeypatch.setattr(sim, "KNN_CELL_CAP", 8)
        split = {
            tuple(r) for r in sim._build_knn_graph(spark, emb).collect()
        }
        assert base == split
        assert len(base) > 0


class TestCusumChangepoint:
    def test_window_form_equals_page_recursion(self, spark):
        """The registered query computes cusum via prefix-sum minus
        running-extremum; replay Page's max(0, .) recursion in exact
        integer arithmetic and require bit-equality of the descaled
        rounded outputs AND the flags."""
        import math
        from collections import defaultdict

        hourly = {
            (r.event_type, r.hour_start): r.n
            for r in hourly_gapfill(spark, SF).collect()
        }
        by_type = defaultdict(list)
        for (et, h), n in hourly.items():
            by_type[et].append((h, n))
        expect = {}
        for et, series in by_type.items():
            series.sort()
            hn = len(series)
            total = sum(n for _, n in series)
            ssq = sum(n * n for _, n in series)
            sig_h = math.sqrt(hn * ssq - total * total)
            slack = math.floor(sig_h / CUSUM_SLACK_DEN)
            thresh = math.floor(CUSUM_H_MULT * sig_h)
            sp = sn = 0
            for h, n in series:
                dev = n * hn - total
                sp = max(0, sp + dev - slack)
                sn = max(0, sn - dev - slack)
                expect[(et, h)] = (
                    round(sp / hn, 4),
                    round(sn / hn, 4),
                    sp > thresh or sn > thresh,
                )

        got = events_changepoint_cusum(spark, SF).collect()
        assert len(got) == len(expect)
        for r in got:
            e = expect[(r.event_type, r.hour_start)]
            assert (r.cusum_pos, r.cusum_neg, r.is_shift) == e, (
                r.event_type,
                r.hour_start,
            )

    def test_integer_walk_no_float_prefix_sums(self, spark):
        # The walk columns must be exact integers end-to-end: the
        # analyzed schema of the registered output keeps the flag
        # boolean and descaled cusum as DoubleType, but the internal
        # p/q/cpos/cneg math is LongType (a float prefix sum would
        # hash-diverge between engines on summation order).
        df = events_changepoint_cusum(spark, SF)
        kinds = dict(df.dtypes)
        assert kinds == {
            "hour_start": "timestamp",
            "event_type": "string",
            "n": "bigint",
            "cusum_pos": "double",
            "cusum_neg": "double",
            "is_shift": "boolean",
        }

    def test_registered_with_oracle_and_family(self):
        reg = load_all()
        for name, fam in (
            ("events_changepoint_cusum", "events"),
            ("er_blocked_fuzzy_parts", "entity"),
            ("er_golden_record", "entity"),
            ("streaming_changepoint_cusum", "streaming"),
        ):
            spec = reg[name]
            assert spec.oracle is not None
            assert spec.tags[0] == fam

    def test_streaming_twin_equals_batch(self, spark):
        """The streaming rollup driven to completion feeds the same
        walk, so the two registered queries must agree value-exactly
        (they share one oracle; this pins the Spark sides against
        each other without DuckDB in the loop)."""
        from go_integ_spark.streaming.queries import (
            streaming_changepoint_cusum,
        )

        batch = {tuple(r) for r in events_changepoint_cusum(spark, SF).collect()}
        stream = {
            tuple(r) for r in streaming_changepoint_cusum(spark, SF).collect()
        }
        assert batch == stream
