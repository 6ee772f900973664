"""The block scheduler (functions/blocks.py): exchange sizing, bin
packing, the 2-D grid planner and where its bins land.

Every blocked pair scorer does quadratic work per block while the
block's shuffled bytes are linear in its rows, so AQE's byte-balanced
coalescing would pack several hot blocks into one task. These tests
pin (a) the sizing arithmetic and the packer, (b) the plan shape —
the cogroup/groupBy consumes the REPARTITION_BY_NUM exchange
directly, with no ENSURE_REQUIREMENTS exchange stacked on top — (c)
that the grid scorer puts bin i in partition i, one bin per task,
and (d) result invariance (the block grid defines membership by
KEYS, so where a block lands cannot change any value).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from go_integ_spark.functions import blocks

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TestBlockPartitionCount:
    def test_floor_cap_and_passthrough(self, spark):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        try:
            # below the session floor -> floor
            assert blocks.block_partition_count(spark, 3) == 16
            # between floor and cap -> exact block count
            assert blocks.block_partition_count(spark, 1234) == 1234
            # above the cap -> cap (runaway block counts must not
            # schedule millions of ~ms tasks)
            assert (
                blocks.block_partition_count(spark, 10**9)
                == blocks.MAX_BLOCK_PARTITIONS
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    def test_repartition_is_by_num_on_keys(self, spark):
        df = spark.range(100).withColumnRenamed("id", "k")
        out = blocks.repartition_for_blocks(df, ["k"], 10**9)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "REPARTITION_BY_NUM" in plan
        assert f"{blocks.MAX_BLOCK_PARTITIONS})" in plan


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _scoring_exchanges(plan: str, apply_op: str) -> list[str]:
    """The nearest Exchange under each child of the one ``apply_op``
    node: the exchange that feeds that side of the scorer."""
    lines = plan.split("\n")
    (apply_i,) = [i for i, l in enumerate(lines) if apply_op in l]
    depth = _depth(lines[apply_i])
    found: list[str] = []
    seen_child = False
    for line in lines[apply_i + 1 :]:
        d = _depth(line)
        if d <= depth:
            break
        if d == depth + 3:
            seen_child = False
        if not seen_child and line.lstrip(" :+-").startswith("Exchange "):
            found.append(line.strip(" :+-"))
            seen_child = True
    return found


class TestScoringExchangeShape:
    """The scorer's FlatMapCoGroupsInPandas / FlatMapGroupsInPandas
    children must be the REPARTITION_BY_NUM exchanges themselves —
    an ENSURE_REQUIREMENTS exchange between them would mean
    EnsureRequirements did NOT accept our partitioning and AQE
    byte-coalescing is back in charge of the scoring stage."""

    def _pin(self, plan, apply_op, n_repart):
        assert apply_op in plan
        assert plan.count("REPARTITION_BY_NUM") >= n_repart
        # walk the indented tree: between each repartition exchange
        # and its nearest apply ancestor there must be no
        # ENSURE_REQUIREMENTS exchange on the same branch. Cheap
        # proxy that has caught every planning regression so far:
        # every hash Exchange directly under the apply node (child
        # lines at one deeper indent that are Exchanges) says
        # REPARTITION_BY_NUM.
        lines = plan.split("\n")
        (apply_i,) = [i for i, l in enumerate(lines) if apply_op in l]
        depth = _depth(lines[apply_i])
        for line in lines[apply_i + 1 :]:
            d = _depth(line)
            if d <= depth:
                break
            if "Exchange hashpartitioning" in line and d <= depth + 6:
                assert "REPARTITION_BY_NUM" in line, line

    def _pin_grid(self, plan):
        """A grid scorer's two sides each arrive through a
        ``repartitionById`` exchange on the bin id."""
        self._pin(plan, "FlatMapCoGroupsInPandas", 2)
        ex = _scoring_exchanges(plan, "FlatMapCoGroupsInPandas")
        assert len(ex) == 2, ex
        for line in ex:
            assert line.startswith("Exchange shufflepartitionidpassthrough("), line
            assert "REPARTITION_BY_NUM" in line, line

    def test_knn_graph_scoring_exchange(self, spark):
        from go_integ_spark.operators.similarity import _build_knn_graph
        from go_integ_spark.tables import load_table

        emb = load_table(spark, SF, "embeddings").select(
            "vec_id", "embedding"
        )
        plan = _build_knn_graph(spark, emb)._jdf.queryExecution().executedPlan().toString()
        self._pin_grid(plan)

    def test_strict_miner_scoring_exchange(self, spark, registry):
        df = registry["dedup_embedding_cosine_strict"].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        self._pin(plan, "FlatMapCoGroupsInPandas", 2)

    def test_embedding_cosine_grouped_exchange(self, spark, registry):
        df = registry["dedup_embedding_cosine"].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        self._pin(plan, "FlatMapGroupsInPandas", 1)

    def test_contamination_scoring_exchange(self, spark, registry):
        df = registry["contamination_embedding"].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        self._pin_grid(plan)


@pytest.fixture(scope="module")
def registry():
    from go_integ_spark.registry import load_all

    return load_all()


class TestPackBins:
    def test_capacity_respected_and_clamped(self):
        costs = [100.0, 1.0, 1.0, 1.0, 50.0, 49.0]
        assign, n = blocks.pack_bins(costs, 100.0)
        loads = {}
        for i, b in enumerate(assign):
            loads[b] = loads.get(b, 0.0) + min(costs[i], 100.0)
        assert max(loads.values()) <= 100.0
        assert n == len(set(assign))
        # an oversize item fills its own bin instead of looping
        assign, n = blocks.pack_bins([1e12], 100.0)
        assert (assign, n) == ([0], 1)
        assert blocks.pack_bins([], 100.0) == ([], 0)

    def test_balance_on_bimodal_costs(self):
        # the kNN regime: a few near-capacity hot blocks + many tiny
        # cold cells; bins must come out near-equal, not bimodal
        costs = [9e6] * 10 + [5e4] * 500
        assign, n = blocks.pack_bins(costs, 1e7)
        loads = [0.0] * n
        for i, b in enumerate(assign):
            loads[b] += costs[i]
        assert max(loads) <= 1e7
        # every bin except possibly one is at least half full
        assert sum(1 for x in loads if x < 5e6) <= 1


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


class TestGridPlacement:
    def test_bin_i_runs_alone_in_partition_i(self, spark):
        """Every bin lands in the partition its id names, and no task
        sees two bins: the scorer reports its task's partition next
        to each bin id it was handed."""
        import pandas as pd

        from go_integ_spark.functions.blocks import grid_block_cogroup

        # three cells of 40 x 40 at cap 16: each splits 3 x 3
        probes = spark.createDataFrame(
            [(i, i % 3) for i in range(120)], "pid bigint, cell int"
        )
        members = spark.createDataFrame(
            [(i, i % 3) for i in range(120)], "mid bigint, cell int"
        )
        cells = [((c,), 40, 40) for c in range(3)]
        base = int(spark.conf.get("spark.sql.shuffle.partitions"))
        split_rows, _, n_bins = blocks.plan_grid_bins(cells, 16, base)
        assert any(s[-2] > 1 and s[-1] > 1 for s in split_rows)
        assert 1 < n_bins <= blocks.block_partition_count(spark, n_bins)

        def score(p, m):
            from pyspark import TaskContext

            ids = pd.concat([p["bin_id"], m["m_bin"]]).unique()
            return pd.DataFrame(
                {"bin_id": ids, "part": TaskContext.get().partitionId()}
            ).astype("int32")

        rows = grid_block_cogroup(
            probes,
            members,
            keys=["cell"],
            probe_id="pid",
            member_id="mid",
            score_fn=score,
            schema="bin_id int, part int",
            cap=16,
        ).collect()
        # every bin is scored, in the partition of its own id, so each
        # task holds exactly one bin
        got = {(r["part"], r["bin_id"]) for r in rows}
        assert got == {(b, b) for b in range(n_bins)}


class TestBlockPairCap:
    def test_no_block_exceeds_pair_cap(self, monkeypatch):
        """r13: the planner must bound every block's kernel pairs at
        BLOCK_PAIR_CAP regardless of cost constants — the 1000x
        multilang probe measured a 200x real-time spread across bins
        whose PLANNED costs were uniform to 1.3x, because a capped
        dimension still admitted cap x cap = 67M-pair blocks."""
        monkeypatch.setattr(blocks, "ROW_COST", 3000.0)
        cells = [
            (("en", 1), 5673, 166515),  # the probe's hottest cell
            (("de", 2), 7767, 83040),
            (("fr", 3), 182, 40),
            (("zh", 4), 8192, 8192),
        ]
        split_rows, bin_rows, n_bins = blocks.plan_grid_bins(
            cells, 8192, 256
        )
        splits = {tuple(s[:-2]): (s[-2], s[-1]) for s in split_rows}
        for kv, n_m, n_p in cells:
            nc, np_ = splits[kv]
            assert (n_m / nc) * (n_p / np_) <= blocks.BLOCK_PAIR_CAP, kv
        # and a wider cap lets the cap x cap block through again
        monkeypatch.setattr(blocks, "BLOCK_PAIR_CAP", 1e12)
        s2, _, _ = blocks.plan_grid_bins(cells, 8192, 256)
        sp2 = {tuple(s[:-2]): (s[-2], s[-1]) for s in s2}
        assert sp2[("zh", 4)] == (1, 1)  # one cap x cap block again

    def test_split_growth_prefers_cheaper_replication(self):
        """Growing the member split replicates probes and vice versa;
        the greedy must grow the side whose replication ships fewer
        rows (probe-heavy cells split the member dimension less)."""
        (split,), _, _ = [
            x for x in [blocks.plan_grid_bins([((1,), 100, 1_000_000)], 8192, 256)]
        ][0]
        nc, np_ = split[-2], split[-1]
        # probe side is 10_000x heavier: replicate PROBES (grow nc)
        # as little as possible, split probes (np_) instead
        assert np_ > nc


class TestGreedySplitGeometryKept:
    """VERDICT r13 item 6 was measured and REJECTED: the near-square
    minimum-replication geometry shipped only -3% map-side bytes at
    the 1000x multilang probe (pair set byte-identical) and ran
    WORSE on wall because splitting the larger side multiplies its
    expensive parse lineage on the critical-path map stage
    (evidence/SMOKE_r14_1000x_bitext_geom_{greedy,balanced}.json). This pins
    the kept greedy's defining property so a future round does not
    silently re-land the rejected form: the bigger side is never
    replicated while growing the smaller side's split can still
    satisfy the pair cap."""

    def test_big_side_not_replicated_on_cap_bound_cells(self, monkeypatch):
        monkeypatch.setattr(blocks, "ROW_COST", 650.0)
        # the 1000x multilang probe's two hot cells: probes >> members
        cells = [(("en",), 5673, 166515), (("de",), 7767, 83040)]
        split_rows, _, _ = blocks.plan_grid_bins(cells, 8192, 256)
        splits = {s[0]: (s[-2], s[-1]) for s in split_rows}
        pair_cap = blocks.BLOCK_PAIR_CAP
        for kv, n_m, n_p in cells:
            nc, np_ = splits[kv[0]]
            assert (n_m / nc) * (n_p / np_) <= pair_cap  # cap holds
            assert nc == 1, kv  # big (probe) side ships exactly once

    def test_uncapped_cells_keep_minimum_splits(self, monkeypatch):
        monkeypatch.setattr(blocks, "ROW_COST", 650.0)
        split_rows, _, _ = blocks.plan_grid_bins(
            [((1,), 182, 40), ((2,), 100, 1_000_000)], 8192, 256
        )
        splits = {s[0]: (s[-2], s[-1]) for s in split_rows}
        assert splits[1] == (1, 1)
        # pair-light probe-heavy cell: dimension cap only, no member
        # replication beyond it
        assert splits[2] == (1, -(-1_000_000 // 8192))


# The grid planner is a pure function of its cell sizes: two fresh
# interpreters planning the same cells must produce the same bins. A
# planner that times the host at first use (as r13-r14 did) fails this
# on most runs, because the priced row cost moves with host speed.
_PLAN_SHA = """
import hashlib, random
from go_integ_spark.functions.blocks import plan_grid_bins

rng = random.Random(20)
cells = []
for i in range(300):
    if i % 3 == 0:  # cold cells
        n_m, n_p = rng.randint(1, 500), rng.randint(1, 500)
    elif i % 3 == 1:  # near or over the dimension cap
        n_m, n_p = rng.randint(2000, 12000), rng.randint(2000, 12000)
    else:  # pair-light, probe-heavy
        n_m, n_p = rng.randint(50, 2000), rng.randint(20000, 200000)
    cells.append(((i,), n_m, n_p))
out = plan_grid_bins(cells, 8192, 4)
print(hashlib.sha256(repr(out).encode()).hexdigest())
"""


def _plan_sha() -> str:
    return subprocess.run(
        [sys.executable, "-c", _PLAN_SHA],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()


def test_plan_grid_bins_identical_across_processes():
    first, second = _plan_sha(), _plan_sha()
    assert len(first) == 64
    assert first == second
