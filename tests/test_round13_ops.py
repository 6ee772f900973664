"""Round-13 pins: the bounded alias search and the per-block pair
cap."""

from __future__ import annotations

import pytest

from go_integ_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(master="local[4]", shuffle_partitions=8)
    yield s


class TestAliasSearchBounded:
    def test_pathological_hash_returns_none_not_hang(self, monkeypatch):
        """ADVICE r12: with n_bins ~ n_parts the greedy search is a
        coupon-collector loop; a degenerate hash (constant) must trip
        the budget and fall back to None (old collision behavior),
        never hang the driver."""
        from go_integ_spark.functions import blocks

        monkeypatch.setattr(blocks, "_murmur3_int", lambda x, seed=42: 7)
        assert blocks.alias_bin_ids(2, 32) is None

    def test_healthy_hash_still_aliases(self):
        from go_integ_spark.functions.blocks import (
            _murmur3_int,
            alias_bin_ids,
        )

        for n_bins, n_parts in ((32, 32), (700, 722)):
            aliases = alias_bin_ids(n_bins, n_parts)
            assert aliases is not None
            parts = {_murmur3_int(a) % n_parts for a in aliases}
            assert len(parts) == n_bins


def _sparse_neardup_embeddings(n=1500, dim=64, n_pairs=40, seed=11):
    """Same planted sparse near-dup regime as test_round10_ops: an
    isotropic bulk (random-pair cosine ~0 at dim 64) plus planted
    partners at cos ~0.93."""
    import numpy as np

    rng = np.random.RandomState(seed)
    base = rng.normal(0, 1.0, size=(n, dim))
    for i in range(n_pairs):
        a, b = 2 * i, 2 * i + 1
        base[b] = base[a] + rng.normal(0, 0.22, size=dim)
    return base


def test_contamination_embedding_strict_on_planted_corpus(spark, tmp_path):
    """VERDICT r12 item 7: the production-shaped (>= 0.8, fixed
    nprobe) decontamination twin must be NON-vacuously correct — on a
    planted corpus it must (a) equal its IVF-replaying DuckDB oracle
    exactly and (b) agree with the brute-force eval-vs-train verdict
    for every eval item (planted partners share probe cells by
    construction, so recall is 1.0 here)."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from go_integ_spark.operators.curation import CONTAM_EMB_STRICT

    base = _sparse_neardup_embeddings()
    n = len(base)
    path = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [r.astype("float32") for r in base], pa.list_(pa.float32())
                ),
            }
        ),
        f"{path}/embeddings.parquet",
    )
    q, o = entry.queries(), entry.oracle_sql()
    name = "contamination_embedding_strict"
    got = sorted(map(tuple, q[name](spark, path).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{path}/embeddings.parquet'"
    )
    oracle = sorted(con.execute(o[name]).fetchall())
    assert got == oracle
    # brute-force eval-vs-train verdicts on the float64-cast vectors
    e = base.astype("float32").astype("float64")
    nrm = np.sqrt((e * e).sum(axis=1))
    sim = (e @ e.T) / np.outer(nrm, nrm)
    ev_ids = [i for i in range(n) if i % 10 == 0]
    tr_ids = np.array([i for i in range(n) if i % 10 != 0])
    brute = {
        ev: bool((sim[ev, tr_ids] >= CONTAM_EMB_STRICT).any()) for ev in ev_ids
    }
    got_verdicts = {int(r[0]): bool(r[1]) for r in got}
    assert got_verdicts == brute
    assert sum(brute.values()) >= 8, "corpus must contain contaminated evals"


class TestBlockPairCap:
    def test_no_block_exceeds_pair_cap(self, monkeypatch):
        """r13: the planner must bound every block's kernel pairs at
        BLOCK_PAIR_CAP regardless of cost constants — the 1000x
        multilang probe measured a 200x real-time spread across bins
        whose PLANNED costs were uniform to 1.3x, because a capped
        dimension still admitted cap x cap = 67M-pair blocks."""
        from go_integ_spark.functions import blocks

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
        from go_integ_spark.functions import blocks

        (split,), _, _ = [
            x for x in [blocks.plan_grid_bins([((1,), 100, 1_000_000)], 8192, 256)]
        ][0]
        nc, np_ = split[-2], split[-1]
        # probe side is 10_000x heavier: replicate PROBES (grow nc)
        # as little as possible, split probes (np_) instead
        assert np_ > nc
