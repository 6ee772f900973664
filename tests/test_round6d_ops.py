"""Invariant pins for the fifth round-6 session's additions, beyond
oracle equality: PageRank mass accounting (with an oracle-INDEPENDENT
pure-Python re-derivation — the shared-flaw lesson from the BM25/DSIR
review) and epoch-schedule arithmetic.
"""

from __future__ import annotations

from go_integ_spark.operators.dedup import (
    PAGERANK_ITERS,
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_UNIT,
)
from go_integ_spark.registry import load_all
from go_integ_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

REG = load_all()


def test_pagerank_mass_accounting(spark):
    rows = REG["graph_pagerank_sources"].fn(spark, SF_DIR).collect()
    n = len(rows)
    assert n == 20  # one row per source
    teleport = (PR_UNIT * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * n)
    # Total mass never exceeds one UNIT (dangling + truncation only
    # ever LOSE mass), and every node keeps at least its teleport.
    assert sum(r["pr_pico"] for r in rows) <= PR_UNIT
    for r in rows:
        assert r["pr_pico"] >= teleport, r
    # A node with no duplication edges receives nothing but teleport.
    dangling = [r for r in rows if r["dup_weight"] == 0]
    for r in dangling:
        assert r["pr_pico"] == teleport, r
    # The graph is non-trivial at sf0.001 and connected nodes
    # accumulate strictly more than teleport mass.
    connected = [r for r in rows if r["dup_weight"] > 0]
    assert connected, "expected cross-source duplicate edges"
    assert max(r["pr_pico"] for r in connected) > teleport


def test_pagerank_matches_pure_python(spark):
    # Oracle-independent third implementation: rebuild the source
    # graph from the registered LSH pair query and iterate the same
    # fixed-point recurrence in plain Python ints.
    pairs = REG["dedup_minhash_lsh"].fn(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source").collect()
    src = {r["doc_id"]: r["source"] for r in docs}
    und: dict[tuple[str, str], int] = {}
    for p in pairs:
        a, b = src[p["doc_a"]], src[p["doc_b"]]
        if a == b:
            continue
        key = (min(a, b), max(a, b))
        und[key] = und.get(key, 0) + 1
    edges: dict[str, list[tuple[str, int]]] = {}
    for (u, v), w in und.items():
        edges.setdefault(u, []).append((v, w))
        edges.setdefault(v, []).append((u, w))
    wsum = {u: sum(w for _, w in nbrs) for u, nbrs in edges.items()}
    nodes = sorted({r["source"] for r in docs})
    n = len(nodes)
    teleport = (PR_UNIT * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * n)
    pr = {s: PR_UNIT // n for s in nodes}
    for _ in range(PAGERANK_ITERS):
        agg = {s: 0 for s in nodes}
        for u, nbrs in edges.items():
            for v, w in nbrs:
                agg[v] += (pr[u] * w) // wsum[u]
        pr = {s: teleport + (PR_DAMP_NUM * agg[s]) // PR_DAMP_DEN for s in nodes}
    got = {
        r["source"]: (r["dup_weight"], r["pr_pico"])
        for r in REG["graph_pagerank_sources"].fn(spark, SF_DIR).collect()
    }
    assert got == {s: (wsum.get(s, 0), pr[s]) for s in nodes}


def test_epoch_schedule_arithmetic(spark):
    rows = REG["curation_epoch_schedule"].fn(spark, SF_DIR).collect()
    assert len(rows) == 20
    # Uniform split: every source sees the same demand.
    assert len({r["demand_tokens"] for r in rows}) == 1
    for r in rows:
        assert r["deficit_tokens"] == r["demand_tokens"] - r["effective_tokens"]
        assert r["effective_tokens"] <= r["demand_tokens"]
        assert r["effective_tokens"] <= 4 * r["avail_tokens"]
        # The cap binds exactly when demand exceeds 4 epochs.
        assert (r["deficit_tokens"] > 0) == (
            r["demand_tokens"] > 4 * r["avail_tokens"]
        )
        assert r["epochs_centi"] == r["demand_tokens"] * 100 // r["avail_tokens"]
