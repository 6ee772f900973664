"""Cross-engine float-margin pins for the similarity family.

similarity_hard_negatives gates on a FLOAT cosine (Spark fold vs
DuckDB builtin — the class that flipped dedup_semdedup's r6 driver
row), and similarity_ivf_probe_recall's cell assignment and rank
orderings are float-keyed. Safe only while every gated/ordered
value sits FAR from its decision boundary: the two engines' cosines
agree to ~1 ulp (<1e-15 relative), so a pinned margin of 1e-7 is
~1e8x the worst drift. These tests make a data refresh that shrinks
them a loud failure instead of a silent driver hash-red. Measured
minima (sf0.001 / sf0.01 / sf0.1 / 10x corpus): gate 5.8e-2 /
5.0e-2 / 3.1e-2 / 1.6e-3; adjacency 7.8e-6 / 2.0e-4 / 2.0e-5 /
9.8e-6; IVF assignment 8.1e-6 / 8.4e-5 / 1.8e-6; probe boundary
1.8e-4 / 1.3e-3 / 2.1e-4.
"""

from __future__ import annotations

import numpy as np
import pytest

HARD_NEG_GATE_MARGIN = 1e-4
RANK_ADJACENCY_MARGIN = 1e-7
IVF_PROBE_BOUNDARY_MARGIN = 1e-5

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def _unit_vectors(sf_dir):
    """(ids, unit-norm float64 vectors), vec_id-sorted, straight from
    parquet — engine-free ground truth for margin measurement (numpy
    @, DuckDB's builtin and Spark's fold all agree to ~1 ulp, dwarfed
    by the pinned margins)."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.asarray(t["vec_id"].to_pylist(), dtype=np.int64)
    e = np.stack([np.asarray(x, dtype=np.float64) for x in t["embedding"].to_pylist()])
    order = np.argsort(ids)
    ids, e = ids[order], e[order]
    return ids, _normalise(e)


def _normalise(e):
    return e / np.sqrt((e * e).sum(axis=1))[:, None]


def _gate_and_adjacency_margins(u):
    from go_integ_spark.operators.similarity import (
        HARD_NEG_DUP_CEILING,
        N_QUERIES,
        TOP_K,
    )

    sims = u[:N_QUERIES] @ u.T
    mask = np.ones_like(sims, dtype=bool)
    mask[np.arange(N_QUERIES), np.arange(N_QUERIES)] = False
    gate = np.abs(sims[mask] - HARD_NEG_DUP_CEILING).min()
    adjacency = np.inf
    for q in range(N_QUERIES):
        s = sims[q][mask[q]]
        below = np.sort(s[s < HARD_NEG_DUP_CEILING])[::-1][: TOP_K + 1]
        if len(below) > 1:
            adjacency = min(adjacency, np.abs(np.diff(below)).min())
        # the unrestricted top-k boundary feeds the recall evals' truth
        top = np.sort(s)[::-1][: TOP_K + 1]
        if len(top) > 1:
            adjacency = min(adjacency, np.abs(np.diff(top)).min())
    return gate, adjacency


def _assert_gate_and_adjacency(name, u):
    gate, adjacency = _gate_and_adjacency_margins(u)
    assert gate > HARD_NEG_GATE_MARGIN, (
        f"{name}: a query-corpus cosine sits {gate:.2e} from the "
        f"HARD_NEG_DUP_CEILING gate — inside the pinned cross-engine "
        f"margin; re-derive the ceiling or int-gate it like "
        f"dedup_semdedup"
    )
    assert adjacency > RANK_ADJACENCY_MARGIN, (
        f"{name}: two rank-adjacent top-k candidates sit "
        f"{adjacency:.2e} apart — engines may order them differently"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_hard_negatives_float_gate_margin_pinned(sf_dir):
    _assert_gate_and_adjacency(sf_dir, _unit_vectors(sf_dir)[1])


def _ten_x_embeddings():
    """The 20,000 float32 vectors of the 10x corpus (10x sf0.1's 2,000;
    10 clusters of 64-dim points, seed 42), rebuilt without its
    documents and widened to float64 as a parquet read would.

    The corpus drew its documents from the same RandomState first, so
    the document draws are replayed, tracking word counts only: 30-59
    words from a 37-word vocabulary; every 20th doc prepends a 16-word
    boilerplate; every 17th (but the first) copies the previous doc
    and replaces one word, drawing the word before its position."""
    rng = np.random.RandomState(42)
    n_vocab, n_docs, n_vecs = 37, 50_000, 20_000
    prev = 0
    for i in range(n_docs):
        n = int(rng.randint(30, 60))
        rng.randint(0, n_vocab, n)
        if i % 20 == 0:
            n += 16
        if i % 17 == 0 and i > 0:
            rng.randint(0, n_vocab)
            rng.randint(0, prev)
            n = prev
        prev = n
    centers = rng.normal(0, 5.0, size=(10, 64))
    emb = centers[np.arange(n_vecs) % 10] + rng.normal(0, 1.0, size=(n_vecs, 64))
    return emb.astype(np.float32).astype(np.float64)


def test_hard_negatives_float_gate_margin_pinned_on_10x_corpus():
    """The tightest gate margin measured (1.6e-3, 30x below sf0.01's):
    margins shrink as the corpus grows, so the gate-sf corpora alone
    would not show one closing in."""
    _assert_gate_and_adjacency("10x corpus", _normalise(_ten_x_embeddings()))


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_ivf_float_orderings_margin_pinned(sf_dir):
    """Cell assignment (argmax centroid) and the probe-rank cut
    points of similarity_ivf_probe_recall are float-ordered on both
    engines; pin the tie gaps clear of cross-engine drift."""
    import hashlib

    from go_integ_spark.operators.similarity import (
        IVF_K,
        IVF_PROBE_CURVE,
        N_QUERIES,
    )

    ids, u = _unit_vectors(sf_dir)
    cent_rows = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )[:IVF_K]
    cs = np.sort(u @ u[cent_rows].T, axis=1)[:, ::-1]
    assign_gap = (cs[:, 0] - cs[:, 1]).min()
    assert assign_gap > RANK_ADJACENCY_MARGIN, (
        f"{sf_dir}: a vector's best/second-best centroid cosines sit "
        f"{assign_gap:.2e} apart — cell assignment may flip engines"
    )
    probe_gap = min(
        (cs[:N_QUERIES, p - 1] - cs[:N_QUERIES, p]).min()
        for p in IVF_PROBE_CURVE
        if p < IVF_K
    )
    assert probe_gap > IVF_PROBE_BOUNDARY_MARGIN, (
        f"{sf_dir}: a query's probe-rank boundary gap is "
        f"{probe_gap:.2e} — the nprobe cut may differ across engines"
    )
