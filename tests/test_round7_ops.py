"""Oracle-INDEPENDENT references and semantic pins for the round-7
additions (tolerance as-of join, hard-negative mining, IVF probe
curve) — the round-6 lesson applied from the start: when the Spark
query and its DuckDB oracle come from one mental model, a shared
flaw is invisible to the value gate, so every new operator also gets
a third implementation in pure Python/numpy built from the raw
parquet.
"""

from __future__ import annotations

import numpy as np

from go_integ_spark.registry import load_all

SF_DIR = "/root/testdata/sf0.001"

REG = load_all()


def test_asof_tolerance_matches_python_replay(spark):
    from go_integ_spark.operators.advanced import ASOF_TOLERANCE_US

    import calendar

    rows = REG["asof_join_tolerance"].fn(spark, SF_DIR).collect()
    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )

    def us(ts):
        # events.ts collects as TIMESTAMP_NTZ, whose PySpark collect
        # path (TimestampNTZType.fromInternal) is UTC-fixed
        # regardless of host OR session timezone — so timegm is the
        # exact all-integer inverse. NB: an LTZ (TimestampType)
        # column collects in HOST-local wall clock and would need
        # .astimezone, not this.
        return calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
    by_user: dict[int, list] = {}
    for r in ev:
        if r["event_type"] in ("click", "purchase"):
            by_user.setdefault(r["user_id"], []).append(r)
    want = {}
    for u, rs in by_user.items():
        rs.sort(key=lambda r: (us(r["ts"]), r["event_type"] != "click", r["event_id"]))
        last_click = None
        for r in rs:
            if r["event_type"] == "click":
                last_click = us(r["ts"])
            else:
                tu = us(r["ts"])
                hit = last_click is not None and tu - last_click <= ASOF_TOLERANCE_US
                want[r["event_id"]] = (
                    hit,
                    last_click if hit else None,
                    (tu - last_click) if hit else None,
                )
    got = {
        r["event_id"]: (r["matched"], r["click_us"], r["delta_us"]) for r in rows
    }
    assert got == want
    assert any(m for m, _, _ in want.values()), "no matched purchases"
    assert any(not m for m, _, _ in want.values()), "tolerance never binds"


def _sims(spark):
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in emb], dtype=np.int64)
    e = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in emb])
    order = np.argsort(ids)
    ids, e = ids[order], e[order]
    norms = np.sqrt((e * e).sum(axis=1))
    # fold-order cosine, same accumulation as fold_cosine_block
    acc = np.zeros((len(ids), len(ids)))
    for d in range(e.shape[1]):
        acc += e[:, d : d + 1] * e[:, d][None, :]
    return ids, acc / (norms[:, None] * norms[None, :])


def test_hard_negatives_ceiling_is_the_dedup_bar():
    """The operator's contract is 'the same corpus-wide near-dup bar
    the dedup family uses' — pin the literal to the source constant
    so a retune of either fails loudly (the modules can't share it
    at module level without an import cycle)."""
    from go_integ_spark.operators.dedup import EMB_COS_THRESHOLD
    from go_integ_spark.operators.similarity import HARD_NEG_DUP_CEILING

    assert HARD_NEG_DUP_CEILING == EMB_COS_THRESHOLD


def test_hard_negatives_matches_numpy_reference(spark):
    from go_integ_spark.operators.similarity import (
        HARD_NEG_DUP_CEILING,
        N_QUERIES,
        TOP_K,
    )

    rows = REG["similarity_hard_negatives"].fn(spark, SF_DIR).collect()
    assert all(r["cos_sim"] < HARD_NEG_DUP_CEILING for r in rows)
    ids, sim = _sims(spark)
    idx = {int(v): i for i, v in enumerate(ids)}
    want = set()
    for q in range(N_QUERIES):
        cands = [
            (-sim[idx[q], idx[c]], int(c))
            for c in ids
            if c != q and sim[idx[q], idx[c]] < HARD_NEG_DUP_CEILING
        ]
        cands.sort()
        for rank, (_, c) in enumerate(cands[:TOP_K], start=1):
            want.add((q, c, rank))
    got = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in rows}
    assert got == want and len(got) > 0


def test_probe_recall_curve_monotone_and_consistent(spark):
    """Recall@k must be non-decreasing in nprobe (a candidate set
    only grows), and the curve's nprobe=IVF_NPROBE point must equal
    the registered single-point recall eval exactly."""
    from go_integ_spark.operators.similarity import IVF_NPROBE, IVF_PROBE_CURVE

    rows = REG["similarity_ivf_probe_recall"].fn(spark, SF_DIR).collect()
    by_q: dict[int, dict[int, int]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["nprobe"]] = r["recall_bp"]
    assert by_q, "empty curve"
    for q, pts in by_q.items():
        seq = [pts[p] for p in IVF_PROBE_CURVE if p in pts]
        assert seq == sorted(seq), f"recall not monotone for query {q}: {pts}"
    single = {
        r["query_id"]: r["recall_bp"]
        for r in REG["similarity_recall_eval"].fn(spark, SF_DIR).collect()
    }
    for q, bp in single.items():
        assert by_q.get(q, {}).get(IVF_NPROBE) == bp, (
            f"curve point nprobe={IVF_NPROBE} disagrees with "
            f"similarity_recall_eval for query {q}"
        )
