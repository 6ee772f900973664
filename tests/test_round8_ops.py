"""Round-8 hardening pins: the hot-label cap on the blocking-key
similarity join (VERDICT r7 item 3) and the cached-persist slot
discriminator (ADVICE r7)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_cap_hot_groups_drops_only_the_hot_label(spark):
    from go_integ_spark.operators.similarity import cap_hot_groups

    rows = [("hot", i) for i in range(9)] + [("cold", i) for i in range(3)]
    df = spark.createDataFrame(rows, "label string, vec_id int")
    out = cap_hot_groups(df, "label", cap=8).collect()
    assert {r["label"] for r in out} == {"cold"}
    assert sorted(r["vec_id"] for r in out) == [0, 1, 2]
    # at the cap exactly -> kept
    out2 = cap_hot_groups(df, "label", cap=9)
    assert out2.count() == 12


def test_threshold_join_cap_never_binds_on_gate_corpora(spark):
    """The exact-pair oracle contract holds only while no gate label
    exceeds the cap — pin the headroom so a testdata refresh that
    grows a label past it fails here, not as a driver hash-red."""
    from go_integ_spark.operators.similarity import THRESHOLD_JOIN_MAX_LABEL

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        biggest = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("mx"))
            .collect()[0]["mx"]
        )
        assert biggest * 4 <= THRESHOLD_JOIN_MAX_LABEL, (
            f"{sf_dir}: largest label {biggest} is within 4x of the "
            f"{THRESHOLD_JOIN_MAX_LABEL} hot-label cap"
        )


def test_threshold_join_with_injected_hot_label(spark, tmp_path):
    """End-to-end: a label pushed past the cap contributes NO pairs,
    while the healthy labels' exact pair set is unchanged."""
    import numpy as np

    from go_integ_spark.operators import similarity as S

    rng = np.random.RandomState(7)
    n_hot = 40
    rows = []
    for i in range(n_hot):
        rows.append((i, 0, rng.normal(0, 1, 8).astype("float32").tolist()))
    for i in range(6):
        rows.append((n_hot + i, 1, rng.normal(0, 1, 8).astype("float32").tolist()))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    path = str(tmp_path / "embeddings.parquet")
    df.write.parquet(path)

    orig = S.THRESHOLD_JOIN_MAX_LABEL
    S.THRESHOLD_JOIN_MAX_LABEL = 32
    try:
        out = S.similarity_threshold_join(spark, str(tmp_path)).collect()
    finally:
        S.THRESHOLD_JOIN_MAX_LABEL = orig
    assert all(r["label"] == 1 for r in out)
    # the uncapped run over label 1 alone gives the same pairs
    S_pairs = {(r["vec_a"], r["vec_b"]) for r in out}
    full = S.similarity_threshold_join(spark, str(tmp_path)).collect()
    full_pairs = {(r["vec_a"], r["vec_b"]) for r in full if r["label"] == 1}
    assert S_pairs == full_pairs


# ---------------------------------------------------------------------------
# Round-8 additions: matryoshka recall + zipf fit — oracle-independent
# numpy references (the r6 lesson: Spark query and DuckDB oracle from
# one mental model share blind spots; a third implementation from the
# raw parquet doesn't).
# ---------------------------------------------------------------------------

SF_DIR = "/root/testdata/sf0.001"


def _unit(e):
    import numpy as np

    return e / np.sqrt((e * e).sum(axis=1))[:, None]


def test_matryoshka_recall_matches_numpy_reference(spark):
    import numpy as np
    import pyarrow.parquet as pq

    from go_integ_spark.operators.similarity import (
        MRL_EVAL_DIMS,
        N_QUERIES,
        TOP_K,
    )
    from go_integ_spark.registry import load_all

    rows = load_all()["similarity_matryoshka_recall"].fn(spark, SF_DIR).collect()
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.asarray(t["vec_id"].to_pylist(), dtype=np.int64)
    e = np.stack([np.asarray(x, np.float64) for x in t["embedding"].to_pylist()])
    order = np.argsort(ids)
    ids, e = ids[order], e[order]

    def topk_ids(d):
        u = _unit(e[:, :d])
        sims = u[:N_QUERIES] @ u.T
        out = {}
        for q in range(N_QUERIES):
            cands = [(-sims[q, c], int(ids[c])) for c in range(len(ids)) if c != q]
            cands.sort()
            out[q] = {c for _, c in cands[:TOP_K]}
        return out

    truth = topk_ids(e.shape[1])
    want = set()
    for d in MRL_EVAL_DIMS:
        approx = topk_ids(d)
        for q in range(N_QUERIES):
            hits = len(approx[q] & truth[q])
            want.add((q, d, hits, hits * 10000 // TOP_K))
    got = {(r["query_id"], r["dims"], r["hits"], r["recall_bp"]) for r in rows}
    assert got == want and len(got) == len(MRL_EVAL_DIMS) * N_QUERIES
    # the full-dim heads must retrieve better than chance: every depth
    # keeps at least one true neighbor somewhere in the query set
    assert any(h > 0 for (_, _, h, _) in got)


def test_matryoshka_rank_margins_pinned():
    """Truncated-dim orderings are float-keyed cross-engine too —
    same pin class as tests/test_float_margins.py. Measured min adjacent
    top-k gap: 1.4e-5 (32 dims), 8.0e-5 (16 dims) at sf0.001."""
    import numpy as np
    import pyarrow.parquet as pq

    from go_integ_spark.operators.similarity import (
        MRL_EVAL_DIMS,
        N_QUERIES,
        TOP_K,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        t = pq.read_table(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        )
        ids = np.asarray(t["vec_id"].to_pylist(), dtype=np.int64)
        e = np.stack([np.asarray(x, np.float64) for x in t["embedding"].to_pylist()])
        e = e[np.argsort(ids)]
        for d in MRL_EVAL_DIMS:
            u = _unit(e[:, :d])
            sims = u[:N_QUERIES] @ u.T
            mask = np.ones_like(sims, dtype=bool)
            mask[np.arange(N_QUERIES), np.arange(N_QUERIES)] = False
            for q in range(N_QUERIES):
                s = np.sort(sims[q][mask[q]])[::-1][: TOP_K + 1]
                gap = np.abs(np.diff(s)).min()
                assert gap > 1e-7, f"{sf_dir} dims={d} q={q}: gap {gap:.2e}"


def test_zipf_fit_matches_numpy_reference(spark):
    import re

    import numpy as np
    import pyarrow.parquet as pq

    from go_integ_spark.operators.text import ZIPF_TOP_R
    from go_integ_spark.registry import load_all

    rows = load_all()["text_zipf_fit"].fn(spark, SF_DIR).collect()
    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["source", "text"])
    counts: dict[str, dict[str, int]] = {}
    for src, text in zip(t["source"].to_pylist(), t["text"].to_pylist()):
        d = counts.setdefault(src, {})
        for w in re.findall("[a-z]+", text):
            d[w] = d.get(w, 0) + 1
    want = {}
    for src, d in counts.items():
        head = sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_TOP_R]
        if len(head) < 3:
            continue
        y = np.log([c for _, c in head])
        x = np.log(np.arange(1, len(head) + 1, dtype=np.float64))
        n = len(head)
        sxy = n * (x * y).sum() - x.sum() * y.sum()
        sxx = n * (x * x).sum() - x.sum() ** 2
        syy = n * (y * y).sum() - y.sum() ** 2
        want[src] = (n, round(sxy / sxx, 4), round(sxy * sxy / (sxx * syy), 4))
    got = {
        r["source"]: (r["n_ranked"], r["zipf_slope"], r["zipf_r2"]) for r in rows
    }
    assert set(got) == set(want)
    for src in want:
        assert got[src][0] == want[src][0]
        # reduction-order tolerance: one float ulp after rounding
        assert abs(got[src][1] - want[src][1]) <= 1e-4
        assert abs(got[src][2] - want[src][2]) <= 1e-4
    # natural-ish synthetic text still decays: slope must be negative
    assert all(sl < 0 for (_, sl, _) in got.values())


def test_warmup_datasource_runs(spark):
    """The DataSource warmup read (bills worker spin-up outside the
    connector bench line) must stay runnable: empty page, 8
    partitions, no server."""
    from go_integ_spark.sources.datasource import warmup_datasource

    warmup_datasource(spark)  # raises on any regression
