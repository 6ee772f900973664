"""Similarity-search invariants beyond the DuckDB oracle:

- IVF recall vs the exact brute-force top-k (the oracle covers
  brute force; IVF is approximate by construction, so its contract
  is a recall floor, deterministic on this fixed corpus);
- salted top-k equals a naive single-window top-k (the salting is a
  pure execution-strategy change, never a result change);
- hard negatives, the probe-recall curve and mined bitext pairs
  against oracle-independent references: when the Spark query and
  its DuckDB oracle come from one mental model, a shared flaw is
  invisible to the value gate.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from go_integ_spark.operators.similarity import (
    TOP_K,
    ann_bruteforce_topk,
    ann_ivf_topk,
    salted_topk,
)
from go_integ_spark.registry import load_all

SF_DIR = "/root/testdata/sf0.001"

REG = load_all()


@pytest.fixture(scope="module")
def exact(spark):
    return {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bruteforce_topk(spark, SF_DIR).collect()
    }


def test_ivf_recall_floor(spark, exact):
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_ivf_topk(spark, SF_DIR).collect()
    }
    recall = len(ivf & exact) / len(exact)
    # The synthetic embeddings are RANDOM — no cluster structure —
    # so IVF recall is capped near its probe coverage (nprobe=4 of
    # the 16 fixed cells => 0.25 if probing were random).
    # Deterministic recall here is exactly 0.5: 2x the random-probing
    # baseline (nearest-cell probing works) and stable, which is the
    # contract this test pins. On real clustered embeddings the same
    # operator's recall approaches 1 at far smaller coverage.
    assert recall >= 0.45, f"IVF recall {recall:.3f} below deterministic floor"


def test_ivf_no_false_scores(spark, exact):
    """Every IVF hit must carry the same cosine the exact path
    computed — approximation may drop neighbors, never misscore."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in ann_bruteforce_topk(spark, SF_DIR).collect()
    }
    for r in ann_ivf_topk(spark, SF_DIR).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:
            assert abs(r["cos_sim"] - brute[key]) < 1e-9


def test_pq_lut_cross_engine_exact(spark):
    """The ADC lookup table must be BIT-IDENTICAL across all three
    places that compute PQ subspace distances: the Python driver-side
    LUT builder (``pq_lut_u``), the Spark encode-side expression (the
    same per-term fixed point ``_with_pq_best`` uses), and the DuckDB
    gate oracle. This is the class of bug behind round 4's
    ``similarity_pq_search`` hash-fail — an order-dependent float sum
    scaled only after summation — so the equality is asserted on every
    (query, subspace, code) entry, pre-gate."""
    from go_integ_spark.functions.vector import with_norm
    from go_integ_spark.operators.similarity import (
        ADC_SCALE,
        IVF_K,
        N_QUERIES,
        PQ_DIM,
        PQ_M,
        _centroid_lit_from_row,
        ivf_centroids,
        pq_lut_u,
    )
    from go_integ_spark.tables import load_table
    from tests.oracle_utils import run_oracle

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    v = with_norm(emb)
    (crow,) = ivf_centroids(v).collect()
    cents = [[float(x) for x in c["ce"]] for c in crow["cents"]]
    qrows = v.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "e").collect()
    py = {
        int(r["vec_id"]): pq_lut_u([float(x) for x in r["e"]], cents)
        for r in qrows
    }

    mat = F.expr(
        f"""
        transform(sequence(0, {PQ_M - 1}), m ->
          transform(cents, s ->
            aggregate(
              zip_with(slice(e, m * {PQ_DIM} + 1, {PQ_DIM}),
                       slice(s.ce, m * {PQ_DIM} + 1, {PQ_DIM}),
                       (x, y) -> cast(floor(
                           (x - y) * (x - y) * {ADC_SCALE} + 0.5d) as bigint)),
              cast(0 as bigint), (acc, x) -> acc + x)))
        """
    )
    sp_rows = (
        v.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("cents", _centroid_lit_from_row(crow))
        .select("vec_id", mat.alias("lut"))
        .collect()
    )
    sp = {
        int(r["vec_id"]): [[int(x) for x in row] for row in r["lut"]]
        for r in sp_rows
    }
    assert sp == py, "Spark LUT diverges from Python LUT"

    _, rows = run_oracle(
        f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
    SELECT vec_id AS cent_id, e AS ce FROM v
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {IVF_K}
), cidx AS (
    SELECT ce, CAST(row_number() OVER (ORDER BY cent_id) - 1 AS INT) AS code
    FROM cent
)
SELECT q.vec_id AS query_id, m.m, c.code,
       list_sum(list_transform(generate_series(1, {PQ_DIM}),
           i -> CAST(floor(
               (q.e[m.m * {PQ_DIM} + i] - c.ce[m.m * {PQ_DIM} + i])
               * (q.e[m.m * {PQ_DIM} + i] - c.ce[m.m * {PQ_DIM} + i])
               * {ADC_SCALE} + 0.5) AS BIGINT))) AS du
FROM v q
CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
CROSS JOIN cidx c
WHERE q.vec_id < {N_QUERIES}
""",
        SF_DIR,
    )
    duck: dict[int, list[list[int]]] = {
        qid: [[-1] * IVF_K for _ in range(PQ_M)] for qid in py
    }
    for qid, m, code, du in rows:
        duck[int(qid)][int(m)][int(code)] = int(du)
    assert duck == py, "DuckDB LUT diverges from Python LUT"


def test_salted_topk_matches_naive_window(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 37 % 101).cast("double").alias("score"),
        F.col("id"),
    )
    naive_w = Window.partitionBy("g").orderBy(F.col("score").desc(), F.col("id"))
    naive = (
        df.withColumn("rn", F.row_number().over(naive_w))
        .filter(F.col("rn") <= TOP_K)
        .select("g", "id", "rn")
    )
    salted = salted_topk(
        df, "g", [F.col("score").desc(), F.col("id")], TOP_K
    ).select("g", "id", "rn")
    assert sorted(map(tuple, naive.collect())) == sorted(map(tuple, salted.collect()))


def test_pq_encode_invariants(spark):
    """PQ structural contract: map-side-only plan (no exchange, no
    join), codes within the codebook range, and the codebook vectors
    themselves encode losslessly (their own sub-slices are codebook
    entries, so per-subspace distance is exactly 0)."""
    from go_integ_spark.operators.similarity import IVF_K, PQ_M, pq_code_vectors

    df = pq_code_vectors(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    rows = df.collect()
    assert all(len(r["pq_codes"]) == PQ_M for r in rows)
    assert all(0 <= c < IVF_K for r in rows for c in r["pq_codes"])
    assert sum(r["pq_mse_u"] == 0 for r in rows) == IVF_K
    assert all(r["pq_mse_u"] >= 0 for r in rows)


def test_pq_search_approximates_exact(spark, exact):
    """ADC over 8 codes must still put a solid fraction of the exact
    top-k in its top-k (random 64-dim corpus, 32x compression — the
    bar is necessarily lower than full-precision IVF), and its
    distances must be monotone in rank with deterministic output."""
    from go_integ_spark.operators.similarity import similarity_pq_search

    rows = similarity_pq_search(spark, SF_DIR).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    # RANDOM 64-dim vectors are incompressible: at 32x compression the
    # per-subspace quantization error swamps most of the tiny true
    # inter-vector signal (overlap vs the exact EUCLIDEAN top-k is the
    # same 0.08, so this is quantization noise, not the cosine/L2
    # metric gap). The honest contract is therefore
    # clearly-above-chance: random top-10 agreement would be
    # 10/(N-1) ~= 0.02; deterministic overlap here is 0.08 = 4x that.
    # On real clustered embeddings PQ recall is far higher — that is
    # the entire reason the technique works in production.
    n_corpus = 500
    chance = 10 / (n_corpus - 1)
    overlap = len(got & exact) / len(exact)
    assert overlap >= 3 * chance, f"PQ overlap {overlap:.3f} vs chance {chance:.3f}"
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["adc_dist2_u"]))
    for ranked in by_q.values():
        ranked.sort()
        assert [r for r, _ in ranked] == list(range(1, len(ranked) + 1))
        dists = [d for _, d in ranked]
        assert dists == sorted(dists)  # monotone in rank


def test_pq_recall_high_on_clustered_embeddings(spark, tmp_path):
    """On CLUSTERED (compressible) embeddings PQ-ADC must recover
    near-exact neighbors — evidence that the weak overlap on the
    shipped corpus is a property of random data, not of the code.
    Ten tight clusters: a query's true top-k is its own cluster, and
    quantization error is small relative to inter-cluster distance."""
    from go_integ_spark.operators.similarity import TOP_K, similarity_pq_search

    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.normal(0, 10.0, size=(10, 64))
    rows = []
    for vid in range(200):
        c = centers[vid % 10]
        rows.append(
            (vid, (c + rng.normal(0, 0.05, 64)).astype("float32").tolist(), f"l{vid % 10}")
        )
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    got = {}
    for r in similarity_pq_search(spark, str(tmp_path)).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for qid, neigh in got.items():
        same_cluster = {v for v in range(200) if v % 10 == qid % 10 and v != qid}
        assert len(neigh) == TOP_K
        hits += len(neigh & same_cluster)
        total += TOP_K
    recall = hits / total
    assert recall >= 0.9, f"clustered-data PQ recall {recall:.2f}"


def test_pq_trained_codebook_beats_hash(spark, tmp_path):
    """The Lloyd-trained per-subspace codebook must strictly lower
    total quantization error versus the hash-selected init (Lloyd
    from that init can only descend), and must not lose top-k recall
    on clusterable data. This pins that codebook=\"trained\" is the
    better production path, while the hash book remains the
    deterministic oracle path."""
    import numpy as np

    from go_integ_spark.operators.similarity import (
        similarity_pq_encode,
        similarity_pq_search,
    )

    rng = np.random.RandomState(11)
    centers = rng.normal(0, 10.0, size=(10, 64))
    rows = []
    for vid in range(200):
        c = centers[vid % 10]
        rows.append(
            (vid, (c + rng.normal(0, 2.0, 64)).astype("float32").tolist(), f"l{vid % 10}")
        )
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    mse = {}
    for cb in ("hash", "trained"):
        mse[cb] = sum(
            r["pq_mse_u"]
            for r in similarity_pq_encode(spark, str(tmp_path), codebook=cb).collect()
        )
    assert mse["trained"] < mse["hash"], f"trained MSE {mse['trained']} !< {mse['hash']}"

    recall = {}
    for cb in ("hash", "trained"):
        got: dict[int, set[int]] = {}
        for r in similarity_pq_search(spark, str(tmp_path), codebook=cb).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = total = 0
        for qid, neigh in got.items():
            same = {v for v in range(200) if v % 10 == qid % 10 and v != qid}
            hits += len(neigh & same)
            total += TOP_K
        recall[cb] = hits / total
    assert recall["trained"] >= recall["hash"], f"recall {recall}"


def test_ivf_cell_partitioning_prunes_scan(spark, tmp_path):
    """The 100 TB IVF story made concrete: write the corpus
    partitioned by cell_id, and a probe-cell filter must prune the
    scan to just the probed partitions (partition filters, fewer
    input files) — the scan itself skips 1 - nprobe/K of the data."""
    from pyspark.sql import functions as F

    from go_integ_spark.functions.vector import with_norm
    from go_integ_spark.operators.similarity import (
        ivf_centroid_lit,
        nearest_cells,
    )
    from go_integ_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    v = with_norm(emb)
    assigned = (
        v.withColumn("cents", ivf_centroid_lit(v))
        .withColumn("cell_id", F.element_at(nearest_cells(1), 1))
        .select("vec_id", "embedding", "cell_id")
    )
    path = str(tmp_path / "ivf_corpus")
    assigned.write.partitionBy("cell_id").mode("overwrite").parquet(path)

    corpus = spark.read.parquet(path)
    all_cells = [r["cell_id"] for r in corpus.select("cell_id").distinct().collect()]
    probes = sorted(all_cells)[:3]
    pruned = corpus.filter(F.col("cell_id").isin(probes))

    # partition pruning is visible in the files actually read
    # (inputFiles() reflects the unfiltered relation, so count the
    # distinct input_file_name() the filtered scan touches)
    n_total = len(corpus.inputFiles())
    n_read = pruned.select(F.input_file_name()).distinct().count()
    assert 0 < n_read < n_total
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell_id" in plan.split(
        "PartitionFilters"
    )[1][:200]
    # and the pruned read is still correct
    expect = {r["vec_id"] for r in assigned.filter(F.col("cell_id").isin(probes)).collect()}
    assert {r["vec_id"] for r in pruned.collect()} == expect


def test_ivfpq_above_chance_and_beats_unpruned_pq(spark, exact):
    """IVF-PQ composes the two approximations, so its recall bar is
    the PQ one (clearly above chance on this incompressible random
    corpus — see test_pq_search_approximates_exact), and pruning to
    the query's nearest cells must not LOSE accuracy vs unpruned ADC
    over the whole corpus (the candidates it drops are mostly
    far-away vectors): deterministic values here are 0.18 pruned vs
    0.08 unpruned. Ranks must be dense and ADC-monotone."""
    from go_integ_spark.operators.similarity import (
        ann_ivfpq_topk,
        similarity_pq_search,
    )

    ivfpq_rows = ann_ivfpq_topk(spark, SF_DIR).collect()
    ivfpq = {(r["query_id"], r["neighbor_id"]) for r in ivfpq_rows}
    assert all(r["adc_dist2_u"] >= 0 for r in ivfpq_rows)
    flat_pq = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity_pq_search(spark, SF_DIR).collect()
    }
    chance = TOP_K / 499
    pruned_recall = len(ivfpq & exact) / len(exact)
    unpruned_recall = len(flat_pq & exact) / len(exact)
    assert pruned_recall >= 3 * chance, (pruned_recall, chance)
    assert pruned_recall >= unpruned_recall, (pruned_recall, unpruned_recall)
    by_q = {}
    for r in ivfpq_rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["adc_dist2_u"]))
    for ranked in by_q.values():
        ranked.sort()
        assert [r for r, _ in ranked] == list(range(1, len(ranked) + 1))
        dists = [d for _, d in ranked]
        assert dists == sorted(dists)


def test_ivfpq_recall_floor_at_gate_sf(spark):
    """Recall floor at the DRIVER'S gate scale (sf0.01) for the two
    IVF-PQ flagship compositions (VERDICT r6 item 7): the eval-matrix
    queries measure recall, this pins a constant floor so a silent
    quality regression fails the suite before the gate ever sees it.
    Deterministic on the fixed corpus; 3x chance is the same bar the
    sf0.001 test uses for the composed approximation."""
    from go_integ_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_ivfpq_residual_topk,
        ann_ivfpq_topk,
    )

    gate_sf = "/root/testdata/sf0.01"
    exact01 = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bruteforce_topk(spark, gate_sf).collect()
    }
    n_corpus = 500
    chance = TOP_K / n_corpus
    for fn in (ann_ivfpq_topk, ann_ivfpq_residual_topk):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in fn(spark, gate_sf).collect()
        }
        recall = len(got & exact01) / len(exact01)
        assert recall >= 3 * chance, (fn.__name__, recall, chance)


def test_ivfpq_trained_codebook_runs(spark):
    """The trained-codebook variant swaps the Lloyd book into BOTH
    the encode and LUT sides and must stay self-consistent: full
    per-query result sets with non-negative integer ADC scores."""
    from collections import Counter

    from go_integ_spark.operators.similarity import N_QUERIES, ann_ivfpq_topk

    rows = ann_ivfpq_topk(spark, SF_DIR, codebook="trained").collect()
    per_q = Counter(r["query_id"] for r in rows)
    assert len(per_q) == N_QUERIES
    assert all(n <= TOP_K for n in per_q.values())
    assert all(r["adc_dist2_u"] >= 0 for r in rows)


def test_embedding_health_flags_dirty_vectors(spark, tmp_path):
    """On a corpus seeded with every failure mode: each unhealthy
    class is counted exactly once, unhealthy vectors are excluded
    from the norm stats, and an all-unhealthy label still reports
    integer zeros (not NULLs) for its counters."""
    import math

    from go_integ_spark.operators.similarity import EMB_DIM, embedding_health

    good = [1.0] * EMB_DIM  # norm 8
    rows = [
        (0, good, 1),
        (1, None, 1),                      # null vector
        (2, [1.0] * (EMB_DIM - 1), 1),     # wrong width
        (3, [float("nan")] + [1.0] * (EMB_DIM - 1), 1),  # NaN
        (4, [float("inf")] + [1.0] * (EMB_DIM - 1), 1),  # inf
        (5, [0.0] * EMB_DIM, 1),           # zero norm (healthy but unusable)
        (6, None, 2),                      # label 2: ALL unhealthy
    ]
    path = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(path + "/embeddings.parquet")
    got = {r["label"]: r.asDict() for r in embedding_health(spark, path).collect()}
    l1 = got[1]
    assert (l1["n_vecs"], l1["n_null"], l1["n_bad_dim"], l1["n_nonfinite"]) == (
        6, 1, 1, 2,
    )
    assert l1["n_zero_norm"] == 1
    # norm stats over the two healthy vectors only (norms 8 and 0)
    assert l1["norm_min"] == 0.0 and l1["norm_max"] == math.sqrt(EMB_DIM)
    l2 = got[2]
    assert (l2["n_null"], l2["n_zero_norm"]) == (1, 0)
    assert l2["norm_avg"] is None


def test_residual_ivfpq_beats_plain_on_clustered(spark, tmp_path):
    """Residual encoding is WHERE IVF-PQ quality comes from on real
    (clustered) data: with sigma-2 noise around well-separated
    centers, the raw-vector codebook has to describe whole vectors
    while the residual path only describes within-cell offsets.
    Pin: same-cluster recall of residual IVF-PQ (trained book) >=
    plain IVF-PQ (trained book), and both run end-to-end with dense
    ranks. Oracle value-exactness of the hash path is covered by the
    registered gate oracle."""
    import numpy as np

    from go_integ_spark.operators.similarity import (
        ann_ivfpq_residual_topk,
        ann_ivfpq_topk,
    )

    rng = np.random.RandomState(13)
    centers = rng.normal(0, 10.0, size=(10, 64))
    rows = []
    for vid in range(200):
        c = centers[vid % 10]
        rows.append(
            (vid, (c + rng.normal(0, 2.0, 64)).astype("float32").tolist(), f"l{vid % 10}")
        )
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    recall = {}
    for name, fn in (("plain", ann_ivfpq_topk), ("residual", ann_ivfpq_residual_topk)):
        got: dict[int, set[int]] = {}
        for r in fn(spark, str(tmp_path), codebook="trained").collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = total = 0
        for qid, neigh in got.items():
            same = {v for v in range(200) if v % 10 == qid % 10 and v != qid}
            hits += len(neigh & same)
            total += TOP_K
        recall[name] = hits / total
    assert recall["residual"] >= recall["plain"], f"recall {recall}"
    assert recall["residual"] > 0.5, f"residual recall too low: {recall}"


def test_random_projection_matches_python_reference(spark):
    """proj_u must equal a direct row-by-row Python restatement of the
    fixed-point contract (md5-derived signs, per-term floor to
    micro-units, integer sums) — the same math the DuckDB oracle
    spells in SQL."""
    import numpy as np

    from go_integ_spark.operators.similarity import (
        RP_IN_DIM,
        RP_OUT_DIM,
        RP_SCALE,
        _rp_sign,
        random_projection_vectors,
    )
    from go_integ_spark.tables import load_table

    got = {
        r["vec_id"]: list(r["proj_u"])
        for r in random_projection_vectors(spark, SF_DIR).collect()
    }
    emb = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    assert set(got) == set(emb)
    sign = [[_rp_sign(j, d) for d in range(RP_IN_DIM)] for j in range(RP_OUT_DIM)]
    for vec_id in list(emb)[:50]:
        q = [int(np.floor(float(x) * RP_SCALE + 0.5)) for x in emb[vec_id]]
        want = [sum(sign[j][d] * q[d] for d in range(RP_IN_DIM)) for j in range(RP_OUT_DIM)]
        assert got[vec_id] == want, vec_id


def test_random_projection_preserves_distances(spark, tmp_path):
    """The JL guarantee, statistically, in two regimes:

    1. Real corpus: median relative distortion of squared distances
       (sketch rescaled by out_dim) stays bounded. Rank agreement is
       NOT asserted there — iid high-dim embeddings concentrate, so
       true distances are near-equal and their ranks are noise by
       construction.
    2. Controlled corpus whose pair distances span orders of
       magnitude: the sketch must rank them essentially perfectly.
    """
    import numpy as np

    from go_integ_spark.operators.similarity import (
        RP_IN_DIM,
        RP_OUT_DIM,
        RP_SCALE,
        random_projection_vectors,
    )
    from go_integ_spark.tables import load_table

    proj = {
        r["vec_id"]: np.asarray(r["proj_u"], dtype=np.float64) / RP_SCALE
        for r in random_projection_vectors(spark, SF_DIR).collect()
    }
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    ids = sorted(proj)[:60]
    true_d, proj_d = [], []
    for i in range(0, len(ids) - 1, 2):
        a, b = ids[i], ids[i + 1]
        true_d.append(float(np.sum((emb[a] - emb[b]) ** 2)))
        proj_d.append(float(np.sum((proj[a] - proj[b]) ** 2)) / RP_OUT_DIM)
    true_a, proj_a = np.asarray(true_d), np.asarray(proj_d)
    nz = true_a > 0
    rel = np.abs(proj_a[nz] - true_a[nz]) / true_a[nz]
    assert np.median(rel) < 0.5

    # Controlled regime: vec 0 is the origin; vec i sits at distance
    # 2^i along a random direction, so squared distances to the origin
    # span ~6 orders of magnitude and ranks must survive the sketch.
    rng = np.random.default_rng(3)
    rows = [(0, [0.0] * RP_IN_DIM, 0)]
    for i in range(1, 11):
        d = rng.standard_normal(RP_IN_DIM)
        d = d / np.linalg.norm(d) * (2.0**i)
        rows.append((i, [float(x) for x in d], 0))
    path = str(tmp_path / "ctl")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label bigint"
    ).write.parquet(path + "/embeddings.parquet")
    ctl = {
        r["vec_id"]: np.asarray(r["proj_u"], dtype=np.float64)
        for r in random_projection_vectors(spark, path).collect()
    }
    sketch_d = [float(np.sum((ctl[i] - ctl[0]) ** 2)) for i in range(1, 11)]
    assert sketch_d == sorted(sketch_d)  # strictly increasing ranks


def test_knn_graph_mutual_flag_consistency(spark):
    """mutual must be True exactly when the reversed edge is also in
    the k-NN edge set, and every vector must emit exactly K edges with
    ranks 1..K."""
    from collections import Counter

    from go_integ_spark.operators.similarity import (
        KNN_GRAPH_K,
        embedding_knn_graph,
    )

    rows = embedding_knn_graph(spark, SF_DIR).collect()
    edges = {(r["src_id"], r["dst_id"]) for r in rows}
    for r in rows:
        assert r["mutual"] == ((r["dst_id"], r["src_id"]) in edges)
    per_src = Counter(r["src_id"] for r in rows)
    assert set(per_src.values()) == {KNN_GRAPH_K}
    by_src: dict[int, list[int]] = {}
    for r in rows:
        by_src.setdefault(r["src_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, KNN_GRAPH_K + 1)) for v in by_src.values())


def test_nearest_cells_kernel_matches_expression(spark):
    """nearest_cells_pd must emit EXACTLY the probe lists of the
    nearest_cells JVM expression for every probe count in use (1 =
    assignment, KNN/dedup/IVF probe fan-outs) — the bit-identity that
    keeps every IVF-family query's value-level DuckDB oracle valid."""
    from go_integ_spark.functions.vector import with_norm
    from go_integ_spark.operators.similarity import (
        IVF_K,
        ivf_centroid_lit,
        ivf_centroids,
        nearest_cells,
        nearest_cells_pd,
    )
    from go_integ_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    v = with_norm(emb)
    (crow,) = ivf_centroids(v).collect()
    lit = ivf_centroid_lit(v)
    for n_probe in (1, 2, 6, IVF_K):
        old = v.withColumn("cents", lit).select(
            "vec_id", nearest_cells(n_probe).alias("p")
        )
        new = v.select("vec_id", nearest_cells_pd(crow, n_probe).alias("p"))
        assert new.exceptAll(old).count() == 0, n_probe
        assert old.exceptAll(new).count() == 0, n_probe


def test_cosine_kernel_matches_jvm_expression(spark):
    """cosine_sim_pd must emit the EXACT doubles of the
    dot/(norm*norm) higher-order expression it replaced in the pair
    scorers — same fold order, same rounding points — across a full
    self-join's worth of pairs."""
    from go_integ_spark.functions.vector import cosine_sim_pd, dot, with_norm
    from go_integ_spark.tables import load_table

    v = with_norm(
        load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    ).limit(80)
    a = v.select(
        F.col("vec_id").alias("va"), F.col("e").alias("ea"), F.col("e_norm").alias("na")
    )
    b = v.select(
        F.col("vec_id").alias("vb"), F.col("e").alias("eb"), F.col("e_norm").alias("nb")
    )
    pairs = a.join(b, F.col("va") < F.col("vb"))
    expr_sim = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    both = pairs.select(
        "va",
        "vb",
        expr_sim.alias("s_expr"),
        cosine_sim_pd("ea", "na", "eb", "nb").alias("s_kern"),
    ).collect()
    assert len(both) == 80 * 79 // 2
    for r in both:
        assert r["s_expr"] == r["s_kern"], (r["va"], r["vb"])


def test_squared_dist_kernel_matches_jvm_expression(spark):
    """squared_dist_pd must equal the (x-y)^2 fold expression bit for
    bit (embedding_outliers' oracle depends on those exact doubles)."""
    from go_integ_spark.functions.vector import as_double, squared_dist_pd
    from go_integ_spark.tables import load_table

    v = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    a = v.select(F.col("vec_id").alias("va"), F.col("e").alias("ea")).limit(60)
    b = v.select(F.col("vec_id").alias("vb"), F.col("e").alias("eb")).limit(60)
    pairs = a.join(b, F.col("va") < F.col("vb"))
    expr = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rows = pairs.select(
        expr.alias("d_expr"), squared_dist_pd("ea", "eb").alias("d_kern")
    ).collect()
    assert rows and all(r["d_expr"] == r["d_kern"] for r in rows)


def test_fold_cosine_block_matches_jvm_expression(spark):
    """The shared per-cell block scorer must emit the exact doubles
    of the pairwise dot/(norm*norm) fold for EVERY (a, b) entry —
    this bit-identity is what lets cross-cell duplicate pairs
    collapse under distinct() in the three cogrouped scorers."""
    import numpy as np

    from go_integ_spark.functions.vector import (
        dot,
        fold_cosine_block,
        with_norm,
    )
    from go_integ_spark.tables import load_table

    v = with_norm(
        load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    ).limit(40)
    rows = v.select("vec_id", "e", "e_norm").collect()
    pdf_e = [list(r["e"]) for r in rows]
    pdf_n = [float(r["e_norm"]) for r in rows]
    block = fold_cosine_block(pdf_e, pdf_n, pdf_e, pdf_n)

    a = v.select(
        F.col("vec_id").alias("va"), F.col("e").alias("ea"), F.col("e_norm").alias("na")
    )
    b = v.select(
        F.col("vec_id").alias("vb"), F.col("e").alias("eb"), F.col("e_norm").alias("nb")
    )
    expr = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    idx = {int(r["vec_id"]): i for i, r in enumerate(rows)}
    got = a.join(b, F.col("va") < F.col("vb")).select("va", "vb", expr.alias("s")).collect()
    assert got
    for r in got:
        assert block[idx[r["va"]], idx[r["vb"]]] == r["s"], (r["va"], r["vb"])


def test_mmr_prefers_diverse_over_redundant(spark, tmp_path):
    """Greedy MMR must break up a redundant cluster: with three
    near-identical top-relevance hits and one slightly-less-relevant
    but orthogonal hit, rank 0 is the relevance argmax and rank 1
    must be the ORTHOGONAL doc (its diversity penalty is near zero
    while the clones pay ~full similarity to the rank-0 pick)."""
    import numpy as np

    from go_integ_spark.operators.similarity import similarity_mmr_rerank

    rng = np.random.default_rng(21)
    q = rng.standard_normal(64); q /= np.linalg.norm(q)
    b = rng.standard_normal(64); b -= (b @ q) * q; b /= np.linalg.norm(b)
    c = rng.standard_normal(64)
    c -= (c @ q) * q; c -= (c @ b) * b; c /= np.linalg.norm(c)
    rows = [(0, [float(x) for x in q], 0)]  # the query itself
    # three mutual near-clones at relevance ~0.8: same off-query
    # component c, so clone-clone sim ~ 1 while rel to q is 0.8 —
    # their round-1 MMR score is 7*0.8 - 3*1.0 = 2.6
    for vid in (10, 11, 12):
        vv = 0.8 * q + 0.6 * c + 0.01 * rng.standard_normal(64)
        rows.append((vid, [float(x) for x in vv], 0))
    # diverse doc at relevance 0.7 with its own direction: sim to a
    # clone ~ 0.56, so its score 7*0.7 - 3*0.56 = 3.22 beats the
    # remaining clones despite lower relevance
    mix = 0.7 * q + 0.714 * b
    rows.append((20, [float(x) for x in mix], 0))
    # pad the corpus so N_QUERIES ids exist but are far away
    for vid in (1, 2, 3, 4):
        rows.append((vid, [float(x) for x in -q + 0.01 * rng.standard_normal(64)], 1))
    path = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label bigint"
    ).write.parquet(path + "/embeddings.parquet")
    got = {
        (r["query_id"], r["mmr_rank"]): r["neighbor_id"]
        for r in similarity_mmr_rerank(spark, path).collect()
    }
    rank0 = got[(0, 0)]
    rank1 = got[(0, 1)]
    assert rank0 in (10, 11, 12), rank0  # relevance argmax is a clone
    assert rank1 == 20, rank1  # diversity pick beats the other clones


class TestKnnSingleKernelPass:
    def test_assignment_frame_is_cached_and_rank0(self, spark):
        """The posexploded assignment frame must live in the
        'knn_assign' single-slot cache (one centroid-scoring kernel
        pass serves corpus side, probe side, and the cell-size
        table), and its rank-0 rows must reproduce the independent
        nearest-cell assignment."""
        from go_integ_spark.functions import cache
        from go_integ_spark.functions.vector import with_norm
        from go_integ_spark.operators.similarity import (
            IVF_K,
            _build_knn_graph,
            ivf_centroids,
            nearest_cells_pd,
        )
        from go_integ_spark.tables import load_table

        emb = load_table(spark, SF_DIR, "embeddings").select(
            "vec_id", "embedding"
        )
        _build_knn_graph(spark, emb).collect()
        assert "knn_assign" in cache._slots
        pe = cache._slots["knn_assign"][2]
        got = {
            (r["vec_id"], r["cell_id"])
            for r in pe.filter("pos = 0").select("vec_id", "cell_id").collect()
        }
        v = with_norm(emb)
        (crow,) = ivf_centroids(
            v, max(IVF_K, int(emb.count() ** 0.5))
        ).collect()
        want = {
            (r["vec_id"], r["cell_id"])
            for r in v.select(
                "vec_id",
                F.element_at(nearest_cells_pd(crow, 1), 1).alias("cell_id"),
            ).collect()
        }
        assert got == want and len(got) > 0


class TestTiledFoldKernel:
    def test_bit_identity_vs_naive_fold(self):
        """The tiled fold_cosine_block must reproduce the naive
        per-dim accumulate BIT-FOR-BIT on awkward shapes (tile
        boundaries, singleton rows, non-multiple-of-tile sizes) —
        the whole oracle contract of every cogrouped scorer rides on
        this float sequence."""
        import numpy as np
        import pandas as pd

        from go_integ_spark.functions.vector import fold_cosine_block

        rng = np.random.RandomState(42)
        for m, n, d in [(1, 1, 1), (3, 7, 5), (9, 4097, 64), (257, 33, 64)]:
            a = rng.randn(m, d)
            b = rng.randn(n, d)
            an = np.sqrt((a * a).sum(1))
            bn = np.sqrt((b * b).sum(1))
            naive = np.zeros((m, n))
            for k in range(d):
                naive += a[:, k : k + 1] * b[:, k][None, :]
            naive /= an[:, None] * bn[None, :]
            got = fold_cosine_block(
                pd.Series(list(a)), pd.Series(an),
                pd.Series(list(b)), pd.Series(bn),
            )
            assert np.array_equal(got, naive), (m, n, d)


def test_bitext_pairs_shape(spark):
    from go_integ_spark.operators.similarity import (
        BITEXT_COS_FLOOR_U,
        BITEXT_MARGIN_MIN_U,
    )

    rows = REG["similarity_bitext_pairs"].fn(spark, SF_DIR).collect()
    assert rows, "the clustered corpus must yield mined pairs"
    seen = set()
    for r in rows:
        assert r["tgt_lang"] != "en"
        assert r["margin_u"] >= BITEXT_MARGIN_MIN_U
        assert r["cos_u"] >= BITEXT_COS_FLOOR_U
        key = (r["src_id"], r["tgt_lang"])
        assert key not in seen, f"duplicate best-match for {key}"
        seen.add(key)


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


def test_hard_negatives_leave_out_a_planted_near_copy(spark, tmp_path):
    """No top-k neighbour of the gate corpora's queries reaches the
    near-dup ceiling, so there the op returns exactly brute force's
    rows. Planted corpus: query 0 gets a near-copy (cos ~0.9) that
    brute force ranks first; hard negatives must leave it out and
    move every other neighbour up one rank."""
    from go_integ_spark.operators.similarity import (
        HARD_NEG_DUP_CEILING,
        similarity_hard_negatives,
    )

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((40, 64))
    vecs[5] = vecs[0] + 0.5 * rng.standard_normal(64)
    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>, label bigint",
    ).write.parquet(path + "/embeddings.parquet")

    def ranked(df, q):
        return [
            (r["neighbor_id"], r["cos_sim"])
            for r in sorted(
                df.filter(F.col("query_id") == q).collect(),
                key=lambda r: r["rank"],
            )
        ]

    brute = ranked(ann_bruteforce_topk(spark, path), 0)
    hard = ranked(similarity_hard_negatives(spark, path), 0)
    assert brute[0][0] == 5 and brute[0][1] >= HARD_NEG_DUP_CEILING, brute
    assert all(s < HARD_NEG_DUP_CEILING for _, s in brute[1:]), brute
    assert len(hard) == TOP_K
    assert 5 not in [n for n, _ in hard]
    assert hard[: TOP_K - 1] == brute[1:], (hard, brute)


def test_probe_recall_curve_monotone(spark):
    """Recall@k must be non-decreasing in nprobe: a candidate set only
    grows. (The nprobe = IVF_NPROBE point is pinned against a direct
    set compare of the registered arms in
    test_round6b_ops.py::test_recall_eval_matches_direct_set_compare.)"""
    from go_integ_spark.operators.similarity import IVF_PROBE_CURVE

    rows = REG["similarity_ivf_probe_recall"].fn(spark, SF_DIR).collect()
    by_q: dict[int, dict[int, int]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["nprobe"]] = r["recall_bp"]
    assert by_q, "empty curve"
    for q, pts in by_q.items():
        seq = [pts[p] for p in IVF_PROBE_CURVE if p in pts]
        assert seq == sorted(seq), f"recall not monotone for query {q}: {pts}"
