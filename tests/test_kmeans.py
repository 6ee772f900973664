"""k-means invariants the rows-only gate can't see: determinism,
assignment optimality (each vector sits with its nearest centroid),
monotone WCSS across iterations, and a WCSS below the label
partition's on the synthetic corpus (embeddings were generated around
label centroids).

The tests drive the integer Lloyd pair (``kmeans_assign_u`` /
``kmeans_update_u``) that ``embedding_kmeans``,
``similarity_cluster_purity`` and ``dedup_semdedup`` run; those ops'
unrolled-Lloyd DuckDB oracles pin the pair by value.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from go_integ_spark.operators.similarity import (
    KMEANS_ITERS,
    KMEANS_K,
    KMEANS_SCALE,
    _kmeans_u_quantize,
    embedding_kmeans,
    first_k_centroids_u,
    kmeans_assign_u,
    kmeans_update_u,
)
from go_integ_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


def _quantized(spark):
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    return _kmeans_u_quantize(emb)


def test_kmeans_deterministic(spark):
    a = [tuple(r) for r in embedding_kmeans(spark, SF_DIR).collect()]
    b = [tuple(r) for r in embedding_kmeans(spark, SF_DIR).collect()]
    assert a == b
    assert sum(r[1] for r in a) == 500  # every vector assigned once


def test_kmeans_wcss_monotone_and_assignment_optimal(spark):
    qv = _quantized(spark)
    cents = first_k_centroids_u(qv, KMEANS_K)
    wcss = []
    for _ in range(KMEANS_ITERS):
        assigned = kmeans_assign_u(qv, cents)
        wcss.append(assigned.agg(F.sum("dist2_u")).first()[0])
        cents = kmeans_update_u(assigned)
    # Exact integers: the nearest-integer mean minimizes each
    # dimension's squared distance, so no round may raise the WCSS.
    assert all(wcss[i + 1] <= wcss[i] for i in range(len(wcss) - 1)), wcss

    # optimality: recomputing dist to every centroid finds none closer
    final = kmeans_assign_u(qv, cents)
    cids = [cid for cid, _ in cents]
    c = np.array([v for _, v in cents], dtype=np.int64)
    for r in final.limit(50).collect():
        d = ((np.array(r["q"], dtype=np.int64) - c) ** 2).sum(axis=1)
        assert d.min() == r["dist2_u"]
        assert cids[d.argmin()] == r["cid"]  # ties go to the lowest cid


def test_kmeans_beats_label_partition_wcss(spark):
    """The synthetic labels are NOT cluster-separable (within-label
    spread ~5x the between-centroid distance), so label recovery is
    not a valid check. What k-means *does* guarantee is optimizing
    WCSS — so its converged WCSS must beat the WCSS of partitioning
    by the ground-truth labels.
    """
    rows = load_table(spark, SF_DIR, "embeddings").collect()
    X = np.array([r["embedding"] for r in rows])
    y = np.array([r["label"] for r in rows])
    label_wcss = sum(
        ((X[y == l] - X[y == l].mean(0)) ** 2).sum() for l in np.unique(y)
    )

    qv = _quantized(spark)
    cents = first_k_centroids_u(qv, KMEANS_K)
    for _ in range(KMEANS_ITERS):
        cents = kmeans_update_u(kmeans_assign_u(qv, cents))
    final = kmeans_assign_u(qv, cents)
    kmeans_wcss = final.agg(F.sum("dist2_u")).first()[0] / float(KMEANS_SCALE) ** 2
    assert kmeans_wcss < label_wcss, (kmeans_wcss, label_wcss)
