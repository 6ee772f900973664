"""Similarity search over embedding columns.

Three tiers, same verification math (functions/vector.py):

1. ``ann_bruteforce_topk`` — exact top-k: broadcast the (small) query
   set against the corpus, salted two-phase top-k. The baseline and
   the oracle-checkable path.
2. ``similarity_threshold_join`` — exact all-pairs above a threshold
   (self-join); the verification shape reused by candidate-based
   methods.
3. ``ann_ivf_topk`` — IVF-style partition pruning: deterministic
   centroid set, assign every vector to its nearest centroid
   (broadcast argmin — no shuffle), probe only the ``nprobe``
   closest cells per query. The 100 TB path: the corpus is
   partitioned by cell, a query touches nprobe/num_cells of the
   data. Exact per-cell search inside probed cells.
4. ``similarity_pq_encode`` / ``similarity_pq_search`` — product
   quantization: compress vectors to PQ_M subspace codes (map-side
   only), then serve top-k by asymmetric distance over lookup
   tables — the memory layout of billion-scale ANN (IVF-PQ).

Top-k at scale: a plain Window.partitionBy(query) puts the *entire
corpus* for one query in one task. ``salted_topk`` first takes the
top-k inside each (query, salt=spark_partition_id) slice — partition-
local work — then reduces k*num_salts survivors per query. Rows
reaching the final single-partition-per-query window are bounded by
k * partitions, independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_integ_spark.functions.vector import (
    cosine_sim_pd,
    dot,
    with_norm,
)
from go_integ_spark.registry import register
from go_integ_spark.tables import load_table

TOP_K = 10
N_QUERIES = 5  # demo query set: vec_id < 5
IVF_K = 16  # FIXED centroid count — independent of corpus size
# 4 of the 16 fixed cells: recall 0.5 vs brute force on the RANDOM
# test embeddings (tests/test_similarity.py pins the floor) — 2x the
# 0.25 random-probing baseline at the same coverage.
IVF_NPROBE = 4


def ivf_centroids(v: DataFrame, k: int = IVF_K) -> DataFrame:
    """One-row frame: ``k`` deterministic centroids (default
    ``IVF_K``) packed as a sorted ``array<struct<cid, ce, cn>>``
    column named ``cents``.

    Selection = the K rows with the smallest ``md5(vec_id)`` — an
    engine-agnostic pseudo-random spread DuckDB reproduces bit-for-bit,
    so the gate oracle derives the identical centroid set. K is FIXED:
    the earlier ``vec_id % 50`` rule grew the centroid count linearly
    with the corpus, putting O(corpus/50) rows on the driver / into
    the broadcast; here the broadcast is O(K*dim) at any scale, and
    the selection itself is a global top-K (per-partition top-K, then
    a K*partitions merge — never the corpus on one node). At real
    scale the centroids would come from an offline k-means (see
    ``embedding_kmeans``); the hash rule is the deterministic stand-in
    that keeps the gate oracle value-exact.
    """
    cent = (
        v.select(
            F.col("vec_id").alias("cid"),
            F.col("e").alias("ce"),
            F.col("e_norm").alias("cn"),
            F.md5(F.col("vec_id").cast("string")).alias("hk"),
        )
        .orderBy("hk", "cid")
        .limit(k)
    )
    return cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "ce", "cn"))).alias("cents")
    )


def ivf_centroid_lit(v: DataFrame) -> Column:
    """The ``IVF_K`` centroids as an inline ``array<struct>`` literal.

    The collect behind this is O(IVF_K * dim) — FIXED, independent of
    corpus size (the earlier ``vec_id % 50`` rule collected
    O(corpus/50) rows onto the driver and its plan grew with the
    corpus). Inlining a fixed-K array keeps cell assignment a pure
    map-side Project: NO join operator in the plan at all — the
    centroid array rides inside every task's codegen'd expression,
    the same way a faiss-style IVF index ships its coarse quantizer
    to every searcher.
    """
    (row,) = ivf_centroids(v).collect()
    return _centroid_lit_from_row(row)


def _centroid_lit_from_row(row) -> Column:
    """Build the inline centroid array from an already-collected
    ivf_centroids row — lets callers that also need the codebook
    driver-side (PQ search's LUTs) pay the selection job once."""
    return F.array(
        *[
            F.struct(
                F.lit(int(c["cid"])).alias("cid"),
                F.array(*[F.lit(float(x)) for x in c["ce"]]).alias("ce"),
                F.lit(float(c["cn"])).alias("cn"),
            )
            for c in row["cents"]
        ]
    )


def nearest_cells(n_probe: int, vec: str = "e", norm: str = "e_norm") -> Column:
    """Row-local probe list: the ``n_probe`` nearest centroid ids for
    the current row's vector, computed entirely map-side from the
    broadcast ``cents`` array — no join explosion, no shuffle, no
    window. ``array_sort`` over ``(-sim, cid)`` structs gives sim
    descending with cid as the deterministic tie-break (the same order
    the DuckDB oracles express with ``ORDER BY sim DESC, cent_id``).
    """
    neg = F.transform(
        F.col("cents"),
        lambda s: F.struct(
            (-(dot(F.col(vec), s["ce"]) / (F.col(norm) * s["cn"]))).alias("neg_s"),
            s["cid"].alias("cid"),
        ),
    )
    return F.transform(F.slice(F.array_sort(neg), 1, n_probe), lambda s: s["cid"])


def _codebook_arrays(cents):
    """Collected ``cents`` structs → the (cids, C, cn) numpy triple
    the probe kernel consumes. Floats pass through unchanged, so the
    kernel sees the identical JVM doubles."""
    import numpy as np

    cids = np.array([int(c["cid"]) for c in cents], dtype=np.int64)
    C = np.array([[float(x) for x in c["ce"]] for c in cents], dtype=np.float64)
    cn = np.array([float(c["cn"]) for c in cents], dtype=np.float64)
    return cids, C, cn


# One broadcast per (SparkContext, codebook source object): the
# keepalive ref pins the source so its id() can't be recycled, and
# keying on the context id drops broadcasts of a stopped session.
_CODEBOOK_BC: dict[tuple[int, int], object] = {}
_CODEBOOK_KEEPALIVE: dict[tuple[int, int], object] = {}


def _codebook_broadcast(obj, build):
    """Ship a codebook to executors as a Spark BROADCAST variable
    (r10, VERDICT r9 #3): the probe UDF's closure carries only the
    broadcast handle, so the task binary stays O(1) in codebook size
    — at sqrt-scaled K over a 1B-vector corpus the centroid table is
    hundreds of MB, which real IVF deployments hold per node exactly
    once, not once per serialized task."""
    from pyspark.sql import SparkSession

    sc = SparkSession.getActiveSession().sparkContext
    key = (id(sc), id(obj))
    bc = _CODEBOOK_BC.get(key)
    if bc is None:
        bc = sc.broadcast(build(obj))
        _CODEBOOK_BC[key] = bc
        _CODEBOOK_KEEPALIVE[key] = (sc, obj)
    return bc


def _probe_block(E, nv, book, n_probe):
    """The shared numpy probe kernel: nearest ``n_probe`` cell ids for
    a block of vectors against one codebook. Bit-identity with the
    expression form comes from replaying the JVM fold's exact float
    sequence: per dimension, one rounded product then one rounded add
    (``acc += E[:, d] * C[:, d]`` — numpy has no implicit FMA), the
    norm product rounded once before the divide, and a STABLE argsort
    over the negated sims whose tie order is the centroid array's
    ascending-cid order — the same (neg_s, cid) struct sort
    ``nearest_cells`` evaluates."""
    import numpy as np

    cids, C, cn = book
    k_cells, dim = C.shape
    acc = np.zeros((E.shape[0], k_cells), dtype=np.float64)
    for d in range(dim):
        acc += E[:, d : d + 1] * C[:, d][None, :]
    neg = -(acc / (nv[:, None] * cn[None, :]))
    order = np.argsort(neg, axis=1, kind="stable")[:, :n_probe]
    return cids[order]


def nearest_cells_pd(crow, n_probe: int, vec: str = "e", norm: str = "e_norm"):
    """Arrow-batched twin of ``nearest_cells``: the same probe list,
    computed by the vectorized ``_probe_block`` kernel instead of
    interpreted higher-order functions (K * dim lambda invocations
    PER ROW — the cost class the PQ argmin and minhash kernels
    already left), bit-exactness pinned in tests/test_similarity.py.
    ``crow`` is the collected ``ivf_centroids`` row; its arrays ride
    a broadcast variable (``_codebook_broadcast``), not the UDF
    closure. Keeping assignment bit-exact is what lets every IVF
    query keep its value-level DuckDB oracle.
    """
    bc = _codebook_broadcast(crow, lambda r: _codebook_arrays(r["cents"]))

    def _probe(ecol, ncol):
        import numpy as np
        import pandas as pd

        if len(ecol) == 0:
            return pd.Series([], dtype=object)
        E = np.stack([np.asarray(x, dtype=np.float64) for x in ecol])
        out = _probe_block(
            E, np.asarray(ncol, dtype=np.float64), bc.value, n_probe
        )
        return pd.Series(list(out))

    probe_udf = F.pandas_udf(_probe, "array<bigint>")
    return probe_udf(F.col(vec), F.col(norm))


def nearest_cells_multilang(
    crows: dict,
    n_probe: int,
    lang: str = "lang",
    vec: str = "e",
    norm: str = "e_norm",
):
    """Per-language probe lists from ONE Arrow kernel (r10, VERDICT
    r9 #3): each row's vector probes the codebook of the row's
    ``lang`` column. The whole {lang: codebook} map rides a single
    broadcast, and the kernel partitions each Arrow batch by language
    and runs ``_probe_block`` per slice — so the bitext miner's plan
    carries one ArrowEvalPython node regardless of language count,
    where the r9 form union-ed one probe branch PER LANGUAGE (plan
    width linear in languages). Row-gathering by index keeps every
    row's float sequence identical to the single-language kernel
    (pinned in tests/test_round10_ops.py)."""
    bc = _codebook_broadcast(
        crows,
        lambda d: {k: _codebook_arrays(r["cents"]) for k, r in d.items()},
    )

    def _probe(lcol, ecol, ncol):
        import numpy as np
        import pandas as pd

        n = len(ecol)
        if n == 0:
            return pd.Series([], dtype=object)
        books = bc.value
        E = np.stack([np.asarray(x, dtype=np.float64) for x in ecol])
        nv = np.asarray(ncol, dtype=np.float64)
        lv = lcol.to_numpy()
        out = np.empty(n, dtype=object)
        for lg in pd.unique(lcol):
            idx = np.nonzero(lv == lg)[0]
            res = _probe_block(E[idx], nv[idx], books[lg], n_probe)
            for j, i in enumerate(idx):
                out[i] = res[j]
        return pd.Series(list(out))

    probe_udf = F.pandas_udf(_probe, "array<bigint>")
    return probe_udf(F.col(lang), F.col(vec), F.col(norm))


def salted_topk(
    scored: DataFrame, part_col: str, order: list[Column], k: int
) -> DataFrame:
    """Exact distributed top-k per group: partition-local prefilter,
    then a tiny global window. ``order`` must be a total order for
    cross-engine determinism.
    """
    local = Window.partitionBy(part_col, F.col("salt")).orderBy(*order)
    final = Window.partitionBy(part_col).orderBy(*order)
    return (
        scored.withColumn("salt", F.spark_partition_id())
        .withColumn("local_rn", F.row_number().over(local))
        .filter(F.col("local_rn") <= k)
        .withColumn("rn", F.row_number().over(final))
        .filter(F.col("rn") <= k)
        .drop("salt", "local_rn")
    )


def bruteforce_scored(v: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, s): every corpus vector scored against
    every query vector (vec_id < N_QUERIES) — broadcast the bounded
    query set, stream the corpus, fold-exact cosine. The shared
    retrieval stage of ann_bruteforce_topk and similarity_mmr_rerank;
    scan-bound at any corpus size."""
    corpus = v.select(F.col("vec_id").alias("neighbor_id"), "e", "e_norm")
    queries = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("e_norm").alias("qe_norm"),
    )
    sim = cosine_sim_pd("qe", "qe_norm", "e", "e_norm")
    return (
        corpus.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("s", sim)
        .select("query_id", "neighbor_id", "s")
    )


@register(
    "ann_bruteforce_topk",
    bench=True,
    tags=("similarity", "topk", "vector"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.e, c.e) AS s
    FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, round(s, 4) AS cos_sim,
       CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY s DESC, neighbor_id
    ) AS rn
    FROM scored
)
WHERE rn <= {TOP_K}
""",
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for each query vector.

    The query set is broadcast (it is small by definition); the
    corpus streams through map-side scoring — zero shuffle until the
    bounded top-k reduction. This plan is scan-bound at 100 TB.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scored = bruteforce_scored(with_norm(emb))
    out = salted_topk(
        scored, "query_id", [F.col("s").desc(), F.col("neighbor_id")], TOP_K
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("s"), 4).alias("cos_sim"),
        F.col("rn").cast("int").alias("rank"),
    )


# Near-dup ceiling for hard-negative mining: candidates at or above
# this cosine are (semantic) duplicates of the query, not negatives —
# the same corpus-wide near-dup bar the dedup family uses.
HARD_NEG_DUP_CEILING = 0.45  # == operators.dedup.EMB_COS_THRESHOLD


@register(
    "similarity_hard_negatives",
    tags=("similarity", "topk", "vector", "llm_pipeline"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.e, c.e) AS s
    FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, round(s, 4) AS cos_sim,
       CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY s DESC, neighbor_id
    ) AS rn
    FROM scored WHERE s < {HARD_NEG_DUP_CEILING}
)
WHERE rn <= {TOP_K}
""",
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / embedding-model
    training: per query, the TOP_K most similar corpus vectors that
    are NOT near-duplicates (cosine strictly below the corpus-wide
    0.45 near-dup bar) — the "hardest" negatives a
    triplet/InfoNCE loss needs, with the positives/duplicates band
    excluded so training never pushes apart actual copies. Standard
    recipe in retrieval-model pipelines (DPR/ANCE-style mining);
    absent from the reference (no vector ops at all), part of the
    beyond-reference LLM-pipeline layer.

    Scale shape: identical to the brute-force baseline it composes —
    broadcast the bounded query set, stream the corpus through
    map-side fold-exact scoring with the ceiling applied BEFORE the
    bounded ``salted_topk`` reduction, so the shuffle carries at most
    |queries| x k candidate rows per partition. At deployment scale
    the scored stream comes from the IVF probe path instead; the
    ceiling gate and reduction are unchanged.

    Oracle-drift note: the ceiling is a FLOAT gate (Spark fold cosine
    vs DuckDB's builtin), the class that flipped dedup_semdedup's r6
    row — kept here because the gated value is also the RANK key (an
    integer twin would change the semantics, not just the spelling)
    and the margin is measured safe: no sf0.01 query-corpus pair sits
    within 1e-3 of the 0.45 bar, ~1e13 x the builtin-vs-fold 1-ulp
    drift and ~1e4 x a hypothetical float32 builtin; the same gate at
    the same bar has driver-green precedent (dedup_embedding_cosine,
    r4).
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scored = bruteforce_scored(with_norm(emb)).filter(
        F.col("s") < HARD_NEG_DUP_CEILING
    )
    out = salted_topk(
        scored, "query_id", [F.col("s").desc(), F.col("neighbor_id")], TOP_K
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("s"), 4).alias("cos_sim"),
        F.col("rn").cast("int").alias("rank"),
    )


# Per-label pair-enumeration cap for the blocking-key join, same
# trade as LSH_MAX_BUCKET / SEMDEDUP_MAX_CLUSTER: 4096 members is
# ~8.4M pairs in one task (seconds of fold-cosine work); beyond it a
# single hot label would own the stage's tail. Largest gate-corpus
# label: 200 members (sf0.1).
THRESHOLD_JOIN_MAX_LABEL = 4096


def cap_hot_groups(df: DataFrame, key_col: str, cap: int) -> DataFrame:
    """Drop every row whose ``key_col`` group exceeds ``cap`` members.

    One tiny aggregate (map-side partial: the shuffle carries one row
    per distinct key) and a broadcast semi-join back — the input
    frame itself is NOT re-shuffled, so the cap costs one small stage,
    not an extra exchange of the data."""
    kept = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= cap)
        .select(key_col)
    )
    return df.join(F.broadcast(kept), key_col, "semi")


@register(
    "similarity_threshold_join",
    tags=("similarity", "join", "vector"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), kept AS (
    SELECT label FROM v
    GROUP BY label HAVING count(*) <= {THRESHOLD_JOIN_MAX_LABEL}
)
SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.e, b.e), 4) AS cos_sim
FROM v a
JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
SEMI JOIN kept k ON k.label = a.label
WHERE list_cosine_similarity(a.e, b.e) >= 0.3
""",
)
def similarity_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label similarity join (cos >= 0.3). The label equi-key
    turns the cross join into a partitioned join — the blocking-key
    pattern: at scale the blocking key (label / LSH bucket / IVF
    cell) bounds each task's pair enumeration.

    Hot-key cap (``THRESHOLD_JOIN_MAX_LABEL``): a pathologically hot
    blocking key degenerates to O(n^2) inside one task, the same skew
    bomb ``LSH_MAX_BUCKET`` (operators/dedup.py) and
    ``SEMDEDUP_MAX_CLUSTER`` bound — labels above the cap are dropped
    before the pair join (documented precision-1.0 / recall-epsilon
    trade). The cap is part of the operator's CONTRACT, so the oracle
    expresses it too (ADVICE r8: a binding cap at a new corpus used
    to produce wrong-vs-oracle results with no signal — now both
    engines drop the same labels and the gate stays exact). At every
    gate corpus the largest label is 200 members (sf0.1), 20x under
    the cap (headroom pinned in tests/test_round8_ops.py); past the
    cap the right tool is the LSH / IVF-cell blocking the dedup
    family provides.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = cap_hot_groups(
        with_norm(emb.select("vec_id", "label", "embedding")),
        "label",
        THRESHOLD_JOIN_MAX_LABEL,
    )
    a = v.alias("a")
    b = v.alias("b")
    sim = cosine_sim_pd("a.e", "a.e_norm", "b.e", "b.e_norm")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.label").alias("label"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("raw"),
        )
        .filter(F.col("raw") >= 0.3)
        .select("label", "vec_a", "vec_b", F.round(F.col("raw"), 4).alias("cos_sim"))
    )


# ann_ivf_topk's value oracle: the same deterministic centroid rule,
# cell assignment, probe list and exact search, in DuckDB SQL.
_IVF_TOPK_ORACLE = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
    SELECT vec_id AS cent_id, e AS ce FROM v
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {IVF_K}
), assigned AS (
    SELECT vec_id, e, cent_id AS cell_id FROM (
        SELECT v.vec_id, v.e, c.cent_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cent_id
               ) AS arn
        FROM v CROSS JOIN cent c
    ) WHERE arn = 1
), probes AS (
    SELECT query_id, cell_id FROM (
        SELECT a.vec_id AS query_id, c.cent_id AS cell_id,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_cosine_similarity(a.e, c.ce) DESC, c.cent_id
               ) AS prn
        FROM assigned a CROSS JOIN cent c
        WHERE a.vec_id < {N_QUERIES}
    ) WHERE prn <= {IVF_NPROBE}
), q AS (
    SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERIES}
), scored AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           list_cosine_similarity(q.qe, a.e) AS s
    FROM probes p
    JOIN assigned a ON a.cell_id = p.cell_id
    JOIN q ON q.query_id = p.query_id
    WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, round(s, 4) AS cos_sim, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY s DESC, neighbor_id
    ) AS rn
    FROM scored
)
WHERE rn <= {TOP_K}
"""


@register(
    "ann_ivf_topk",
    tags=("similarity", "ivf", "vector"),
    oracle=_IVF_TOPK_ORACLE,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k.

    Deterministic "training": the fixed-K hash-selected centroid set
    (``ivf_centroids`` — a stand-in for k-means, which would be run
    offline at scale). Assignment = ROW-LOCAL argmax against the
    O(K*dim) collected centroid set (``nearest_cells_pd`` — an
    Arrow-batched kernel bit-identical to the ``nearest_cells``
    expression, which ran K*dim interpreted lambdas per row) — no
    N×K row explosion, no shuffle, no window, no join operator; the
    old broadcast-crossJoin + row_number version pushed N*K rows
    through a window exchange.
    Each query probes its IVF_NPROBE nearest cells (same row-local
    math) and searches them exactly. Approximate relative to brute
    force by construction, but the deterministic centroid rule makes
    the whole assign->probe->search pipeline SQL-expressible, so it
    carries a full value-level DuckDB oracle (recall vs brute force
    is additionally asserted in tests/test_similarity.py).

    At 100 TB the corpus would be written partitioned by cell_id so a
    probe prunes file partitions — the scan itself skips 1 - nprobe/K
    of the data.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = with_norm(emb)
    (crow,) = ivf_centroids(v).collect()
    assigned = (
        v.withColumn("cell_id", F.element_at(nearest_cells_pd(crow, 1), 1))
        .select("vec_id", "e", "e_norm", "cell_id")
    )
    # Probe list: nprobe nearest cells per query, row-local again.
    probes = (
        assigned.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("e_norm").alias("qe_norm"),
            F.explode(nearest_cells_pd(crow, IVF_NPROBE)).alias("cell_id"),
        )
    )
    # Search probed cells only (equi-join on cell_id prunes the corpus).
    sim = cosine_sim_pd("qe", "qe_norm", "e", "e_norm")
    scored = (
        assigned.join(F.broadcast(probes), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("s", sim)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "s")
    )
    out = salted_topk(
        scored, "query_id", [F.col("s").desc(), F.col("neighbor_id")], TOP_K
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("s"), 4).alias("cos_sim"),
        F.col("rn").cast("int").alias("rank"),
    )


KMEANS_K = 10  # matches the synthetic label cardinality
# 3 Lloyd iterations: WCSS is within ~0.3% of the 5-iteration value on
# this corpus (459.7 vs 458.2 at sf0.01) and every invariant test
# still holds; each iteration is 2 jobs, so fewer iterations directly
# cut cold gate latency.
KMEANS_ITERS = 3

# Fixed-point micro-unit scale for the gate k-means (the ADC/RP
# contract: one IEEE multiply quantizes, then everything is exact
# int64, so every iteration is bit-identical across engines).
KMEANS_SCALE = 1_000_000
KMEANS_DIM = 64  # == EMB_DIM (defined later in this module)


def _kmeans_u_quantize(emb: DataFrame) -> DataFrame:
    """(vec_id, q): embedding quantized to int64 micro-units —
    floor(x * 1e6 + 0.5), the one IEEE multiply both engines perform
    identically; everything downstream is exact integer math."""
    return emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> floor(cast(x as double)"
            f" * {KMEANS_SCALE}.0D + 0.5D))"
        ).alias("q"),
    )


def kmeans_assign_u(
    vectors: DataFrame, centroids: list[tuple[int, list[int]]]
) -> DataFrame:
    """(vec_id, q, cid, dist2_u): nearest centroid in exact int64
    micro-unit^2 distance, as an Arrow-batched argmin over the
    centroids. They ride into the plan as a broadcast-sized literal
    (K x dim integers), so the assign step is row-local with zero
    shuffles: the corpus never moves, only the tiny centroid set does.
    Ties break to the lowest cid (np.argmin first occurrence; cids
    ascend), the (d2, cid) order of :func:`lloyd_assign_cte`."""
    import numpy as np
    import pandas as pd

    assert [c for c, _ in centroids] == sorted(c for c, _ in centroids)
    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    cmat = np.array([v for _, v in centroids], dtype=np.int64)

    def _best(col):
        n = len(col)
        if n == 0:
            return pd.DataFrame(
                {
                    "cid": pd.Series([], dtype="int32"),
                    "dist2_u": pd.Series([], dtype="int64"),
                }
            )
        e = np.stack([np.asarray(x, dtype=np.int64) for x in col])
        acc = np.zeros((n, cmat.shape[0]), dtype=np.int64)
        for d in range(cmat.shape[1]):
            diff = e[:, d : d + 1] - cmat[:, d][None, :]
            acc += diff * diff
        idx = np.argmin(acc, axis=1)
        return pd.DataFrame(
            {
                "cid": cids[idx].astype("int32"),
                "dist2_u": acc[np.arange(n), idx],
            }
        )

    best_udf = F.pandas_udf(_best, "cid int, dist2_u bigint")
    return vectors.withColumn("_b", best_udf(F.col("q"))).select(
        "vec_id",
        "q",
        F.col("_b.cid").alias("cid"),
        F.col("_b.dist2_u").alias("dist2_u"),
    )


def kmeans_update_u(assigned: DataFrame) -> list[tuple[int, list[int]]]:
    """New integer centroids: round-half-up of the exact per-dimension
    mean, computed entirely in integers — floor((2*s + n) / (2n)) with
    s the exact int64 coordinate sum. The int64 sum and count are
    engine-exact; the double division (2s+n)/(2n) floors
    deterministically while |2s+n| < 2^53 (true ratio at least
    1/(2n) from any integer it doesn't hit, and exact operands make
    the quotient correctly rounded) — that covers clusters up to
    ~4e9 vectors at unit-scale coordinates; past it, swap the
    division for exact integer divmod (same value, no float).
    Dimension-parallel: posexplode + (cid, pos) grouping, one shuffle
    of narrow rows, no array ever materializes per group on one task;
    only K x dim integers reach the driver (Lloyd's iteration state,
    inherently driver-sized)."""
    rows = (
        assigned.select("cid", F.posexplode("q").alias("pos", "v"))
        .groupBy("cid", "pos")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "cid",
            "pos",
            F.floor(
                (2 * F.col("s") + F.col("n")) / (2.0 * F.col("n"))
            ).alias("m"),
        )
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cid", F.col("pm.m").alias("c"))
        .collect()
    )
    return sorted((r["cid"], [int(x) for x in r["c"]]) for r in rows)


def first_k_centroids_u(qv, k: int) -> list[tuple[int, list[int]]]:
    """Deterministic first-k integer codebook: the k lowest vec_ids'
    quantized vectors, re-labeled 0..k-1 in vec_id order — exactly
    the oracles' ``row_number() OVER (ORDER BY vec_id) - 1``. Shared
    by ``embedding_kmeans`` and ``dedup_semdedup`` so the init
    contract lives in one place."""
    cents = [
        (int(r["vec_id"]), [int(x) for x in r["q"]])
        for r in qv.filter(F.col("vec_id") < k).collect()
    ]
    return [(i, vec) for i, (_, vec) in enumerate(sorted(cents))]


def lloyd_assign_cte(out: str, src: str, cents: str, dim: int) -> str:
    """One exact-integer Lloyd ASSIGN round as a DuckDB CTE fragment:
    nearest centroid by int64 distance, ties to the lowest cid — the
    SQL twin of :func:`kmeans_assign_u`, shared by every
    unrolled-Lloyd oracle so the bit-exactness contract has one
    spelling."""
    return f""", {out} AS (
    SELECT vec_id, q, cid, d2 FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM (
            -- CAST pins d2 to BIGINT: list_sum returns HUGEINT on
            -- some DuckDB builds, and d2 reaches gate OUTPUT columns
            -- (dedup_semdedup.dist2_u — the r6 hash-red: local
            -- fetchall() yields int either way, the driver's pandas
            -- canonicalizer does not)
            SELECT s.vec_id, s.q, c.cid,
                   CAST(list_sum(list_transform(generate_series(1, {dim}), i ->
                       (s.q[i] - c.c[i]) * (s.q[i] - c.c[i]))) AS BIGINT) AS d2
            FROM {src} s CROSS JOIN {cents} c
        )
    ) WHERE rn = 1
)"""


def lloyd_update_cte(out: str, src: str, dim: int) -> str:
    """One exact-integer Lloyd UPDATE round as a DuckDB CTE fragment:
    round-half-up integer centroid means — the SQL twin of
    :func:`kmeans_update_u` (same floor((2s+n)/(2n)) formula)."""
    return f""", {out} AS (
    SELECT cid, list(m ORDER BY pos) AS c FROM (
        SELECT cid, t.i AS pos,
               CAST(floor((2 * sum(q[t.i]) + count(*))
                          / (2.0 * count(*))) AS BIGINT) AS m
        FROM {src}, unnest(generate_series(1, {dim})) AS t(i)
        GROUP BY cid, t.i
    ) GROUP BY cid
)"""


def _kmeans_oracle() -> str:
    """Statically-unrolled DuckDB twin of the fixed-point Lloyd loop:
    KMEANS_ITERS assign+update rounds then a final assign, every step
    exact integer math, so the unroll is value-identical — the trick
    that turns an 'iterative, no oracle' query into a full value
    check (VERDICT r5 item 3)."""
    dim, k, scale = KMEANS_DIM, KMEANS_K, KMEANS_SCALE
    ctes = [
        f"""
WITH v AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[], x ->
               CAST(floor(x * {scale}.0 + 0.5) AS BIGINT)) AS q
    FROM embeddings
), c0 AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
           q AS c
    FROM v WHERE vec_id < {k}
)"""
    ]
    for r in range(KMEANS_ITERS + 1):
        ctes.append(lloyd_assign_cte(f"a{r}", "v", f"c{r}", dim))
        if r < KMEANS_ITERS:
            ctes.append(lloyd_update_cte(f"c{r + 1}", f"a{r}", dim))
    ctes.append(
        f"""
SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors,
       round(CAST(sum(d2) AS DOUBLE) / {float(scale) ** 2}, 4) AS wcss
FROM a{KMEANS_ITERS} GROUP BY cid"""
    )
    return "".join(ctes)


@register(
    "embedding_kmeans",
    tags=("similarity", "clustering", "iterative"),
    oracle=_kmeans_oracle(),
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus, DataFrame-native:
    deterministic init (the first K vec_ids), fixed iteration count,
    broadcast-literal assign step, dimension-parallel update step.
    Output: one row per cluster with size and within-cluster sum of
    squares (original units, 4dp).

    The gate path runs in FIXED-POINT INT64 micro-units end to end
    (quantize once, integer distances, integer round-half-up centroid
    means), which makes every Lloyd iteration bit-identical across
    Spark / numpy / DuckDB — so the fixed iteration count statically
    unrolls into a full DuckDB value oracle (``_kmeans_oracle``)
    instead of the rows-only check iterative queries usually get.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = _kmeans_u_quantize(emb)
    centroids = first_k_centroids_u(qv, KMEANS_K)
    for _ in range(KMEANS_ITERS):
        assigned = kmeans_assign_u(qv, centroids)
        centroids = kmeans_update_u(assigned)
    final = kmeans_assign_u(qv, centroids)
    return (
        final.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.col("dist2_u").cast("decimal(38,0)")).cast("double")
                / F.lit(float(KMEANS_SCALE) ** 2),
                4,
            ).alias("wcss"),
        )
        .orderBy("cid")
    )


OUTLIER_PCT = 0.95  # per-label distance percentile above which a
# vector is flagged


@register(
    "embedding_outliers",
    tags=("similarity", "quality", "two_pass"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), dims AS (
    SELECT label, t.i AS i, round(avg(e[t.i]), 6) AS m
    FROM v, unnest(generate_series(1, len(e))) AS t(i)
    GROUP BY label, t.i
), cent AS (
    SELECT label, list(m ORDER BY i) AS c FROM dims GROUP BY label
), d AS (
    SELECT v.vec_id, v.label,
           round(sum((v.e[t.i] - cent.c[t.i]) * (v.e[t.i] - cent.c[t.i])), 4)
               AS dist2
    FROM v
    JOIN cent ON v.label = cent.label,
         unnest(generate_series(1, len(v.e))) AS t(i)
    GROUP BY v.vec_id, v.label
), cuts AS (
    SELECT label, quantile_cont(dist2, {OUTLIER_PCT}) AS cut
    FROM d GROUP BY label
)
SELECT d.vec_id, d.label, d.dist2, d.dist2 > c.cut AS is_outlier
FROM d JOIN cuts c ON d.label = c.label
""",
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding data-quality check: squared distance of every vector
    to its label's centroid, flagging vectors above the per-label P95
    distance (mislabeled / corrupted embedding candidates).

    Two two-pass reductions, zero corpus-sized shuffles: (1) centroids
    via dimension-parallel (label, pos) aggregation — the same
    shuffle-lean update step as k-means — broadcast back; (2) the P95
    cut per label (tiny) broadcast back for a row-local flag. Rounding
    at each reduction (centroid 6dp, dist2 4dp) keeps cross-engine
    float folds byte-agreeing for the oracle.
    """
    from go_integ_spark.functions.vector import as_double

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("e")
    )
    cent = (
        emb.select("label", F.posexplode("e").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.col("pm.m").alias("c"))
    )
    from go_integ_spark.functions.vector import squared_dist_pd

    dist2 = F.round(squared_dist_pd("e", "c"), 4)
    d = emb.join(F.broadcast(cent), "label").select(
        "vec_id", "label", dist2.alias("dist2")
    )
    cuts = d.groupBy("label").agg(
        F.percentile("dist2", F.lit(OUTLIER_PCT)).alias("cut")
    )
    return d.join(F.broadcast(cuts), "label").select(
        "vec_id", "label", "dist2", (F.col("dist2") > F.col("cut")).alias("is_outlier")
    )


# Product quantization: split the 64-dim embedding into PQ_M
# subspaces of PQ_DIM dims; each subspace quantizes to the nearest of
# the IVF_K codebook entries (the sub-slices of the same fixed
# hash-selected centroid set ivf_centroids uses). A vector compresses
# to PQ_M small codes — the standard IVF-PQ memory layout that makes
# billion-scale ANN fit in RAM; reconstruction error is reported so
# recall/compression trades are measurable.
PQ_M = 8
PQ_DIM = 8  # 64 / PQ_M

# Fixed-point scaling for EVERY per-term PQ distance: a squared
# difference is scaled to integer micro-units and floored BEFORE the
# subspace sum, in all three places that compute PQ distances (the
# Spark encode argmin below, the driver-side Python LUT builder, and
# the DuckDB oracles). Each individual IEEE double op ((x-y), *, +0.5,
# floor) is exactly rounded and therefore bit-identical across
# engines; the only cross-engine hazard is the ASSOCIATION ORDER of a
# multi-term float sum — which integer summation eliminates (int64
# addition is exact in any order). Round 4's hash-fail came from
# applying the scaling AFTER an order-dependent 16-term double sum
# (one ulp in the sum could flip floor(x*1e6+0.5) by 1 and swap a
# rank); per-term flooring makes the full code-pick + ADC pipeline
# order-free and engine-exact.
ADC_SCALE = 1_000_000


def pq_term_u(q: float, c: float) -> int:
    """One squared-difference term in integer micro-units.

    Mirrors the engine-side fixed point EXACTLY: (q-c)*(q-c)*SCALE
    + 0.5 is the same left-associated chain of individually-rounded
    IEEE double ops Spark and DuckDB evaluate, so the floored term is
    bit-identical in all three engines (tests/test_similarity.py
    asserts the three-way equality directly).
    """
    import math

    d = q - c
    return int(math.floor(d * d * ADC_SCALE + 0.5))


def pq_lut_u(qe: list[float], cents: list[list[float]]) -> list[list[int]]:
    """The PQ_M x len(cents) ADC lookup table for one query vector —
    integer micro-unit subspace distances (order-free exact sums of
    ``pq_term_u`` terms)."""
    return [
        [
            sum(pq_term_u(qe[m * PQ_DIM + i], ce[m * PQ_DIM + i])
                for i in range(PQ_DIM))
            for ce in cents
        ]
        for m in range(PQ_M)
    ]


PQ_TRAIN_ITERS = 3  # Lloyd refinement passes for the trained codebook


def train_pq_codebook(v: DataFrame, iters: int = PQ_TRAIN_ITERS) -> list[list[float]]:
    """REAL PQ training: per-subspace Lloyd's k-means, initialised
    from the deterministic hash-selected codebook and returned as
    IVF_K full-dim vectors (per-subspace codebooks re-concatenated, so
    the same ``_with_pq_best`` slicing serves either codebook flavor).

    All PQ_M subspaces train in the SAME pair of Spark jobs per
    iteration: vectors explode row-locally into (m, subvector) rows,
    assignment is a map-side argmin against the broadcast-literal
    codebook stack (PQ_M*K*PQ_DIM ~ 1k floats — O(1) in corpus size),
    and the update is one (m, code, pos) average — dimension-parallel,
    collecting only codebook-sized state to the driver, exactly the
    ``embedding_kmeans`` shape. Lloyd from the hash init can only
    lower quantization MSE, which is what makes the trained book
    strictly better (pinned in tests/test_similarity.py). At 100 TB
    this would run on a sample of the corpus — training state is
    already O(1), only the scan would shrink.
    """
    (crow,) = ivf_centroids(v).collect()
    full = [[float(x) for x in c["ce"]] for c in crow["cents"]]
    books = [
        [vec[m * PQ_DIM : (m + 1) * PQ_DIM] for vec in full] for m in range(PQ_M)
    ]
    sub = v.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), m ->"
                f" struct(m AS m, slice(e, m * {PQ_DIM} + 1, {PQ_DIM}) AS sv))"
            )
        ).alias("s")
    ).select(F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    for _ in range(iters):
        bk = F.array(
            *[
                F.array(
                    *[F.array(*[F.lit(float(x)) for x in entry]) for entry in book]
                )
                for book in books
            ]
        )
        code = F.expr(
            """
            array_min(transform(element_at(bk, m + 1), (c, j) -> struct(
              aggregate(zip_with(sv, c, (x, y) -> (x - y) * (x - y)),
                        cast(0.0 as double), (acc, x) -> acc + x) AS d,
              j AS code))).code
            """
        )
        rows = (
            sub.withColumn("bk", bk)
            .select("m", "sv", code.alias("code"))
            .select("m", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("m", "code", "pos")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        books = [[list(entry) for entry in book] for book in books]
        for r in rows:  # empty clusters keep their previous entry
            books[r["m"]][r["code"]][r["pos"]] = float(r["mu"])
    return [
        [x for m in range(PQ_M) for x in books[m][j]] for j in range(len(full))
    ]


def _with_pq_best(v: DataFrame, book: list[list[float]] | None = None) -> DataFrame:
    """Attach ``best`` (struct<codes: array<int>, mse_u: bigint>): per
    subspace the code of the nearest codebook entry, plus the total
    integer-micro-unit reconstruction error. Shared by the encode and
    search paths. ``book`` is the plain full-dim codebook vectors
    (hash-selected centroids when omitted); pass an already-collected
    book to skip the selection job.

    Implementation is an Arrow-batched pandas UDF over numpy — the
    one hot path in the repo where the built-in route genuinely
    loses: Spark higher-order-function lambdas are INTERPRETED (they
    sit outside whole-stage codegen), and the measured cost of the
    expression-based argmin was ~3 ms/row at 64 dims x K=16
    (58 s for a 20k-vector corpus, 10x sf0.1 — ~800 CPU-hours
    per billion vectors). The vectorized (N, M, K, D) numpy kernel
    computes the same batch in milliseconds.

    Cross-engine exactness is PRESERVED: every elementwise op
    ((q-c), square, *ADC_SCALE, +0.5, floor) is an exactly-rounded
    IEEE-double operation, so numpy, Spark SQL, and DuckDB produce
    bit-identical int64 terms; int64 sums are association-free; and
    ``argmin`` returns the FIRST minimum — the same lowest-code
    tie-break the DuckDB oracles express with ``ORDER BY du, code``
    (three-way equality pinned in tests/test_similarity.py).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    if book is None:
        (crow,) = ivf_centroids(v).collect()
        book = [[float(x) for x in c["ce"]] for c in crow["cents"]]
    # (M, K, D): per-subspace codebook stack, closed over by the UDF
    # (O(K * dim) floats — fixed size, broadcast with the task).
    bk = (
        np.array(book, dtype=np.float64)
        .reshape(len(book), PQ_M, PQ_DIM)
        .transpose(1, 0, 2)
    )
    ret = T.StructType(
        [
            T.StructField("codes", T.ArrayType(T.IntegerType())),
            T.StructField("mse_u", T.LongType()),
        ]
    )

    # no type hints: Series -> DataFrame (struct return) is only
    # expressible via the explicit SCALAR pandas_udf form
    def _pq_best(es):
        if len(es) == 0:
            # typed empty frame: an object-dtype empty result trips
            # pandas' concat-with-empty FutureWarning in the Arrow
            # serializer
            return pd.DataFrame(
                {
                    "codes": pd.Series([], dtype=object),
                    "mse_u": pd.Series([], dtype="int64"),
                }
            )
        E = np.array(es.tolist(), dtype=np.float64)  # (N, dim)
        sub = E.reshape(len(E), PQ_M, 1, PQ_DIM)
        d = sub - bk[None, :, :, :]  # (N, M, K, D)
        terms = np.floor(d * d * ADC_SCALE + 0.5).astype(np.int64)
        du = terms.sum(axis=3)  # (N, M, K)
        codes = du.argmin(axis=2)  # first min == lowest code on ties
        mse = np.take_along_axis(du, codes[:, :, None], axis=2).sum(axis=(1, 2))
        return pd.DataFrame(
            {"codes": [c.astype("int32") for c in codes], "mse_u": mse}
        )

    pq_best = F.pandas_udf(_pq_best, ret)
    return v.withColumn("best", pq_best(F.col("e")))


@register(
    "similarity_pq_encode",
    tags=("similarity", "vector", "compression"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
    SELECT vec_id AS cent_id, e AS ce FROM v
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {IVF_K}
), cidx AS (
    SELECT ce, CAST(row_number() OVER (ORDER BY cent_id) - 1 AS INT) AS code
    FROM cent
), sub AS (
    SELECT v.vec_id, m.m, c.code,
           list_sum(list_transform(generate_series(1, {PQ_DIM}),
               i -> CAST(floor(
                   (v.e[m.m * {PQ_DIM} + i] - c.ce[m.m * {PQ_DIM} + i])
                   * (v.e[m.m * {PQ_DIM} + i] - c.ce[m.m * {PQ_DIM} + i])
                   * {ADC_SCALE} + 0.5) AS BIGINT)))
               AS du
    FROM v
    CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
    CROSS JOIN cidx c
), best AS (
    SELECT vec_id, m, code, du,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY du, code) AS rn
    FROM sub
)
SELECT vec_id,
       array_to_string(list(code ORDER BY m), ',') AS pq_codes,
       CAST(list_sum(list(du ORDER BY m)) AS BIGINT) AS pq_mse_u
FROM best WHERE rn = 1
GROUP BY vec_id
""",
)
def similarity_pq_encode(
    spark: SparkSession, sf_dir: str, codebook: str = "hash"
) -> DataFrame:
    """PQ-encode the corpus: (vec_id, pq_codes, pq_mse_u).

    Entirely ROW-LOCAL: the codebook is the fixed-K inline centroid
    array (``ivf_centroid_lit``); per subspace the argmin over
    codebook entries is an ``array_sort`` over (distance, index)
    structs — zero shuffles, zero joins, the whole encode is one
    map-side Project over the scan. That is the property that lets a
    1000-executor job compress 100 TB of embeddings in a single pass
    (codes are {PQ_M} small ints ~ {PQ_M} bytes vs 256 bytes of
    float32 — a 32x memory cut for the ANN serving tier).
    ``pq_mse_u`` is the reconstruction error in integer micro-units
    (see ``ADC_SCALE`` — per-term fixed point keeps the value and the
    argmin bit-identical to the DuckDB oracle).

    The default codebook reuses the deterministic hash-selected
    centroid sub-slices so the DuckDB oracle reproduces codes AND
    reconstruction error value-exactly; ``codebook="trained"`` swaps
    in the per-subspace Lloyd-refined book (``train_pq_codebook``),
    which strictly lowers reconstruction error — the production
    path, kept out of the registered oracle query because k-means is
    iterative and not SQL-expressible.
    """
    from go_integ_spark.functions.vector import with_norm

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = with_norm(emb)
    book = train_pq_codebook(v) if codebook == "trained" else None
    # Gate contract: the code vector is serialized to a CSV string so
    # the driver canonicalizer can hash it; pq_code_vectors() keeps
    # the array-typed library form consumed by pq_search/ivfpq.
    return (
        _with_pq_best(v, book=book)
        .select(
            "vec_id",
            F.array_join(
                F.col("best.codes").cast("array<string>"), ","
            ).alias("pq_codes"),
            F.col("best.mse_u").alias("pq_mse_u"),
        )
    )


def pq_code_vectors(
    spark: SparkSession, sf_dir: str, codebook: str = "hash"
) -> DataFrame:
    """Library form of :func:`similarity_pq_encode` with ``pq_codes``
    as ``array<int>`` (the gate query serializes it)."""
    out = similarity_pq_encode(spark, sf_dir, codebook=codebook)
    return out.withColumn(
        "pq_codes", F.split("pq_codes", ",").cast("array<int>")
    )


@register(
    "similarity_pq_search",
    tags=("similarity", "topk", "vector", "compression"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
    SELECT vec_id AS cent_id, e AS ce FROM v
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {IVF_K}
), cidx AS (
    SELECT ce, CAST(row_number() OVER (ORDER BY cent_id) - 1 AS INT) AS code
    FROM cent
), sub AS (
    SELECT v.vec_id, m.m, c.code,
           list_sum(list_transform(generate_series(1, {PQ_DIM}),
               i -> CAST(floor(
                   (v.e[m.m * {PQ_DIM} + i] - c.ce[m.m * {PQ_DIM} + i])
                   * (v.e[m.m * {PQ_DIM} + i] - c.ce[m.m * {PQ_DIM} + i])
                   * {ADC_SCALE} + 0.5) AS BIGINT)))
               AS du
    FROM v
    CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
    CROSS JOIN cidx c
), best AS (
    SELECT vec_id, m, code, du,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY du, code) AS rn
    FROM sub
), lut AS (
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
), scored AS (
    SELECT l.query_id, b.vec_id AS neighbor_id,
           CAST(sum(l.du) AS BIGINT) AS adc_dist2_u
    FROM best b
    JOIN lut l ON l.m = b.m AND l.code = b.code
    WHERE b.rn = 1 AND b.vec_id <> l.query_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist2_u, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist2_u, neighbor_id
    ) AS rn
    FROM scored
)
WHERE rn <= {TOP_K}
""",
)
def similarity_pq_search(
    spark: SparkSession, sf_dir: str, codebook: str = "hash"
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the PQ serving
    path: queries stay full-precision, the corpus is only its
    {PQ_M}-code compression.

    Shape: each query precomputes a {PQ_M} x {IVF_K} lookup table of
    subspace distances to every codebook entry (O(K*dim) driver work
    for a FIXED query set + fixed codebook — inlined as an int64
    literal, see ADC_SCALE); scoring a corpus row is then {PQ_M}
    array lookups + an integer sum, entirely row-local over the codes
    scan. Zero joins, zero full-vector reads in the scoring loop —
    the property that lets the serving tier scan codes at memory
    bandwidth — then the bounded salted top-k reduction.

    Scores are fixed-point micro-units (bit-identical across engines;
    approximate relative to exact distance by PQ construction —
    encode's ``pq_mse_u`` is the per-vector error budget).
    """
    from go_integ_spark.functions.vector import with_norm

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = with_norm(emb)
    # Codebook + query vectors: both FIXED-size collects (K and
    # N_QUERIES rows), never corpus-scaling. ONE selection/training
    # job serves both the inline literal and the Python-side LUT
    # codebook. codebook="trained" uses the Lloyd-refined book (not
    # the oracle path — k-means is iterative).
    if codebook == "trained":
        cents = train_pq_codebook(v)
    else:
        (crow,) = ivf_centroids(v).collect()
        cents = [[float(x) for x in c["ce"]] for c in crow["cents"]]
    codes = _with_pq_best(v, book=cents).select(
        "vec_id", F.col("best.codes").alias("codes")
    )
    qrows = sorted(
        v.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "e").collect(),
        key=lambda r: r["vec_id"],
    )
    luts = F.array(
        *[
            F.struct(
                F.lit(int(r["vec_id"])).cast("bigint").alias("query_id"),
                F.array(
                    *[
                        F.array(*[F.lit(du) for du in row])
                        for row in pq_lut_u([float(x) for x in r["e"]], cents)
                    ]
                ).alias("lut"),
            )
            for r in qrows
        ]
    )
    scored = (
        codes.withColumn("q", F.explode(luts))
        .filter(F.col("vec_id") != F.col("q.query_id"))
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                f"aggregate(sequence(0, {PQ_M - 1}), cast(0 as bigint),"
                " (acc, m) -> acc + q.lut[m][codes[m]])"
            ).alias("adc_dist2_u"),
        )
    )
    out = salted_topk(
        scored, "query_id", [F.col("adc_dist2_u").asc(), F.col("neighbor_id")], TOP_K
    )
    return out.select(
        "query_id",
        "neighbor_id",
        "adc_dist2_u",
        F.col("rn").cast("int").alias("rank"),
    )

@register(
    "ann_ivfpq_topk",
    tags=("similarity", "ivf", "vector", "compression"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
    SELECT vec_id AS cent_id, e AS ce FROM v
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {IVF_K}
), cidx AS (
    SELECT ce, CAST(row_number() OVER (ORDER BY cent_id) - 1 AS INT) AS code
    FROM cent
), assigned AS (
    SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cent_id AS cell_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cent_id
               ) AS arn
        FROM v CROSS JOIN cent c
    ) WHERE arn = 1
), sub AS (
    SELECT v.vec_id, m.m, c.code,
           list_sum(list_transform(generate_series(1, {PQ_DIM}),
               i -> CAST(floor(
                   (v.e[m.m * {PQ_DIM} + i] - c.ce[m.m * {PQ_DIM} + i])
                   * (v.e[m.m * {PQ_DIM} + i] - c.ce[m.m * {PQ_DIM} + i])
                   * {ADC_SCALE} + 0.5) AS BIGINT)))
               AS du
    FROM v
    CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
    CROSS JOIN cidx c
), best AS (
    SELECT vec_id, m, code, du,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY du, code) AS rn
    FROM sub
), probes AS (
    SELECT query_id, cell_id FROM (
        SELECT v.vec_id AS query_id, c.cent_id AS cell_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cent_id
               ) AS prn
        FROM v CROSS JOIN cent c
        WHERE v.vec_id < {N_QUERIES}
    ) WHERE prn <= {IVF_NPROBE}
), lut AS (
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
), cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p
    JOIN assigned a ON a.cell_id = p.cell_id
    WHERE a.vec_id <> p.query_id
), scored AS (
    SELECT cd.query_id, cd.neighbor_id,
           CAST(sum(l.du) AS BIGINT) AS adc_dist2_u
    FROM cand cd
    JOIN best b ON b.vec_id = cd.neighbor_id AND b.rn = 1
    JOIN lut l ON l.query_id = cd.query_id AND l.m = b.m AND l.code = b.code
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist2_u, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist2_u, neighbor_id
    ) AS rn
    FROM scored
)
WHERE rn <= {TOP_K}
""",
)
def ann_ivfpq_topk(
    spark: SparkSession, sf_dir: str, codebook: str = "hash"
) -> DataFrame:
    """IVF-PQ composed search — the billion-scale ANN index layout
    (coarse quantizer prunes cells, PQ codes replace vectors inside
    them): each corpus vector is stored as (cell_id, {PQ_M} codes);
    a query probes its {IVF_NPROBE} nearest cells and ADC-scores only
    those cells' codes.

    This is the composition of the two pieces already proven
    individually (``ann_ivf_topk``'s row-local cell assignment and
    ``similarity_pq_search``'s integer-exact ADC): the index build is
    ONE map-side Project over the scan (cell argmax + per-subspace
    code argmin against the same inline fixed-K codebook — no join,
    no shuffle), and serving joins the tiny probe list (queries x
    nprobe rows, broadcast, each row carrying its int64 LUT literal)
    against the codes on cell_id — so a query reads nprobe/{IVF_K}
    of the corpus AND only ~{PQ_M} bytes per row of it. That double
    reduction (partition pruning x 32x compression) is the property
    that makes 100 TB of embeddings servable: written partitioned by
    cell_id, a probe is a partition-pruned scan of code arrays at
    memory bandwidth, then the bounded salted top-k.

    Scores are ADC micro-units (fixed point per term, see
    ``ADC_SCALE``) — bit-identical across engines, so the full
    assign->encode->probe->ADC pipeline carries a value-level oracle.
    Recall vs brute force is pinned in tests/test_similarity.py.
    ``codebook="trained"`` swaps the Lloyd-refined book into BOTH the
    encode and LUT sides (not the oracle path — k-means is
    iterative).
    """
    return _ivfpq_search(spark, sf_dir, codebook=codebook, residual=False)


def _ivfpq_search(
    spark: SparkSession, sf_dir: str, codebook: str, residual: bool
) -> DataFrame:
    """Shared IVF-PQ serving pipeline; ``residual=True`` encodes
    ``e - centroid(cell)`` instead of ``e`` and keys the query LUTs by
    (query, probed cell) — see ``ann_ivfpq_residual_topk``."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = with_norm(emb)
    # ONE fixed-size selection job serves the cell literal, the PQ
    # codebook, and the Python LUT builder.
    (crow,) = ivf_centroids(v).collect()
    cents_lit = _centroid_lit_from_row(crow)
    cent_vecs = {
        int(c["cid"]): [float(x) for x in c["ce"]] for c in crow["cents"]
    }
    # Index build: cell assignment (+ residual) + PQ encode in one
    # map-side pass. The residual is row-local too: the cell centroid
    # comes out of the same inline literal the assignment used.
    assigned = v.withColumn(
        "cell_id", F.element_at(nearest_cells_pd(crow, 1), 1)
    )
    if residual:
        assigned = assigned.withColumn("cents", cents_lit).withColumn(
            "e",
            F.expr(
                "zip_with(e, filter(cents, c -> c.cid = cell_id)[0].ce,"
                " (x, y) -> x - y)"
            ),
        ).drop("cents")
    if codebook == "trained":
        # For the residual variant the book trains on the residuals
        # themselves (their scale is the within-cell noise, not the
        # raw vectors) — the faiss training recipe.
        cents = train_pq_codebook(
            with_norm(assigned.select("vec_id", F.col("e").alias("embedding")))
            if residual
            else v
        )
    else:
        cents = [[float(x) for x in c["ce"]] for c in crow["cents"]]
    indexed = _with_pq_best(assigned, book=cents).select(
        "vec_id",
        "cell_id",
        F.col("best.codes").alias("codes"),
    )
    # Probe list: row-local nprobe-nearest cells per query, computed
    # IN SPARK (the same fold/argmax the oracle expresses, so no new
    # cross-engine float surface), then COLLECTED — it is a fixed
    # N_QUERIES * nprobe rows — and shipped back as a small broadcast
    # frame carrying each probe's int64 LUT as plain column data.
    # (A first version inlined all LUTs as one expression literal and
    # selected with filter(); at N_QUERIES * IVF_K residual LUTs the
    # plan-analysis cost of that literal dominated the query — data,
    # not expressions, is the right vehicle for a table of numbers.)
    qrows = sorted(
        v.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "e").collect(),
        key=lambda r: r["vec_id"],
    )
    qe_by_id = {int(r["vec_id"]): [float(x) for x in r["e"]] for r in qrows}
    probe_rows = (
        v.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(nearest_cells_pd(crow, IVF_NPROBE)).alias("cell_id"),
        )
        .collect()
    )
    lut_rows = []
    for pr in sorted(probe_rows, key=lambda r: (r["query_id"], r["cell_id"])):
        qid, cid = int(pr["query_id"]), int(pr["cell_id"])
        vec = qe_by_id[qid]
        if residual:
            # the query's residual wrt the probed cell — one LUT per
            # (query, cell) instead of per query
            vec = [x - c for x, c in zip(vec, cent_vecs[cid])]
        lut_rows.append((qid, cid, pq_lut_u(vec, cents)))
    probes = spark.createDataFrame(
        lut_rows, "query_id bigint, cell_id bigint, lut array<array<bigint>>"
    )
    scored = (
        indexed.join(F.broadcast(probes), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                f"aggregate(sequence(0, {PQ_M - 1}), cast(0 as bigint),"
                " (acc, m) -> acc + lut[m][codes[m]])"
            ).alias("adc_dist2_u"),
        )
    )
    out = salted_topk(
        scored, "query_id", [F.col("adc_dist2_u").asc(), F.col("neighbor_id")], TOP_K
    )
    return out.select(
        "query_id",
        "neighbor_id",
        "adc_dist2_u",
        F.col("rn").cast("int").alias("rank"),
    )


@register(
    "ann_ivfpq_residual_topk",
    tags=("similarity", "ivf", "vector", "compression"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
    SELECT vec_id AS cent_id, e AS ce FROM v
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {IVF_K}
), cidx AS (
    SELECT ce, CAST(row_number() OVER (ORDER BY cent_id) - 1 AS INT) AS code
    FROM cent
), assigned AS (
    SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cent_id AS cell_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cent_id
               ) AS arn
        FROM v CROSS JOIN cent c
    ) WHERE arn = 1
), resid AS (
    SELECT a.vec_id, a.cell_id,
           list_transform(generate_series(1, {PQ_M * PQ_DIM}),
               i -> v.e[i] - ct.ce[i]) AS r
    FROM assigned a
    JOIN v ON v.vec_id = a.vec_id
    JOIN cent ct ON ct.cent_id = a.cell_id
), sub AS (
    SELECT rd.vec_id, m.m, c.code,
           list_sum(list_transform(generate_series(1, {PQ_DIM}),
               i -> CAST(floor(
                   (rd.r[m.m * {PQ_DIM} + i] - c.ce[m.m * {PQ_DIM} + i])
                   * (rd.r[m.m * {PQ_DIM} + i] - c.ce[m.m * {PQ_DIM} + i])
                   * {ADC_SCALE} + 0.5) AS BIGINT)))
               AS du
    FROM resid rd
    CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
    CROSS JOIN cidx c
), best AS (
    SELECT vec_id, m, code, du,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY du, code) AS rn
    FROM sub
), probes AS (
    SELECT query_id, cell_id FROM (
        SELECT v.vec_id AS query_id, c.cent_id AS cell_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cent_id
               ) AS prn
        FROM v CROSS JOIN cent c
        WHERE v.vec_id < {N_QUERIES}
    ) WHERE prn <= {IVF_NPROBE}
), qresid AS (
    SELECT p.query_id, p.cell_id,
           list_transform(generate_series(1, {PQ_M * PQ_DIM}),
               i -> q.e[i] - ct.ce[i]) AS qr
    FROM probes p
    JOIN v q ON q.vec_id = p.query_id
    JOIN cent ct ON ct.cent_id = p.cell_id
), lut AS (
    SELECT qr.query_id, qr.cell_id, m.m, c.code,
           list_sum(list_transform(generate_series(1, {PQ_DIM}),
               i -> CAST(floor(
                   (qr.qr[m.m * {PQ_DIM} + i] - c.ce[m.m * {PQ_DIM} + i])
                   * (qr.qr[m.m * {PQ_DIM} + i] - c.ce[m.m * {PQ_DIM} + i])
                   * {ADC_SCALE} + 0.5) AS BIGINT))) AS du
    FROM qresid qr
    CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
    CROSS JOIN cidx c
), cand AS (
    SELECT p.query_id, p.cell_id, a.vec_id AS neighbor_id
    FROM probes p
    JOIN assigned a ON a.cell_id = p.cell_id
    WHERE a.vec_id <> p.query_id
), scored AS (
    SELECT cd.query_id, cd.neighbor_id,
           CAST(sum(l.du) AS BIGINT) AS adc_dist2_u
    FROM cand cd
    JOIN best b ON b.vec_id = cd.neighbor_id AND b.rn = 1
    JOIN lut l ON l.query_id = cd.query_id AND l.cell_id = cd.cell_id
              AND l.m = b.m AND l.code = b.code
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist2_u, CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist2_u, neighbor_id
    ) AS rn
    FROM scored
)
WHERE rn <= {TOP_K}
""",
)
def ann_ivfpq_residual_topk(
    spark: SparkSession, sf_dir: str, codebook: str = "hash"
) -> DataFrame:
    """Residual IVF-PQ — the faiss production layout: what gets
    PQ-encoded is ``e - centroid(cell)``, not ``e``. The coarse
    quantizer already captures a vector's cluster component, so the
    codes only have to describe the (much smaller) within-cell
    offset — on clustered data this is where PQ recall comes from,
    and the trained variant fits its codebook to the residual
    distribution (``codebook="trained"``; recall gain over plain
    IVF-PQ pinned on a clustered corpus in tests/test_similarity.py).

    Everything stays row-local: the cell centroid needed for the
    subtraction comes out of the same inline literal the assignment
    used (no join), and the query-side LUTs become one per
    (query, probed cell) — the query's residual differs per cell —
    still a fixed N_QUERIES * nprobe * {PQ_M} * K int64 literal. The
    residual subtraction is exactly-rounded elementwise double math,
    so the whole pipeline keeps the value-level DuckDB oracle of the
    plain variant.
    """
    return _ivfpq_search(spark, sf_dir, codebook=codebook, residual=True)


EMB_DIM = 64  # declared embedding width (PQ_M * PQ_DIM)


@register(
    "embedding_health",
    tags=("similarity", "quality", "llm_pipeline"),
    oracle=f"""
WITH v AS (
    SELECT label, embedding, embedding::DOUBLE[] AS e FROM embeddings
), m AS (
    SELECT label,
           (embedding IS NULL) AS is_null,
           (embedding IS NOT NULL AND len(e) <> {EMB_DIM}) AS bad_dim,
           (embedding IS NOT NULL AND len(list_filter(e,
               x -> isnan(x) OR abs(x) > 1e308)) > 0) AS nonfinite
    FROM v
), w AS (
    SELECT m.label, m.is_null, m.bad_dim, m.nonfinite,
           CASE WHEN NOT m.is_null AND NOT m.bad_dim AND NOT m.nonfinite
                THEN sqrt(list_sum(list_transform(v.e, x -> x * x)))
           END AS nrm
    FROM m POSITIONAL JOIN v
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(sum(CASE WHEN bad_dim THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dim,
       CAST(sum(CASE WHEN nonfinite THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nonfinite,
       CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_norm,
       round(avg(nrm), 4) AS norm_avg,
       round(min(nrm), 4) AS norm_min,
       round(max(nrm), 4) AS norm_max
FROM w
GROUP BY label
""",
)
def embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus health gate — the validation pass an embedding
    pipeline runs before indexing/training consumes a batch: per
    label, counts of NULL vectors, wrong-width vectors, vectors with
    non-finite elements (NaN/inf — the classic symptom of an
    upstream fp16 overflow or a division by a zero norm), exact
    zero-norm vectors (undefined cosine), and the L2-norm
    distribution of the healthy remainder (a drifting norm_avg
    between ingest batches flags an encoder-version mix-up).

    Pure map-side projection + one aggregation with partial combine:
    scan-bound at 100 TB, no joins, no Python. The health columns
    are computed with engine-portable predicates so the whole gate
    carries a value oracle.
    """
    from go_integ_spark.functions.vector import as_double
    from go_integ_spark.functions.vector import norm as l2_norm

    emb = load_table(spark, sf_dir, "embeddings").select("embedding", "label")
    e = as_double("embedding")
    is_null = F.col("embedding").isNull()
    bad_dim = ~is_null & (F.size("embedding") != EMB_DIM)
    nonfinite = ~is_null & F.exists(
        e, lambda x: F.isnan(x) | (F.abs(x) > F.lit(1e308))
    )
    nrm = F.when(~is_null & ~bad_dim & ~nonfinite, l2_norm(e))
    flagged = emb.select(
        "label",
        is_null.alias("is_null"),
        bad_dim.alias("bad_dim"),
        nonfinite.alias("nonfinite"),
        nrm.alias("nrm"),
    )
    return flagged.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("is_null").cast("bigint")).alias("n_null"),
        F.sum(F.col("bad_dim").cast("bigint")).alias("n_bad_dim"),
        F.sum(F.col("nonfinite").cast("bigint")).alias("n_nonfinite"),
        # when(...).otherwise(0), not a bare cast: (NULL == 0) is NULL,
        # and a label whose vectors are ALL unhealthy must sum to 0
        # (as the oracle's CASE does), not NULL.
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0).cast("bigint")).alias(
            "n_zero_norm"
        ),
        F.round(F.avg("nrm"), 4).alias("norm_avg"),
        F.round(F.min("nrm"), 4).alias("norm_min"),
        F.round(F.max("nrm"), 4).alias("norm_max"),
    )


# --------------------------------------------------------------------------
# Random projection (Johnson-Lindenstrauss) dimensionality reduction
# --------------------------------------------------------------------------
RP_OUT_DIM = 16  # 64 -> 16: the 4x compression tier below PQ's 32x
RP_IN_DIM = EMB_DIM
RP_SCALE = 1_000_000  # micro-unit fixed point, same contract as ADC/pq_mse_u


def _rp_sign(j: int, d: int) -> int:
    """Deterministic Rademacher (+/-1) projection entry, derived from
    md5 so DuckDB reproduces the identical matrix (functions/hashing
    h60 convention: md5 is the engine-portable randomness source)."""
    from go_integ_spark.functions.hashing import h60_py

    return 1 if h60_py(f"rp:{j}:{d}") & 1 else -1


_RP_SIGN_SQL = (
    "(CASE WHEN (('0x' || substr(md5('rp:' || CAST(j AS VARCHAR) || ':' "
    "|| CAST(d AS VARCHAR)), 1, 15))::BIGINT & 1) = 1 THEN 1 ELSE -1 END)"
)


@register(
    "embedding_random_projection",
    tags=("similarity", "vector", "compression"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), q AS (
    SELECT vec_id,
           list_transform(e, x -> CAST(floor(x * {RP_SCALE} + 0.5) AS BIGINT))
               AS qs
    FROM v
)
SELECT vec_id,
       array_to_string(list_transform(range({RP_OUT_DIM}), j ->
           CAST(list_sum(list_transform(range({RP_IN_DIM}), d ->
               {_RP_SIGN_SQL} * qs[d + 1])) AS BIGINT)), ',') AS proj_u
FROM q
""",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sketch: project every embedding from
    RP_IN_DIM (64) to RP_OUT_DIM (16) dims with a deterministic Rademacher (+/-1)
    matrix — the cheap distance-preserving compression used before
    clustering / dedup passes that don't need full-precision vectors
    (distortion bound pinned statistically in tests/test_similarity).

    Cross-engine exactness uses the PQ fixed-point contract: each
    coordinate is scaled to integer micro-units FIRST (floor(x*1e6 +
    0.5) — one IEEE multiply, identical everywhere), then the
    projection is a pure int64 matmul whose sums are association-free,
    so `proj_u` is bit-identical in Spark, numpy, and DuckDB.

    Scale shape: zero shuffles — one Arrow-batched map over the scan
    (the 16x64 sign matrix is a closure constant, the per-batch work
    one int64 GEMM). At 100 TB this runs at scan speed; nothing else
    moves.
    """
    import numpy as np
    import pandas as pd

    sign = np.array(
        [[_rp_sign(j, d) for d in range(RP_IN_DIM)] for j in range(RP_OUT_DIM)],
        dtype=np.int64,
    )

    def _project(col):  # pd.Series[list[float]] -> pd.Series[np.ndarray]
        n = len(col)
        if n == 0:
            return pd.Series([], dtype=object)
        # embeddings are uniform-width here (embedding_health is the
        # gate for corpora where that can fail)
        e = np.stack([np.asarray(x, dtype=np.float64) for x in col])
        q = np.floor(e * RP_SCALE + 0.5).astype(np.int64)
        return pd.Series(list(q @ sign.T))

    project_udf = F.pandas_udf(_project, "array<bigint>")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Gate contract: the projection vector is serialized to a CSV
    # string so the driver canonicalizer can hash it;
    # random_projection_vectors() keeps the array-typed library form.
    return emb.select(
        "vec_id",
        F.array_join(
            project_udf(F.col("embedding")).cast("array<string>"), ","
        ).alias("proj_u"),
    )


def random_projection_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library form of :func:`embedding_random_projection` with
    ``proj_u`` as ``array<bigint>`` (the gate query serializes it)."""
    out = embedding_random_projection(spark, sf_dir)
    return out.withColumn(
        "proj_u", F.split("proj_u", ",").cast("array<bigint>")
    )


# --------------------------------------------------------------------------
# k-nearest-neighbor graph (IVF-bucketed)
# --------------------------------------------------------------------------
KNN_GRAPH_K = 5
KNN_GRAPH_PROBES = 2
# Max corpus rows one kNN scoring block may hold: cells above this
# split into deterministic sub-blocks (result-invariant — see the
# skew-bound note in _build_knn_graph). Non-binding at gate SFs
# (largest sf0.1 cell ~ hundreds of rows); at the 1000x probe the 10
# hot cells carried ~200k rows each and ran as ONE task (80x stage
# skew) before this bound.
KNN_CELL_CAP = 8192


# Shared CTE chain (v -> cent[sqrt-K] -> assigned -> probes -> scored
# -> knn) reused by embedding_knn_graph and embedding_communities.
_KNN_CTES = f"""
v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
    -- sqrt-scaled cell count (the faiss nlist rule), same formula the
    -- Spark side computes: greatest(IVF_K, floor(sqrt(N)))
    SELECT vec_id AS cent_id, e AS ce FROM (
        SELECT vec_id, e,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS rn,
               count(*) OVER () AS nn
        FROM v
    ) WHERE rn <= greatest({IVF_K}, CAST(floor(sqrt(nn)) AS BIGINT))
), assigned AS (
    SELECT vec_id, e, cent_id AS cell_id FROM (
        SELECT v.vec_id, v.e, c.cent_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cent_id
               ) AS arn
        FROM v CROSS JOIN cent c
    ) WHERE arn = 1
), probes AS (
    SELECT src_id, cell_id FROM (
        SELECT a.vec_id AS src_id, c.cent_id AS cell_id,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_cosine_similarity(a.e, c.ce) DESC, c.cent_id
               ) AS prn
        FROM assigned a CROSS JOIN cent c
    ) WHERE prn <= {KNN_GRAPH_PROBES}
), scored AS (
    SELECT p.src_id, a.vec_id AS dst_id,
           list_cosine_similarity(q.e, a.e) AS s
    FROM probes p
    JOIN assigned a ON a.cell_id = p.cell_id
    JOIN v q ON q.vec_id = p.src_id
    WHERE a.vec_id <> p.src_id
), knn AS (
    SELECT src_id, dst_id, s, rn FROM (
        SELECT *, row_number() OVER (
            PARTITION BY src_id ORDER BY s DESC, dst_id
        ) AS rn
        FROM scored
    ) WHERE rn <= {KNN_GRAPH_K}
)
"""


@register(
    "embedding_knn_graph",
    tags=("similarity", "graph", "vector"),
    oracle="WITH " + _KNN_CTES + """
SELECT k.src_id, k.dst_id, round(k.s, 4) AS cos_sim,
       CAST(k.rn AS INT) AS rank,
       (r.src_id IS NOT NULL) AS mutual
FROM knn k
LEFT JOIN knn r ON r.src_id = k.dst_id AND r.dst_id = k.src_id
""",
)
def embedding_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph over the WHOLE corpus (every vector is a query):
    the shared substrate for graph-based dedup clustering, label
    propagation, and diversity-aware curation sampling. Each edge
    carries a ``mutual`` flag (dst also ranks src in its own top-k) —
    mutual-kNN edges are the standard high-precision subset used for
    cluster seeds.

    Same IVF machinery as ann_ivf_topk, but the probe side is the
    corpus itself, so the probe join CANNOT be broadcast: both sides
    hash-partition on cell_id (at 100 TB: the corpus is WRITTEN
    partitioned by cell_id, so candidate generation is a co-located
    per-cell join with no wide exchange). Per-src top-k runs through
    salted_topk — partition-local prefilter, bounded final window.
    The mutual flag is one extra self-join of the (N x k)-row edge
    list on (src, dst) — tiny next to candidate scoring.

    The finished edge list is held in a ``cached_persist`` slot
    shared with ``embedding_communities`` (which consumes the mutual
    subgraph): the CC query used to re-derive the entire candidate-
    scoring pipeline — at 9.75 s the costliest gate entry, ~8 s of it
    this graph build (VERDICT r7 item 5). At deployment scale the
    graph is a WRITTEN artifact both consumers read.
    """
    from go_integ_spark.functions.cache import cached_persist

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return cached_persist(
        "knn_graph", emb, lambda: _build_knn_graph(spark, emb)
    )


def _build_knn_graph(spark: SparkSession, emb: DataFrame) -> DataFrame:
    # Cell count follows the faiss nlist rule, sqrt(N): with every
    # vector probing, candidate volume is ~N * probes * N / K — a
    # FIXED K turns the cell join quadratic as the corpus grows
    # (measured: 380 s at 20k clustered vectors with K=16; ~25 s with
    # sqrt-K). The count() below is parquet-metadata-only (no data
    # scan), and the oracle computes the identical greatest/floor/sqrt
    # formula so centroid sets still match bit-for-bit.
    from go_integ_spark.functions.cache import cached_persist

    k_cells = max(IVF_K, int(emb.count() ** 0.5))
    v = with_norm(emb)
    (crow,) = ivf_centroids(v, k_cells).collect()
    # ONE centroid-scoring kernel pass serves all three consumers
    # (corpus side, probe side, cell-size table): posexplode ranks
    # the probed cells, and rank 0 IS the assignment (the same
    # nearest-cell the old separate nearest_cells_pd(crow, 1) call
    # computed). Without the persist each downstream lineage re-runs
    # the O(N*K*d) kernel over the full corpus — the sz frame alone
    # was a third full pass (ADVICE r10). Single-slot cache, so a
    # long session holds exactly one live copy per corpus.
    pe = cached_persist(
        "knn_assign",
        emb,
        lambda: v.select(
            "vec_id",
            "e",
            "e_norm",
            F.posexplode(nearest_cells_pd(crow, KNN_GRAPH_PROBES)).alias(
                "pos", "cell_id"
            ),
        ),
    )
    assigned = pe.filter(F.col("pos") == 0).select(
        "vec_id", "e", "e_norm", "cell_id"
    )
    probes = pe.select(
        F.col("vec_id").alias("src_id"),
        F.col("e").alias("qe"),
        F.col("e_norm").alias("qe_norm"),
        "cell_id",
    )
    # Per-cell BLOCK scoring via cogroup, not a row-per-pair join: the
    # pair join shipped BOTH full vectors for every candidate pair
    # through the Arrow boundary (~1 KB x pairs — 5 GB at the 50k
    # smoke); cogrouping moves each cell's vectors ONCE (corpus block
    # + probe block), scores them as a fold-exact blocked matmul (the
    # same rounded multiply-add sequence per dimension, so every s is
    # bit-identical to the pair expression and the DuckDB oracle),
    # and emits only each src's per-cell top-k (s, dst) rows — the
    # global top-k over nprobe * k survivors per src is then exact.
    import numpy as np
    import pandas as pd

    k_local = KNN_GRAPH_K

    from go_integ_spark.functions.vector import fold_cosine_block

    def _score_cell(corpus_pdf, probe_pdf):
        n_c, m_c = len(corpus_pdf), len(probe_pdf)
        if n_c == 0 or m_c == 0:
            return pd.DataFrame(
                {
                    "src_id": pd.Series([], dtype="int64"),
                    "dst_id": pd.Series([], dtype="int64"),
                    "s": pd.Series([], dtype="float64"),
                }
            )
        # Sort the corpus block by dst id FIRST: a stable row-wise
        # argsort of -sim then breaks similarity ties toward the
        # lower dst — the exact (s desc, dst asc) total order the
        # oracle's row_number uses — with no per-row Python loop.
        corpus_pdf = corpus_pdf.sort_values("vec_id")
        dst = corpus_pdf["vec_id"].to_numpy(dtype=np.int64)
        src = probe_pdf["src_id"].to_numpy(dtype=np.int64)
        sim = fold_cosine_block(
            probe_pdf["qe"], probe_pdf["qe_norm"],
            corpus_pdf["e"], corpus_pdf["e_norm"],
        )
        # Self-pairs sink to the bottom; -inf survivors are dropped.
        masked = np.where(dst[None, :] == src[:, None], -np.inf, sim)
        k_take = min(k_local, n_c)
        order = np.argsort(-masked, axis=1, kind="stable")[:, :k_take]
        rows = np.repeat(np.arange(m_c), k_take)
        cols = order.ravel()
        s_flat = masked[rows, cols]
        keep = np.isfinite(s_flat)
        return pd.DataFrame(
            {
                "src_id": src[rows[keep]],
                "dst_id": dst[cols[keep]],
                "s": s_flat[keep],
            }
        )

    # Scoring runs through the shared 2-D grid + cost-binned cogroup
    # (functions/blocks.py — ONE scheduler for every blocked scorer,
    # r11): both block dimensions capped at KNN_CELL_CAP (capping only
    # the corpus side left hot-cell tasks at |cell_probes| x cap —
    # 128x task skew at the 1000x re-probe), blocks packed into
    # ~equal-cost bins, exchange hashed on the bin id so neither AQE
    # byte-coalescing (which stacks quadratic blocks — the r10 144x
    # residual) nor one-task-per-block bimodality (29x at 100x) sets
    # task shape. The scored pair set and per-pair fold are
    # unchanged, and any cell-global top-k member ranks <= k inside
    # its own sub-block, so the per-sub-block top-k union feeds
    # salted_topk the same survivors — the final graph is
    # bit-identical at ANY cap (pinned by test_round10b_ops: cap=8
    # equals cap=default at gate scale). Cell sizes come from ONE
    # aggregate over the persisted pe frame (n_p = all probe rows per
    # cell, n_m = rank-0 rows) handed to the scheduler via
    # cell_sizes=, so the helper runs zero sizing jobs of its own —
    # r11's unified path paid ~13% over the bespoke one on exactly
    # this (VERDICT r11 item 3).
    from go_integ_spark.functions.blocks import grid_block_cogroup

    cell_rows = (
        pe.groupBy("cell_id")
        .agg(
            F.count_if(F.col("pos") == 0).alias("n_m"),
            F.count(F.lit(1)).alias("n_p"),
        )
        .collect()
    )
    scored = grid_block_cogroup(
        probes,
        assigned,
        ["cell_id"],
        "src_id",
        "vec_id",
        lambda probe_pdf, corpus_pdf: _score_cell(corpus_pdf, probe_pdf),
        "src_id bigint, dst_id bigint, s double",
        KNN_CELL_CAP,
        cell_sizes=[
            ((r["cell_id"],), r["n_m"], r["n_p"]) for r in cell_rows
        ],
    )
    knn = salted_topk(
        scored, "src_id", [F.col("s").desc(), F.col("dst_id")], KNN_GRAPH_K
    ).select("src_id", "dst_id", "s", "rn")
    # Mutuality in ONE pass over the edge list: group the k*N edges by
    # the unordered pair — both directions land in the same group, so
    # mutual == group size 2. A naive self-join of knn with itself
    # would RECOMPUTE the whole candidate-scoring pipeline for the
    # second side (no exchange reuse across the join); this shape
    # shuffles the small edge list once instead.
    grouped = (
        knn.groupBy(
            F.least("src_id", "dst_id").alias("lo"),
            F.greatest("src_id", "dst_id").alias("hi"),
        )
        .agg(F.collect_list(F.struct("src_id", "dst_id", "s", "rn")).alias("es"))
    )
    return grouped.select(
        F.explode("es").alias("e"), (F.size("es") == 2).alias("mutual")
    ).select(
        F.col("e.src_id").alias("src_id"),
        F.col("e.dst_id").alias("dst_id"),
        F.round(F.col("e.s"), 4).alias("cos_sim"),
        F.col("e.rn").cast("int").alias("rank"),
        "mutual",
    )


@register(
    "embedding_communities",
    tags=("similarity", "graph", "iterative"),
    oracle="WITH RECURSIVE " + _KNN_CTES + """,
medges AS (
    SELECT k.src_id AS src, k.dst_id AS dst
    FROM knn k
    JOIN knn r ON r.src_id = k.dst_id AND r.dst_id = k.src_id
),
reach(src, dst) AS (
    SELECT src, dst FROM medges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN medges e ON r.dst = e.src
),
lab AS (
    SELECT src AS node, least(src, min(dst)) AS community FROM reach GROUP BY src
),
memb AS (
    SELECT v.vec_id, coalesce(l.community, v.vec_id) AS community_id
    FROM v LEFT JOIN lab l ON l.node = v.vec_id
)
SELECT m.vec_id, m.community_id, CAST(c.n AS BIGINT) AS community_size
FROM memb m
JOIN (
    SELECT community_id, count(*) AS n FROM memb GROUP BY community_id
) c USING (community_id)
""",
)
def embedding_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic community detection: connected components over the
    MUTUAL-kNN edge set (the high-precision subgraph of
    ``embedding_knn_graph``) — the clustering pass that groups a
    corpus into topical islands for curation mix decisions, per-
    community caps, or near-dup triage. Every vector gets a
    community id (its component's smallest vec_id; singletons keep
    their own id) and the community size.

    Reuses the dedup CC machinery (min-label propagation, one shuffle
    per round, persisted edge list, driver holds two longs) on the
    mutual edges; like ``dedup_clusters`` the iteration is still
    SQL-expressible as a recursive CTE, so it keeps a full value
    oracle.
    """
    from go_integ_spark.operators.dedup import connected_components

    g = embedding_knn_graph(spark, sf_dir)  # cached_persist-shared build
    edges = g.filter(F.col("mutual")).select(
        F.col("src_id").alias("doc_a"), F.col("dst_id").alias("doc_b")
    )
    comp = connected_components(edges).select(
        F.col("node").alias("vec_id"), F.col("component").alias("community_id")
    )
    all_ids = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id", F.coalesce("community_id", F.col("vec_id")).alias("community_id")
        )
    )
    sizes = all_ids.groupBy("community_id").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return all_ids.join(sizes, "community_id").select(
        "vec_id", "community_id", "community_size"
    )


# --------------------------------------------------------------------------
# MMR (maximal marginal relevance) re-ranking
# --------------------------------------------------------------------------
MMR_CANDIDATES = 20  # relevance top-N fed to the re-ranker
MMR_K = 10  # re-ranked results emitted per query
# lambda = 0.7 in tenths: 10*score = MMR_LAM10*rel - (10-MMR_LAM10)*maxdiv,
# kept integral so the greedy argmax is exact integer arithmetic.
MMR_LAM10 = 7
MMR_SCALE = 1_000_000  # micro-unit quantization of the exact cosines


def _mmr_oracle() -> str:
    """Statically-unrolled DuckDB twin of the greedy MMR loop: pick
    rank 0 by pure relevance, then MMR_K-1 rounds of
    argmax(7*rel_u - 3*max_div_u) over the remaining candidates —
    the same iterate-count-unroll trick as the kmeans/BPE oracles,
    valid because every quantity is exact int64 micro-units."""
    lam, lam_c = MMR_LAM10, 10 - MMR_LAM10
    ctes = [
        f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.e, c.e) AS s
    FROM v q JOIN v c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
), cand AS MATERIALIZED (
    SELECT query_id, neighbor_id,
           CAST(floor(s * {MMR_SCALE} + 0.5) AS BIGINT) AS rel_u
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= {MMR_CANDIDATES}
), pair AS MATERIALIZED (
    SELECT a.query_id, a.neighbor_id AS da, b.neighbor_id AS db,
           CAST(floor(list_cosine_similarity(va.e, vb.e) * {MMR_SCALE}
                      + 0.5) AS BIGINT) AS sim_u
    FROM cand a
    JOIN cand b ON b.query_id = a.query_id
                AND b.neighbor_id <> a.neighbor_id
    JOIN v va ON va.vec_id = a.neighbor_id
    JOIN v vb ON vb.vec_id = b.neighbor_id
), a0 AS MATERIALIZED (
    SELECT query_id, neighbor_id, rel_u, CAST(0 AS INT) AS mmr_rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY rel_u DESC, neighbor_id) AS rn
        FROM cand
    ) WHERE rn = 1
)"""
    ]
    for r in range(1, MMR_K):
        ctes.append(
            f""", s{r} AS MATERIALIZED (
    SELECT query_id, neighbor_id, rel_u, CAST({r} AS INT) AS mmr_rank
    FROM (
        SELECT c.query_id, c.neighbor_id, c.rel_u,
               row_number() OVER (
                   PARTITION BY c.query_id
                   ORDER BY {lam} * c.rel_u - {lam_c} * (
                       SELECT max(p.sim_u) FROM pair p
                       JOIN a{r - 1} sel
                         ON sel.query_id = p.query_id
                        AND sel.neighbor_id = p.db
                       WHERE p.query_id = c.query_id
                         AND p.da = c.neighbor_id
                   ) DESC, c.neighbor_id) AS rn
        FROM cand c
        ANTI JOIN a{r - 1} sel
            ON sel.query_id = c.query_id
           AND sel.neighbor_id = c.neighbor_id
    ) WHERE rn = 1
), a{r} AS MATERIALIZED (
    SELECT * FROM a{r - 1} UNION ALL SELECT * FROM s{r}
)"""
        )
    ctes.append(
        f"""
SELECT query_id, neighbor_id, mmr_rank, rel_u FROM a{MMR_K - 1}"""
    )
    return "".join(ctes)


@register(
    "similarity_mmr_rerank",
    tags=("similarity", "topk", "vector", "iterative"),
    oracle=_mmr_oracle(),
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking of each query's
    relevance top-{MMR_CANDIDATES}: greedily emit {MMR_K} results
    maximizing ``lambda*rel - (1-lambda)*max_sim_to_already_picked``
    (lambda=0.7) — the standard diversity re-rank RAG/search serving
    applies after ANN retrieval, so near-duplicate hits don't crowd
    the result list.

    Cross-engine exactness: relevance and pairwise-diversity cosines
    come from the shared fold contract, quantized once to int64
    micro-units; with lambda in tenths the greedy objective is
    ``7*rel_u - 3*maxdiv_u`` — pure integers — so the fixed
    iteration count unrolls into a full DuckDB value oracle
    (the kmeans/BPE trick applied to greedy selection).

    Scale shape: candidate generation is the broadcast-query
    scan-bound scoring + bounded salted top-k (same plan as
    ann_bruteforce_topk; IVF is the registered scale path for
    retrieval); the re-rank itself touches {MMR_CANDIDATES} rows per
    query in ONE cogrouped Arrow batch — work is
    O(queries * candidates^2 * dim), independent of corpus size.
    """
    import numpy as np
    import pandas as pd

    from go_integ_spark.functions.vector import fold_cosine_block, with_norm

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = with_norm(emb)
    scored = bruteforce_scored(v)
    cand = salted_topk(
        scored, "query_id", [F.col("s").desc(), F.col("neighbor_id")], MMR_CANDIDATES
    ).select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("s") * MMR_SCALE + 0.5).cast("bigint").alias("rel_u"),
    )
    # candidate vectors ride back in via an id join (bounded:
    # queries * MMR_CANDIDATES rows)
    with_vecs = cand.join(
        v.select(F.col("vec_id").alias("neighbor_id"), "e", "e_norm"),
        "neighbor_id",
    )

    def _greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        n = len(pdf)
        k = min(MMR_K, n)
        div_u = np.floor(
            fold_cosine_block(pdf["e"], pdf["e_norm"], pdf["e"], pdf["e_norm"])
            * MMR_SCALE
            + 0.5
        ).astype(np.int64)
        rel = pdf["rel_u"].to_numpy(dtype=np.int64)
        picked: list[int] = []
        avail = np.ones(n, dtype=bool)
        for r in range(k):
            if r == 0:
                score = rel.copy()
            else:
                maxdiv = div_u[:, picked].max(axis=1)
                score = MMR_LAM10 * rel - (10 - MMR_LAM10) * maxdiv
            score_masked = np.where(avail, score, np.iinfo(np.int64).min)
            # rows are id-ascending, argmax takes the first maximum ->
            # ties break to the lowest neighbor_id, same as the oracle
            i = int(np.argmax(score_masked))
            picked.append(i)
            avail[i] = False
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[picked].to_numpy(),
                "neighbor_id": pdf["neighbor_id"].iloc[picked].to_numpy(),
                "mmr_rank": np.arange(k, dtype=np.int32),
                "rel_u": rel[picked],
            }
        )

    return with_vecs.groupBy("query_id").applyInPandas(
        _greedy, "query_id bigint, neighbor_id bigint, mmr_rank int, rel_u bigint"
    )


# --- Margin-based bitext mining --------------------------------------

BITEXT_TOP_K = 4  # neighborhood size for the margin denominator
BITEXT_COS_FLOOR_U = 500  # drop pairs under cos 0.05 before ranking
BITEXT_MARGIN_MIN_U = 10000  # ratio-margin >= 1.0 (fixed-point 1e4)
# Candidate generation probes this many of each language's IVF_K
# cells. ANN mining is approximate by construction: measured at gate
# scale vs the exhaustive form, pair-set Jaccard is 0.97/0.98
# (sf0.001/sf0.01) and recall of strong pairs (margin >= 1.1) is
# ~99%, with every disagreement a borderline-margin argmax flip —
# pinned with headroom in tests/test_round9_ops.py. Full top-4
# parity would need nprobe = K (measured: the cos-0.05 floor admits
# noise-level "neighbors" no clustering co-locates), i.e. no pruning
# at all. The 12/16 searched fraction is a gate-scale artifact of
# the fixed-K=16 deterministic codebook over a 500-vector corpus; at
# real scale K grows to thousands while nprobe stays ~a dozen.
BITEXT_NPROBE = 12


def _bitext_lang_centroids(v: DataFrame) -> DataFrame:
    """One ``ivf_centroids``-shaped row PER LANGUAGE, in one job: the
    deterministic md5 hash-pick (similarity.py's fixed-K stand-in for
    offline k-means), partitioned by lang so every language gets its
    own codebook. Cell count per language = max(IVF_K, floor(sqrt(n)))
    — the faiss nlist rule ``embedding_knn_graph`` already uses: a
    fixed K over a growing corpus makes every cell a quadratic bomb
    (at the 100x smoke, K=16 over 50k vectors/lang = 12.5k-vector
    cells), while sqrt-scaling keeps per-cell work ~sqrt(n). Below
    4096 vectors/lang (every gate corpus) this is exactly IVF_K, so
    gate results are unchanged. The collect behind the caller is
    O(langs * sqrt(n_lang) * dim) — the codebook, which real IVF
    deployments also hold."""
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("cid").cast("string")), F.col("cid")
    )
    wc = Window.partitionBy("lang")
    return (
        v.select(
            "lang",
            F.col("vec_id").alias("cid"),
            F.col("e").alias("ce"),
            F.col("e_norm").alias("cn"),
        )
        .withColumn("crn", F.row_number().over(w))
        .withColumn("n_lang", F.count(F.lit(1)).over(wc))
        .filter(
            F.col("crn")
            <= F.greatest(F.lit(IVF_K), F.floor(F.sqrt(F.col("n_lang"))))
        )
        .groupBy("lang")
        .agg(F.array_sort(F.collect_list(F.struct("cid", "ce", "cn"))).alias("cents"))
    )


def _bitext_margin_argmax(pf: DataFrame) -> DataFrame:
    """Margin + argmax over a (src_id, tgt_id, tgt_lang, cos_u)
    candidate frame: both neighborhood sums are WINDOW aggregates over
    the one scored pair frame — no self-joins, two exchanges total
    (by tgt_id, then by (src_id, tgt_lang))."""
    w_bwd = Window.partitionBy("tgt_id").orderBy(
        F.col("cos_u").desc(), F.col("src_id")
    )
    p_bwd = Window.partitionBy("tgt_id")
    in_b = F.col("rn_b") <= BITEXT_TOP_K
    w_fwd = Window.partitionBy("src_id", "tgt_lang").orderBy(
        F.col("cos_u").desc(), F.col("tgt_id")
    )
    p_fwd = Window.partitionBy("src_id", "tgt_lang")
    in_f = F.col("rn_f") <= BITEXT_TOP_K
    m = (
        pf.withColumn("rn_b", F.row_number().over(w_bwd))
        .withColumn("sum_b", F.sum(F.when(in_b, F.col("cos_u"))).over(p_bwd))
        .withColumn("k_b", F.count(F.when(in_b, F.lit(1))).over(p_bwd))
        .withColumn("rn_f", F.row_number().over(w_fwd))
        .withColumn("sum_f", F.sum(F.when(in_f, F.col("cos_u"))).over(p_fwd))
        .withColumn("k_f", F.count(F.when(in_f, F.lit(1))).over(p_fwd))
        .withColumn(
            "margin_u",
            F.expr(
                "(cos_u * 2 * k_f * k_b * 10000)"
                " div (sum_f * k_b + sum_b * k_f)"
            ),
        )
    )
    w_best = Window.partitionBy("src_id", "tgt_lang").orderBy(
        F.col("margin_u").desc(), F.col("cos_u").desc(), F.col("tgt_id")
    )
    return (
        m.withColumn("rn", F.row_number().over(w_best))
        .filter(
            (F.col("rn") == 1) & (F.col("margin_u") >= BITEXT_MARGIN_MIN_U)
        )
        .select("src_id", "tgt_lang", "tgt_id", "cos_u", "margin_u")
    )


def _bitext_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    langs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    return (
        with_norm(emb.select("vec_id", "embedding"))
        .join(langs, "vec_id")
        .select("vec_id", "lang", "e", "e_norm")
    )


def _bitext_pf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exhaustive candidate frame (every en x non-en pair above
    the cos floor) — broadcast-en crossJoin, NOT registered: at scale
    the en slice blows the broadcast limit and the fallback is a
    cartesian product. Kept solely as the parity reference the
    round-9 tests pin the IVF form against."""
    v = _bitext_v(spark, sf_dir)
    src = v.filter(F.col("lang") == "en").select(
        F.col("vec_id").alias("src_id"),
        F.col("e").alias("se"),
        F.col("e_norm").alias("se_norm"),
    )
    tgt = v.filter(F.col("lang") != "en").select(
        F.col("vec_id").alias("tgt_id"),
        F.col("lang").alias("tgt_lang"),
        F.col("e").alias("te"),
        F.col("e_norm").alias("te_norm"),
    )
    cos_u = F.round(
        cosine_sim_pd("se", "se_norm", "te", "te_norm") * 10000
    ).cast("bigint")
    return (
        tgt.crossJoin(F.broadcast(src))
        .select("src_id", "tgt_id", "tgt_lang", cos_u.alias("cos_u"))
        .filter(F.col("cos_u") >= BITEXT_COS_FLOOR_U)
    )


@register(
    "similarity_bitext_pairs",
    tags=("similarity", "vector", "crosslingual", "llm_pipeline"),
    oracle=f"""
WITH v AS (
    SELECT e.vec_id, d.lang, e.embedding::DOUBLE[] AS emb
    FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
), cent AS (
    -- per-language sqrt-scaled cell count (the faiss nlist rule,
    -- same formula as embedding_knn_graph); = IVF_K at gate scale
    SELECT lang, vec_id AS cent_id, emb AS ce FROM (
        SELECT lang, vec_id, emb, row_number() OVER (
            PARTITION BY lang
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        ) AS crn,
        count(*) OVER (PARTITION BY lang) AS n_lang
        FROM v
    ) WHERE crn <= greatest({IVF_K},
                            CAST(floor(sqrt(n_lang)) AS BIGINT))
), assigned AS (
    SELECT vec_id, lang, cell_id FROM (
        SELECT v.vec_id, v.lang, c.cent_id AS cell_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.emb, c.ce) DESC,
                            c.cent_id
               ) AS arn
        FROM v JOIN cent c ON c.lang = v.lang
    ) WHERE arn = 1
), fprobe AS (
    SELECT src_id, tgt_lang, cell_id FROM (
        SELECT s.vec_id AS src_id, c.lang AS tgt_lang,
               c.cent_id AS cell_id,
               row_number() OVER (
                   PARTITION BY s.vec_id, c.lang
                   ORDER BY list_cosine_similarity(s.emb, c.ce) DESC,
                            c.cent_id
               ) AS prn
        FROM v s JOIN cent c ON c.lang <> 'en'
        WHERE s.lang = 'en'
    ) WHERE prn <= {BITEXT_NPROBE}
), bprobe AS (
    SELECT tgt_id, cell_id FROM (
        SELECT t.vec_id AS tgt_id, c.cent_id AS cell_id,
               row_number() OVER (
                   PARTITION BY t.vec_id
                   ORDER BY list_cosine_similarity(t.emb, c.ce) DESC,
                            c.cent_id
               ) AS prn
        FROM v t JOIN cent c ON c.lang = 'en'
        WHERE t.lang <> 'en'
    ) WHERE prn <= {BITEXT_NPROBE}
), fc AS (
    SELECT f.src_id, a.vec_id AS tgt_id, a.lang AS tgt_lang,
           CAST(round(list_cosine_similarity(s.emb, t.emb) * 10000)
               AS BIGINT) AS cos_u
    FROM fprobe f
    JOIN assigned a ON a.lang = f.tgt_lang AND a.cell_id = f.cell_id
    JOIN v s ON s.vec_id = f.src_id
    JOIN v t ON t.vec_id = a.vec_id
), ftop AS (
    SELECT src_id, tgt_id, tgt_lang, cos_u FROM (
        SELECT fc.*, row_number() OVER (
            PARTITION BY src_id, tgt_lang ORDER BY cos_u DESC, tgt_id
        ) AS rn
        FROM fc WHERE cos_u >= {BITEXT_COS_FLOOR_U}
    ) WHERE rn <= {BITEXT_TOP_K}
), bc AS (
    SELECT a.vec_id AS src_id, b.tgt_id, t.lang AS tgt_lang,
           CAST(round(list_cosine_similarity(s.emb, t.emb) * 10000)
               AS BIGINT) AS cos_u
    FROM bprobe b
    JOIN assigned a ON a.lang = 'en' AND a.cell_id = b.cell_id
    JOIN v s ON s.vec_id = a.vec_id
    JOIN v t ON t.vec_id = b.tgt_id
), btop AS (
    SELECT src_id, tgt_id, tgt_lang, cos_u FROM (
        SELECT bc.*, row_number() OVER (
            PARTITION BY tgt_id ORDER BY cos_u DESC, src_id
        ) AS rn
        FROM bc WHERE cos_u >= {BITEXT_COS_FLOOR_U}
    ) WHERE rn <= {BITEXT_TOP_K}
), pf AS (
    SELECT DISTINCT src_id, tgt_id, tgt_lang, cos_u FROM (
        SELECT * FROM ftop UNION ALL SELECT * FROM btop
    )
), fwd AS (
    SELECT src_id, tgt_lang, cos_u,
           row_number() OVER (
               PARTITION BY src_id, tgt_lang ORDER BY cos_u DESC, tgt_id
           ) AS rn
    FROM pf
), fsum AS (
    SELECT src_id, tgt_lang, CAST(sum(cos_u) AS BIGINT) AS sum_f,
           CAST(count(*) AS BIGINT) AS k_f
    FROM fwd WHERE rn <= {BITEXT_TOP_K} GROUP BY 1, 2
), bwd AS (
    SELECT tgt_id, cos_u,
           row_number() OVER (
               PARTITION BY tgt_id ORDER BY cos_u DESC, src_id
           ) AS rn
    FROM pf
), bsum AS (
    SELECT tgt_id, CAST(sum(cos_u) AS BIGINT) AS sum_b,
           CAST(count(*) AS BIGINT) AS k_b
    FROM bwd WHERE rn <= {BITEXT_TOP_K} GROUP BY 1
), m AS (
    SELECT p.src_id, p.tgt_lang, p.tgt_id, p.cos_u,
           (p.cos_u * 2 * f.k_f * b.k_b * 10000)
               // (f.sum_f * b.k_b + b.sum_b * f.k_f) AS margin_u
    FROM pf p
    JOIN fsum f ON f.src_id = p.src_id AND f.tgt_lang = p.tgt_lang
    JOIN bsum b ON b.tgt_id = p.tgt_id
)
SELECT src_id, tgt_lang, tgt_id, cos_u, margin_u
FROM (
    SELECT m.*, row_number() OVER (
        PARTITION BY src_id, tgt_lang
        ORDER BY margin_u DESC, cos_u DESC, tgt_id
    ) AS rn
    FROM m
)
WHERE rn = 1 AND margin_u >= {BITEXT_MARGIN_MIN_U}
""",
)
def similarity_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix parallel-corpus recipe): for every English
    document, the best candidate translation in each other language,
    scored by the RATIO margin — cosine divided by the average of the
    two directions' top-k neighborhood cosines — which suppresses
    hub vectors that are merely globally central rather than
    specifically parallel (raw cosine thresholds can't). Pairs whose
    margin clears 1.0 are emitted; everything is fixed-point int64
    (cos in 1e-4 units; the margin a single integer floor-division
    with the k_f/k_b counts cross-multiplied in) so both engines
    agree bit-for-bit.

    Scale shape (r9 — this replaced the broadcast-en crossJoin, the
    registry's last scale-killer): mining is blocked BY LANGUAGE PAIR
    through the registered IVF machinery. Each language owns a
    deterministic codebook (``_bitext_lang_centroids`` — the md5
    hash-pick with the sqrt-scaled cell count ``embedding_knn_graph``
    uses, = IVF_K at gate scale); forward, every en vector probes its
    BITEXT_NPROBE nearest cells of EACH target language's index;
    backward, every target vector probes the en index; candidate
    pairs are scored per (lang, cell) in COGROUPED blocks — each
    cell's vectors cross the Arrow boundary once, the block is a
    fold-exact matmul, and only ids + the scored double leave it (a
    pair-level join shipped both vectors per candidate and died at
    the 10x smoke). No BroadcastNestedLoopJoin/cartesian anywhere
    (pinned in tests/test_plans.py); a source vector touches
    nprobe/K of each language's corpus. The margin windows then rank
    the candidate lists exactly as before; gate-scale parity with the exhaustive form is
    pinned quantitatively in tests/test_round9_ops.py against
    ``_bitext_pf_exhaustive`` (pair Jaccard + strong-pair recall —
    see the BITEXT_NPROBE note for why identity needs nprobe = K).
    """
    return _bitext_mine(spark, _bitext_v(spark, sf_dir))


def _bitext_mine(spark: SparkSession, v: DataFrame) -> DataFrame:
    """The miner body over a prepared (vec_id, lang, e, e_norm) frame
    — factored out of :func:`similarity_bitext_pairs` so tests can
    feed synthetic corpora of varying language counts and pin that
    the PLAN does not grow with languages (one multilang Arrow probe
    kernel per side — see ``nearest_cells_multilang``)."""
    import pandas as pd

    from go_integ_spark.functions.vector import fold_cosine_block

    # one row per language — bounded by language cardinality
    crows = {r["lang"]: r for r in _bitext_lang_centroids(v).collect()}
    # Degenerate corpora (no en side, or nothing BUT en) mine nothing;
    # the retired crossJoin form returned empty here too, and the
    # oracle does — crashing on crows['en'] / an empty union would
    # turn an empty match into a gate error.
    if "en" not in crows or len(crows) < 2:
        return spark.createDataFrame(
            [],
            "src_id long, tgt_lang string, tgt_id long, "
            "cos_u long, margin_u long",
        )
    src = v.filter(F.col("lang") == "en").select(
        F.col("vec_id").alias("src_id"),
        F.col("e").alias("se"),
        F.col("e_norm").alias("se_norm"),
    )

    # Per-cell BLOCK scoring via cogroup (the embedding_knn_graph
    # shape), not a row-per-pair join: the pair join shipped BOTH
    # full vectors across the Arrow boundary per candidate pair
    # (~1 KB x pairs — ~115 GB at the 10x smoke, which is where the
    # first registered form of this rewrite died); cogrouping moves
    # each cell's vectors ONCE per block and scores them as a
    # fold-exact blocked matmul, so every s is bit-identical to the
    # pair expression and the DuckDB oracle. Each block emits ONLY
    # its probe rows' block-local top-{BITEXT_TOP_K} above the cos
    # floor: the margin stage consumes per-direction top-k LISTS
    # (the Artetxe-Schwenk formulation), so emitting every
    # above-floor pair — ~540M rows / 30 GB of shuffle at the 100x
    # smoke, where the 0.05 floor cuts almost nothing on clustered
    # data — would feed windows that immediately discard all but 4
    # per group. Block-local top-k then one light global window is
    # the standard exact distributed top-k.
    def _score_block(probe_pdf, member_pdf):
        cols = ["src_id", "tgt_id", "tgt_lang", "cos_u"]
        empty = pd.DataFrame(
            {
                "src_id": pd.Series([], dtype="int64"),
                "tgt_id": pd.Series([], dtype="int64"),
                "tgt_lang": pd.Series([], dtype="object"),
                "cos_u": pd.Series([], dtype="int64"),
            }
        )
        if len(probe_pdf) == 0 or len(member_pdf) == 0:
            return empty
        import numpy as np

        # members sorted by id so a stable argsort on -cos_u yields
        # exactly the (cos_u DESC, id ASC) order of the oracle
        member_pdf = member_pdf.sort_values("mid")
        sim = fold_cosine_block(
            probe_pdf["qe"], probe_pdf["qn"], member_pdf["me"], member_pdf["mn"]
        )
        # HALF_UP fixed-point, same value as the JVM/DuckDB round()
        # (floats this close to a .5 boundary are excluded by the
        # float-gate margin pins)
        cu = np.floor(sim * 10000.0 + 0.5).astype(np.int64)
        cu[sim < 0] = np.int64(-1)  # negatives can't reach the floor
        order = np.argsort(-cu, axis=1, kind="stable")[:, :BITEXT_TOP_K]
        rows = np.arange(len(probe_pdf))[:, None]
        top_cu = cu[rows, order]
        keep = top_cu >= BITEXT_COS_FLOOR_U
        pi, ki = np.nonzero(keep)
        mi = order[pi, ki]
        q_ids = probe_pdf["qid"].to_numpy()[pi]
        m_ids = member_pdf["mid"].to_numpy()[mi]
        # forward blocks: probe side is en (src), member side is the
        # target slice (and carries tgt_lang); backward blocks: probe
        # side is the target, member side is en (no tgt_lang column).
        # tgt_lang is PER ROW of the target side — a backward en-cell
        # block mixes probing targets of every language.
        # the grid helper renames member-side keys with an m_ prefix
        fwd = "m_tgt_lang" in member_pdf.columns
        lang = (
            member_pdf["m_tgt_lang"].to_numpy()[mi]
            if fwd
            else probe_pdf["tgt_lang"].to_numpy()[pi]
        )
        return pd.DataFrame(
            {
                "src_id": q_ids if fwd else m_ids,
                "tgt_id": m_ids if fwd else q_ids,
                "tgt_lang": lang,
                "cos_u": top_cu[pi, ki],
            }
        )[cols]

    out_schema = "src_id long, tgt_id long, tgt_lang string, cos_u long"
    # Forward: en probes each target language's index; ONE cogroup
    # keyed (tgt_lang, cell_id). r10 (VERDICT r9 #3): the per-language
    # branch loop is collapsed — the target-language fan-out is a
    # row-local explode of the bounded language list, and BOTH probe
    # lists come from the single multilang Arrow kernel reading the
    # broadcast codebook map, so plan width is language-count-
    # independent (pinned in tests/test_round10_ops.py).
    tgt_langs = sorted(k for k in crows if k != "en")
    tcrows = {lg: crows[lg] for lg in tgt_langs}
    fwd_probes = (
        src.withColumn(
            "tgt_lang", F.explode(F.array(*[F.lit(lg) for lg in tgt_langs]))
        )
        .select(
            F.col("src_id").alias("qid"),
            F.col("se").alias("qe"),
            F.col("se_norm").alias("qn"),
            "tgt_lang",
            F.explode(
                nearest_cells_multilang(
                    tcrows, BITEXT_NPROBE, "tgt_lang", "se", "se_norm"
                )
            ).alias("cell_id"),
        )
    )
    fwd_members = v.filter(F.col("lang") != "en").select(
        F.col("vec_id").alias("mid"),
        F.col("e").alias("me"),
        F.col("e_norm").alias("mn"),
        F.col("lang").alias("tgt_lang"),
        F.element_at(nearest_cells_multilang(tcrows, 1), 1).alias("cell_id"),
    )
    # 2-D capped grid + cost-binned exchange (the embedding_knn_graph
    # discipline, via the shared helper): per-(lang, cell) block cost
    # is |probe block| x |member block| while shuffled bytes are
    # linear, so neither AQE byte-coalescing nor one-task-per-cell
    # balances a clustered corpus (the r11 100x matrix read 42x
    # max/median on the hot cells under one-task-per-cell). Sub-
    # splitting is result-safe here because both directions take an
    # exact GLOBAL top-k window downstream (w_f / w_b below): any
    # global survivor ranks <= k inside its own sub-block, so the
    # per-block top-k union always contains every global survivor.
    from go_integ_spark.functions.blocks import grid_block_cogroup

    fwd = grid_block_cogroup(
        fwd_probes,
        fwd_members,
        ["tgt_lang", "cell_id"],
        "qid",
        "mid",
        _score_block,
        out_schema,
        KNN_CELL_CAP,
        slot="bitext_fwd",
    )
    # Backward: every target vector probes the en index.
    bwd_probes = v.filter(F.col("lang") != "en").select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("e_norm").alias("qn"),
        F.col("lang").alias("tgt_lang"),
        F.explode(
            nearest_cells_pd(crows["en"], BITEXT_NPROBE)
        ).alias("cell_id"),
    )
    bwd_members = src.select(
        F.col("src_id").alias("mid"),
        F.col("se").alias("me"),
        F.col("se_norm").alias("mn"),
        F.element_at(
            nearest_cells_pd(crows["en"], 1, "se", "se_norm"), 1
        ).alias("cell_id"),
    )
    bwd = grid_block_cogroup(
        bwd_probes,
        bwd_members,
        ["cell_id"],
        "qid",
        "mid",
        _score_block,
        out_schema,
        KNN_CELL_CAP,
        slot="bitext_bwd",
    )
    # Global per-direction top-k over the block survivors (at most
    # BITEXT_TOP_K * nprobe rows per group reach these windows), then
    # the margin domain is the union of both directions' lists.
    # cos_u comes from the same fold kernel + rounding over the same
    # vectors in both directions (per-dim multiply commutes bitwise),
    # so overlapping candidates are byte-identical rows and
    # .distinct() is exact dedup.
    w_f = Window.partitionBy("src_id", "tgt_lang").orderBy(
        F.col("cos_u").desc(), F.col("tgt_id")
    )
    ftop = (
        fwd.withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= BITEXT_TOP_K)
        .drop("rn")
    )
    w_b = Window.partitionBy("tgt_id").orderBy(
        F.col("cos_u").desc(), F.col("src_id")
    )
    btop = (
        bwd.withColumn("rn", F.row_number().over(w_b))
        .filter(F.col("rn") <= BITEXT_TOP_K)
        .drop("rn")
    )
    return _bitext_margin_argmax(ftop.unionByName(btop).distinct())


# Scalar quantization (the SQ8 codec of FAISS/Milvus-style stores):
# one byte per dimension, per-dimension [min, max] trained on the
# corpus. 256 levels; reconstruction at bin centers.
SQ_LEVELS = 256
# squared-error fixed-point scale (nano-units): floor() so a shared
# double can never straddle a rounding tie.
SQ_ERR_SCALE = 1_000_000_000


def _sq_oracle() -> str:
    return f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), comp AS (
    SELECT vec_id, t.i - 1 AS dim, e[t.i] AS x
    FROM v, unnest(generate_series(1, len(e))) AS t(i)
), stats AS (
    SELECT dim, min(x) AS mn, max(x) AS mx FROM comp GROUP BY dim
), coded AS (
    SELECT c.vec_id, c.dim, c.x, s.mn, s.mx,
           CAST(CASE WHEN s.mx = s.mn THEN 0.0
                ELSE least(floor((c.x - s.mn) * {SQ_LEVELS}.0
                                 / (s.mx - s.mn)),
                           {SQ_LEVELS - 1}.0)
                END AS BIGINT) AS code
    FROM comp c JOIN stats s USING (dim)
), err AS (
    SELECT vec_id, dim, code,
           CAST(floor(
               ((x_hat - x) * (x_hat - x)) * {SQ_ERR_SCALE}.0
           ) AS BIGINT) AS e_u
    FROM (
        SELECT *, mn + (CAST(code AS DOUBLE) + 0.5) * (mx - mn) / {SQ_LEVELS}.0
                      AS x_hat
        FROM coded
    )
)
SELECT vec_id,
       string_agg(CAST(code AS VARCHAR), ',' ORDER BY dim) AS code_csv,
       CAST(sum(e_u) AS BIGINT) AS sq_err_u
FROM err
GROUP BY vec_id
"""


@register(
    "similarity_sq_encode",
    tags=("similarity", "quantization", "vector", "llm_pipeline"),
    oracle=_sq_oracle(),
)
def similarity_sq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar quantization (SQ8): compress every embedding to one
    byte per dimension using per-dimension corpus [min, max] — the
    4x memory cut vector stores apply before PQ is worth its
    training cost. Emits the code vector (CSV, dim order) and the
    reconstruction SSE in integer nano-units; the typed array form
    for downstream use is ``sq_code_vectors``.

    Scale shape: the trained state is 2 doubles per dimension — ONE
    map-side-combined aggregation to |dim| rows, broadcast back; the
    encode itself is then a row-local projection (no second corpus
    exchange: codes and error are computed per row against the
    broadcast stats and never shuffled — the final per-vector shape
    is produced by a dim-ordered in-row transform, not a group-by).
    floor() quantization with a top-bin clamp makes every code an
    exact integer decision on both engines, and the SSE is summed in
    int64 nano-units in FIXED dim order, so the output is
    bit-identical everywhere.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    stats = comp.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    # Row-local encode: join the |dim|-row stats broadcast, compute
    # code + error per component, then reassemble per vector. The
    # group-by carries only (dim, code, e_u) ints.
    # a corpus-constant dimension (mx == mn) would divide 0/0 -> NaN
    # and lean on NaN-is-greatest ordering in least(); pin code 0
    # (zero width -> zero reconstruction error) explicitly instead
    code = (
        F.when(F.col("mx") == F.col("mn"), F.lit(0.0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("x") - F.col("mn")) * F.lit(float(SQ_LEVELS))
                    / (F.col("mx") - F.col("mn"))
                ),
                F.lit(float(SQ_LEVELS - 1)),
            )
        )
        .cast("bigint")
    )
    coded = comp.join(F.broadcast(stats), "dim").withColumn("code", code)
    x_hat = (
        F.col("mn")
        + (F.col("code").cast("double") + F.lit(0.5))
        * (F.col("mx") - F.col("mn"))
        / F.lit(float(SQ_LEVELS))
    )
    err = coded.withColumn(
        "e_u",
        F.floor(
            ((x_hat - F.col("x")) * (x_hat - F.col("x")))
            * F.lit(float(SQ_ERR_SCALE))
        ).cast("bigint"),
    )
    return (
        err.groupBy("vec_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "code"))
                    ),
                    lambda s: s["code"].cast("string"),
                ),
            ).alias("code_csv"),
            F.sum("e_u").alias("sq_err_u"),
        )
    )


def sq_code_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-array form of ``similarity_sq_encode`` (vec_id,
    codes array<int>) for downstream distance kernels; the gate
    query serializes to CSV because the driver canonicalizer cannot
    sort array cells."""
    out = similarity_sq_encode(spark, sf_dir)
    return out.select(
        "vec_id",
        F.transform(F.split("code_csv", ","), lambda s: s.cast("int")).alias(
            "codes"
        ),
    )


# The DuckDB twin of ann_ivf_topk's probe stage, the head of
# _ndcg_oracle: centroids, cell assignment, and the IVF_NPROBE cells
# each of the N_QUERIES queries probes (CTEs v, cent, assigned,
# probes, q).
_IVF_PROBE_PREFIX = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
    SELECT vec_id AS cent_id, e AS ce FROM v
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {IVF_K}
), assigned AS (
    SELECT vec_id, e, cent_id AS cell_id FROM (
        SELECT v.vec_id, v.e, c.cent_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cent_id
               ) AS arn
        FROM v CROSS JOIN cent c
    ) WHERE arn = 1
), probes AS (
    SELECT query_id, cell_id FROM (
        SELECT a.vec_id AS query_id, c.cent_id AS cell_id,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_cosine_similarity(a.e, c.ce) DESC, c.cent_id
               ) AS prn
        FROM assigned a CROSS JOIN cent c
        WHERE a.vec_id < {N_QUERIES}
    ) WHERE prn <= {IVF_NPROBE}
), q AS (
    SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERIES}
)"""


# Matryoshka (MRL) truncation depths evaluated against the full-dim
# truth. Cross-engine rank-margin pins for these slices live in
# tests/test_round8_ops.py, the same pin class as
# tests/test_float_margins.py (measured min adjacent top-k gap 1.4e-5
# at 32 dims / 8.0e-5 at 16, >>1 ulp).
MRL_EVAL_DIMS = (32, 16)


def _matryoshka_oracle() -> str:
    def topk_cte(name: str, expr: str) -> str:
        return f"""{name} AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity({expr.format(s='q.e')},
                                                   {expr.format(s='c.e')}) DESC,
                            c.vec_id
               ) AS rn
        FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    ) WHERE rn <= {TOP_K}
)"""

    ctes = ["""v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
)"""]
    ctes.append(topk_cte("truth", "{s}"))
    selects = []
    for d in MRL_EVAL_DIMS:
        ctes.append(topk_cte(f"mrl{d}", "{s}" + f"[1:{d}]"))
        selects.append(f"""
SELECT a.query_id, CAST({d} AS INT) AS dims,
       CAST(count(t.neighbor_id) AS BIGINT) AS hits,
       CAST((count(t.neighbor_id) * 10000) // {TOP_K} AS BIGINT) AS recall_bp
FROM mrl{d} a
LEFT JOIN truth t
  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
GROUP BY a.query_id""")
    return "WITH " + ",\n".join(ctes) + "\nUNION ALL".join(selects)


@register(
    "similarity_matryoshka_recall",
    tags=("similarity", "evaluation", "vector", "llm_pipeline"),
    oracle=_matryoshka_oracle(),
)
def similarity_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation evaluation: recall@k of retrieval on
    PREFIX-truncated embeddings (MRL-style 32- and 16-dim heads)
    against the full-dimension brute-force truth — the dial that says
    how much index cost a corpus can shed (shorter vectors = smaller
    index + faster scoring) before retrieval quality drops. Kusupati
    et al.'s Matryoshka Representation Learning made prefix heads the
    standard truncation scheme; absent from the reference (no vector
    ops), part of the beyond-reference LLM-pipeline layer.

    Sweep discipline (the probe-curve/threshold-sweep rule): ONE
    corpus scan scores every pair at ALL depths — the truncated
    vectors are row-local slices of the already-cast double vector,
    each depth is one more Arrow fold kernel over the same joined
    frame, and every per-depth top-k is a rank filter on that single
    scored frame. recall_bp is exact integer basis points.

    Scale shape: identical to the brute-force baseline it extends
    (broadcast bounded query set, corpus streamed once, bounded
    salted top-k reductions); at deployment scale the full-dim truth
    arm is the sampled-query calibration set, never the corpus.
    """
    from go_integ_spark.functions.vector import norm

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = with_norm(emb)
    for d in MRL_EVAL_DIMS:
        sliced = F.slice(F.col("e"), 1, d)
        v = v.withColumn(f"e{d}", sliced).withColumn(f"e{d}_norm", norm(sliced))
    side_cols = ["e", "e_norm"] + [
        c for d in MRL_EVAL_DIMS for c in (f"e{d}", f"e{d}_norm")
    ]
    corpus = v.select(F.col("vec_id").alias("neighbor_id"), *side_cols)
    queries = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(c).alias(f"q_{c}") for c in side_cols],
    )
    scored_base = corpus.join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        cosine_sim_pd("q_e", "q_e_norm", "e", "e_norm").alias("s_full"),
        *[
            cosine_sim_pd(
                f"q_e{d}", f"q_e{d}_norm", f"e{d}", f"e{d}_norm"
            ).alias(f"s{d}")
            for d in MRL_EVAL_DIMS
        ],
    )
    # 1 + |MRL_EVAL_DIMS| top-k consumers read this frame; without a
    # persisted handle Catalyst re-executes the scan + fold kernels
    # per consumer (4 BroadcastNestedLoopJoins observed). The frame is
    # |queries| x corpus score rows — at deployment scale the query
    # set is the sampled calibration set, so the cache stays bounded.
    from go_integ_spark.functions.cache import cached_persist

    scored = cached_persist("mrl_scored", scored_base, lambda: scored_base)
    truth = salted_topk(
        scored.select("query_id", "neighbor_id", F.col("s_full").alias("s")),
        "query_id",
        [F.col("s").desc(), F.col("neighbor_id")],
        TOP_K,
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    out = None
    for d in MRL_EVAL_DIMS:
        approx = salted_topk(
            scored.select("query_id", "neighbor_id", F.col(f"s{d}").alias("s")),
            "query_id",
            [F.col("s").desc(), F.col("neighbor_id")],
            TOP_K,
        ).select("query_id", "neighbor_id")
        rec = (
            approx.join(truth, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("hits"),
                F.expr(
                    f"cast(sum(coalesce(hit, 0)) * 10000 div {TOP_K} as bigint)"
                ).alias("recall_bp"),
            )
            .select(
                "query_id", F.lit(d).cast("int").alias("dims"), "hits", "recall_bp"
            )
        )
        out = rec if out is None else out.unionByName(rec)
    return out


# The nprobe sweep: recall@k at each probe depth, all taken from ONE
# cell enumeration (the dedup_threshold_sweep discipline — a sweep
# must not re-run its expensive stage per point).
IVF_PROBE_CURVE = (1, 2, 4, 8)


@register(
    "similarity_ivf_probe_recall",
    tags=("similarity", "ivf", "diagnostics"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
    SELECT vec_id AS cent_id, e AS ce FROM v
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {IVF_K}
), assigned AS (
    SELECT vec_id, e, cent_id AS cell_id FROM (
        SELECT v.vec_id, v.e, c.cent_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cent_id
               ) AS arn
        FROM v CROSS JOIN cent c
    ) WHERE arn = 1
), probes AS (
    SELECT query_id, cell_id, prn FROM (
        SELECT a.vec_id AS query_id, c.cent_id AS cell_id,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_cosine_similarity(a.e, c.ce) DESC, c.cent_id
               ) AS prn
        FROM assigned a CROSS JOIN cent c
        WHERE a.vec_id < {N_QUERIES}
    ) WHERE prn <= {max(IVF_PROBE_CURVE)}
), q AS (
    SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {N_QUERIES}
), np(nprobe) AS (
    VALUES {", ".join(f"({p})" for p in IVF_PROBE_CURVE)}
), scored AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           list_cosine_similarity(q.qe, a.e) AS s, p.prn
    FROM probes p
    JOIN assigned a ON a.cell_id = p.cell_id
    JOIN q ON q.query_id = p.query_id
    WHERE a.vec_id <> p.query_id
), curve AS (
    SELECT n.nprobe, s.query_id, s.neighbor_id,
           row_number() OVER (
               PARTITION BY n.nprobe, s.query_id
               ORDER BY s.s DESC, s.neighbor_id) AS rn
    FROM scored s JOIN np n ON s.prn <= n.nprobe
), ivf_k AS (
    SELECT nprobe, query_id, neighbor_id FROM curve WHERE rn <= {TOP_K}
), bf_k AS (
    SELECT query_id, neighbor_id FROM (
        SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY qq.vec_id
                   ORDER BY list_cosine_similarity(qq.e, c.e) DESC, c.vec_id
               ) AS rn
        FROM v qq JOIN v c ON qq.vec_id < {N_QUERIES} AND c.vec_id <> qq.vec_id
    ) WHERE rn <= {TOP_K}
)
SELECT CAST(i.nprobe AS INTEGER) AS nprobe, i.query_id,
       CAST(count(b.neighbor_id) AS BIGINT) AS hits,
       CAST(count(b.neighbor_id) * 10000 // {TOP_K} AS BIGINT) AS recall_bp
FROM ivf_k i
LEFT JOIN bf_k b
  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
GROUP BY i.nprobe, i.query_id
""",
)
def similarity_ivf_probe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe/recall trade-off curve — recall@k of the IVF index
    at probe depths 1/2/4/8 against the exact brute-force truth, per
    query. This is THE tuning artifact an ANN deployment reads before
    fixing nprobe (latency grows ~linearly in probes, recall
    saturates). The nprobe = IVF_NPROBE rows are the recall@k of the
    registered ``ann_ivf_topk`` operating point; the other rows
    measure the rest of the dial. recall_bp is hits per query in
    integer basis points of TOP_K (exact int division,
    engine-identical).

    Scale shape: ONE cell enumeration feeds every curve point — the
    corpus is scored once against the max(IVF_PROBE_CURVE)-cell probe
    set with each candidate carrying its cell's probe rank, and the
    per-nprobe top-k is a rank filter over that single scored frame
    (the dedup_threshold_sweep discipline: a sweep never re-runs its
    expensive stage per point). The per-(query, nprobe) top-k windows
    run over |queries| x |probed cells| bounded candidate sets — a
    plain window, no salting needed, documented against
    ``salted_topk``'s skew rationale because the partition count here
    is |queries| x |curve| with <= corpus/K rows each. Truth is the
    registered brute-force pipeline reused verbatim.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = with_norm(emb)
    (crow,) = ivf_centroids(v).collect()
    assigned = v.withColumn(
        "cell_id", F.element_at(nearest_cells_pd(crow, 1), 1)
    ).select("vec_id", "e", "e_norm", "cell_id")
    max_p = max(IVF_PROBE_CURVE)
    probes = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("e_norm").alias("qe_norm"),
        F.posexplode(nearest_cells_pd(crow, max_p)).alias("pidx", "cell_id"),
    )
    sim = cosine_sim_pd("qe", "qe_norm", "e", "e_norm")
    scored = (
        assigned.join(F.broadcast(probes), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("s", sim)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "s",
            (F.col("pidx") + 1).alias("prn"),
        )
    )
    curve = scored.withColumn(
        "nprobe", F.explode(F.array(*[F.lit(p) for p in IVF_PROBE_CURVE]))
    ).filter(F.col("prn") <= F.col("nprobe"))
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("s").desc(), "neighbor_id"
    )
    topk = curve.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= TOP_K
    )
    truth = ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    joined = topk.join(truth, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("nprobe", "query_id").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("hits"),
        F.expr(
            f"cast(sum(coalesce(hit, 0)) * 10000 div {TOP_K} as bigint)"
        ).alias("recall_bp"),
    )


# --- Hybrid retrieval: reciprocal rank fusion (lexical + dense) ------
#
# Production RAG retrieval is almost never one ranker: a lexical list
# (BM25/Jaccard) and a dense list (embedding cosine) are fused, and
# reciprocal rank fusion (Cormack et al., SIGIR 2009) is the standard
# score-free fusion — each list contributes 1/(k + rank), k=60. The
# reference repo has no retrieval layer; this composes the repo's own
# lexical and dense halves (SURVEY.md beyond-reference scope).
#
# Fixed-point contract: ranks are integers, so the fused score can be
# EXACT — each contribution is RRF_SCALE div (RRF_K + rank) in int64
# micro-units, making the full value oracle bit-checkable (the same
# discipline as the PQ/kmeans/PageRank fixed-point paths).

RRF_DEPTH = 20  # per-ranker candidate depth feeding the fusion
RRF_K = 60  # the standard RRF smoothing constant
RRF_SCALE = 1_000_000  # integer micro-units: 1e6 div (k + rank)

_RRF_ORACLE = f"""
WITH ws AS (
    SELECT DISTINCT doc_id, wd FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS wd
        FROM documents WHERE length(text) > 0
    ) WHERE wd <> ''
), sz AS (
    SELECT doc_id, count(*) AS n FROM ws GROUP BY doc_id
), inter AS (
    SELECT q.doc_id AS query_id, c.doc_id AS doc_id, count(*) AS c
    FROM ws q JOIN ws c ON q.wd = c.wd
    WHERE q.doc_id < {N_QUERIES} AND c.doc_id <> q.doc_id
    GROUP BY 1, 2
), lex AS (
    SELECT query_id, doc_id, CAST(rn AS INT) AS lex_rank
    FROM (
        SELECT query_id, doc_id, row_number() OVER (
            PARTITION BY query_id ORDER BY jacc_bp DESC, doc_id) AS rn
        FROM (
            SELECT i.query_id, i.doc_id,
                   (i.c * 10000) // (sq.n + sc.n - i.c) AS jacc_bp
            FROM inter i
            JOIN sz sq ON sq.doc_id = i.query_id
            JOIN sz sc ON sc.doc_id = i.doc_id
        )
    ) WHERE rn <= {RRF_DEPTH}
), v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), dense AS (
    SELECT query_id, doc_id, CAST(rn AS INT) AS dense_rank
    FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id, row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.vec_id) AS rn
        FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    ) WHERE rn <= {RRF_DEPTH}
), fused AS (
    SELECT coalesce(l.query_id, d.query_id) AS query_id,
           coalesce(l.doc_id, d.doc_id) AS doc_id,
           l.lex_rank, d.dense_rank,
           CAST(coalesce({RRF_SCALE} // ({RRF_K} + l.lex_rank), 0)
              + coalesce({RRF_SCALE} // ({RRF_K} + d.dense_rank), 0)
              AS BIGINT) AS rrf_micro
    FROM lex l FULL OUTER JOIN dense d
      ON l.query_id = d.query_id AND l.doc_id = d.doc_id
)
SELECT query_id, doc_id, rrf_micro, lex_rank, dense_rank,
       CAST(rn AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id) AS rn
    FROM fused
) WHERE rn <= {TOP_K}
"""


@register(
    "similarity_hybrid_rrf",
    tags=("similarity", "retrieval", "llm_pipeline"),
    oracle=_RRF_ORACLE,
)
def similarity_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid top-k retrieval: fuse a lexical word-Jaccard ranking and
    a dense cosine ranking with reciprocal rank fusion, RRF_DEPTH deep
    per ranker, final top-TOP_K per query. Queries are the repo's
    standard demo set (``vec_id == doc_id`` convention, id <
    N_QUERIES).

    Scale shape: both rankers are broadcast-query/stream-corpus — the
    5-row query set (word arrays on the lexical side, vectors on the
    dense side) rides into every task; per-candidate scoring is
    map-side JVM work (``array_intersect`` over distinct word arrays;
    the fold-exact cosine kernel), and each ranker reduces through
    ``salted_topk`` so no task ever holds a corpus-scale group. The
    fusion join then runs on two DEPTH*|queries|-row frames —
    constant-size regardless of corpus — and every fused score is
    exact int64 arithmetic on ranks, which is what keeps the full
    value oracle. Lexical candidates are hit-filtered (at least one
    shared word) before ranking, so the per-query stream is the
    posting-list union, not the corpus.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.array_distinct(
                F.filter(F.split("text", " "), lambda x: x != F.lit(""))
            ).alias("w"),
        )
        .withColumn("n", F.size("w").cast("bigint"))
    )
    q = docs.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        F.col("w").alias("qw"),
        F.col("n").alias("qn"),
    )
    inter = (
        docs.join(F.broadcast(q), F.col("doc_id") != F.col("query_id"))
        .withColumn(
            "c", F.size(F.array_intersect("w", "qw")).cast("bigint")
        )
        .filter(F.col("c") > 0)
        .select(
            "query_id",
            "doc_id",
            F.expr("cast(c * 10000 div (qn + n - c) as bigint)").alias(
                "jacc_bp"
            ),
        )
    )
    lex = salted_topk(
        inter, "query_id", [F.col("jacc_bp").desc(), F.col("doc_id")], RRF_DEPTH
    ).select("query_id", "doc_id", F.col("rn").cast("int").alias("lex_rank"))

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dense = salted_topk(
        bruteforce_scored(with_norm(emb)),
        "query_id",
        [F.col("s").desc(), F.col("neighbor_id")],
        RRF_DEPTH,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rn").cast("int").alias("dense_rank"),
    )
    fused = (
        lex.join(dense, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf_micro",
            F.expr(
                f"cast(coalesce({RRF_SCALE} div ({RRF_K} + lex_rank), 0)"
                f" + coalesce({RRF_SCALE} div ({RRF_K} + dense_rank), 0)"
                " as bigint)"
            ),
        )
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "doc_id",
            "rrf_micro",
            "lex_rank",
            "dense_rank",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# --- nDCG@k: graded ranking quality of the IVF index -----------------
#
# recall@k says WHETHER the true neighbors were found; nDCG@k says
# WHERE they landed — the standard graded metric (Jarvelin &
# Kekalainen 2002) every retrieval eval reports next to recall. The
# discount weights 1/log2(rank+1) are irrational, so they are
# precomputed ONCE driver-side as integer micro-units and inlined as
# identical literals into both the Spark expression and the DuckDB
# oracle — the fusion/fixed-point discipline again: no float crosses
# an engine boundary, and the metric carries a full value oracle.

import math as _math

NDCG_SCALE = 1_000_000
_NDCG_W = [round(NDCG_SCALE / _math.log2(i + 1)) for i in range(1, TOP_K + 1)]
_NDCG_IDCG = sum(_NDCG_W)  # ideal DCG: every position a hit


def _ndcg_oracle() -> str:
    w_list = ", ".join(str(w) for w in _NDCG_W)
    return f"""{_IVF_PROBE_PREFIX}, ivf_k AS (
    SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY list_cosine_similarity(q.qe, a.e) DESC, a.vec_id
               ) AS rn
        FROM probes p
        JOIN assigned a ON a.cell_id = p.cell_id
        JOIN q ON q.query_id = p.query_id
        WHERE a.vec_id <> p.query_id
    ) WHERE rn <= {TOP_K}
), bf_k AS (
    SELECT query_id, neighbor_id FROM (
        SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY qq.vec_id
                   ORDER BY list_cosine_similarity(qq.e, c.e) DESC, c.vec_id
               ) AS rn
        FROM v qq JOIN v c ON qq.vec_id < {N_QUERIES} AND c.vec_id <> qq.vec_id
    ) WHERE rn <= {TOP_K}
)
SELECT i.query_id,
       CAST(count(b.neighbor_id) AS BIGINT) AS hits,
       CAST(sum(CASE WHEN b.neighbor_id IS NOT NULL
                     THEN [{w_list}][i.rank] ELSE 0 END) AS BIGINT)
           AS dcg_micro,
       CAST((sum(CASE WHEN b.neighbor_id IS NOT NULL
                      THEN [{w_list}][i.rank] ELSE 0 END) * 10000)
            // {_NDCG_IDCG} AS BIGINT) AS ndcg_bp
FROM ivf_k i
LEFT JOIN bf_k b
  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
GROUP BY i.query_id
"""


@register(
    "similarity_ndcg_eval",
    tags=("similarity", "evaluation", "vector", "llm_pipeline"),
    oracle=_ndcg_oracle(),
)
def similarity_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@k of the IVF index against the exact brute-force ground
    truth — the position-sensitive companion to the recall@k of
    ``similarity_ivf_probe_recall`` at nprobe = IVF_NPROBE: a hit at
    rank 1 is worth the full discount weight, a hit at rank k only
    w_k, so an index that finds the right neighbors but shuffles
    their order scores below one that preserves it. Binary relevance
    (membership in the true top-k); dcg_micro is the discounted sum
    in micro-units, ndcg_bp normalizes by the ideal DCG in basis
    points.

    Scale shape: both arms are the registered pipelines reused
    verbatim; the metric join touches |queries| x k id rows, and the
    rank→weight mapping is an inlined k-element array lookup (pure
    map-side codegen).
    """
    wlit = F.array(*[F.lit(w) for w in _NDCG_W])
    truth = ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = ann_ivf_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    hit = approx.join(
        truth.withColumn("hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    ).withColumn(
        "w",
        F.when(F.col("hit").isNotNull(), F.element_at(wlit, F.col("rank")))
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    return hit.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("hits"),
        F.sum("w").cast("bigint").alias("dcg_micro"),
        F.expr(f"cast(sum(w) * 10000 div {_NDCG_IDCG} as bigint)").alias(
            "ndcg_bp"
        ),
    )


# --- Cluster purity: unsupervised clusters vs gold labels ------------
#
# The standard external clustering eval: assign every vector to its
# k-means cluster, then score each cluster by the share of its
# majority gold label. Purity is what tells you whether the cells a
# curation pipeline samples/caps by actually correspond to semantic
# groups. Reuses the fixed-point Lloyd loop bit-for-bit (same
# quantize, same iterate count), so the statically-unrolled oracle
# extends with one label join and stays value-exact; purity itself is
# an integer ratio in basis points.


def _cluster_purity_oracle() -> str:
    km = _kmeans_oracle()
    prefix = km[: km.rfind("\nSELECT cid,")]
    return f"""{prefix}
, lab AS (
    SELECT a.cid, e.label, count(*) AS n
    FROM a{KMEANS_ITERS} a JOIN embeddings e ON e.vec_id = a.vec_id
    GROUP BY 1, 2
), tot AS (
    SELECT cid, sum(n) AS nv FROM lab GROUP BY cid
), maj AS (
    SELECT cid, label, n FROM (
        SELECT *, row_number() OVER (
            PARTITION BY cid ORDER BY n DESC, label) AS rn
        FROM lab
    ) WHERE rn = 1
)
SELECT t.cid,
       CAST(t.nv AS BIGINT) AS n_vectors,
       CAST(m.label AS INT) AS majority_label,
       CAST(m.n AS BIGINT) AS n_majority,
       CAST((m.n * 10000) // t.nv AS BIGINT) AS purity_bp
FROM tot t JOIN maj m ON m.cid = t.cid
"""


@register(
    "similarity_cluster_purity",
    tags=("similarity", "clustering", "evaluation", "llm_pipeline"),
    oracle=_cluster_purity_oracle(),
)
def similarity_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster purity of the fixed-point k-means assignment
    against the gold label column: cluster size, majority label
    (ties to the lowest label id), majority count, and purity in
    basis points.

    Scale shape: the Lloyd loop is the registered one (broadcast
    centroid literals, row-local Arrow assign, dimension-parallel
    update); the eval adds one id-scale label join and then reduces
    through a SINGLE aggregation over the (cid, label) cells —
    ``max(struct(n, -label))`` picks the majority with the lowest-
    label tie-break in the same pass that sums cluster sizes, so the
    corpus-scale assign pipeline is evaluated exactly once (the
    window+self-join formulation re-derived it per consumer).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    qv = _kmeans_u_quantize(emb.select("vec_id", "embedding"))
    centroids = first_k_centroids_u(qv, KMEANS_K)
    for _ in range(KMEANS_ITERS):
        assigned = kmeans_assign_u(qv, centroids)
        centroids = kmeans_update_u(assigned)
    final = kmeans_assign_u(qv, centroids)
    cell = (
        final.select("vec_id", "cid")
        .join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cid", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg = cell.groupBy("cid").agg(
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.max(
            F.struct(
                F.col("n").alias("n"),
                (-F.col("label")).cast("long").alias("neg_label"),
            )
        ).alias("mx"),
    )
    return agg.select(
        "cid",
        "n_vectors",
        (-F.col("mx.neg_label")).cast("int").alias("majority_label"),
        F.col("mx.n").cast("bigint").alias("n_majority"),
        F.expr("cast(mx.n * 10000 div n_vectors as bigint)").alias(
            "purity_bp"
        ),
    )


# --- IVF index health --------------------------------------------------


@register(
    "similarity_ivf_cell_balance",
    tags=("similarity", "ivf", "diagnostics"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
    SELECT vec_id AS cent_id, e AS ce FROM v
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {IVF_K}
), assigned AS (
    SELECT vec_id, cent_id AS cell_id FROM (
        SELECT v.vec_id, c.cent_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cent_id
               ) AS arn
        FROM v CROSS JOIN cent c
    ) WHERE arn = 1
), sizes AS (
    SELECT cell_id, CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY 1
)
SELECT CAST(sum(n) AS BIGINT) AS n_vectors,
       CAST({IVF_K} AS BIGINT) AS n_cells_total,
       CAST(count(*) AS BIGINT) AS n_cells_used,
       CAST({IVF_K} - count(*) AS BIGINT) AS n_cells_empty,
       CAST(min(n) AS BIGINT) AS min_cell,
       round(quantile_cont(n, 0.5), 4) AS p50_cell,
       CAST(max(n) AS BIGINT) AS max_cell,
       CAST(max(n) * {IVF_K} * 10000 // sum(n) AS BIGINT) AS imbalance_bp
FROM sizes
""",
)
def similarity_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index health: the cell-size distribution of the
    ``ann_ivf_topk`` index — vectors, used/empty cells, min/median/max
    cell population, and the imbalance factor (largest cell vs the
    perfectly-balanced share, exact basis points; 10000 = balanced).
    This is the measurement that decides nprobe and retraining: probe
    latency is bounded by the LARGEST probed cell, so an index whose
    imbalance drifts up serves slower at the same recall, and the fix
    (re-train centroids, split hot cells) is an offline maintenance
    job this report triggers. Composes the registered index's exact
    assignment (same centroid rule, same argmax tie-break), so the
    report can never drift from the index it describes.

    Scale shape: assignment is the row-local Arrow argmax against the
    broadcast centroid set (no join, no explosion); sizes are one
    map-side-combined count on cell_id (<= IVF_K rows move), and the
    summary is a single-row aggregate over that bounded table.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = with_norm(emb)
    (crow,) = ivf_centroids(v).collect()
    assigned = v.withColumn(
        "cell_id", F.element_at(nearest_cells_pd(crow, 1), 1)
    )
    sizes = assigned.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return sizes.agg(
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.lit(IVF_K).cast("bigint").alias("n_cells_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells_used"),
        (F.lit(IVF_K) - F.count(F.lit(1))).cast("bigint").alias("n_cells_empty"),
        F.min("n").cast("bigint").alias("min_cell"),
        F.round(F.percentile("n", F.lit(0.5)), 4).alias("p50_cell"),
        F.max("n").cast("bigint").alias("max_cell"),
        F.expr(f"cast(max(n) * {IVF_K} * 10000 div sum(n) as bigint)").alias(
            "imbalance_bp"
        ),
    )


# --- per-dimension embedding profile ------------------------------------

# Fixed-point offset covering |x| <= 2 (corpus coordinates are within
# [-0.6, 0.6]; a health-gated pipeline asserts the range first —
# embedding_health flags non-finite and zero-norm rows).
DIM_OFFSET_U = 2_000_000
DIM_DEAD_M2_U = 1_000_000  # mean energy below (rms ~1e-3)^2*1e12
DIM_DOMINANT_X = 4  # dominant = > 4x the mean dimension energy


@register(
    "embedding_dim_profile",
    tags=("embedding", "diagnostics"),
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), x AS (
    SELECT t.i - 1 AS dim,
           CAST(floor(e[t.i] * 1000000) AS BIGINT) AS xu
    FROM v, unnest(generate_series(1, len(e))) AS t(i)
), d AS (
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(xu + {DIM_OFFSET_U}) // count(*) - {DIM_OFFSET_U} AS BIGINT)
               AS mean_u,
           CAST(sum(xu * xu) // count(*) AS BIGINT) AS m2_u
    FROM x GROUP BY dim
), tot AS (
    SELECT CAST(sum(m2_u) // count(*) AS BIGINT) AS avg_m2 FROM d
)
SELECT CAST(d.dim AS INTEGER) AS dim, d.n_vecs, d.mean_u, d.m2_u,
       d.m2_u < {DIM_DEAD_M2_U} AS dead,
       d.m2_u > {DIM_DOMINANT_X} * t.avg_m2 AS dominant
FROM d CROSS JOIN tot t
""",
)
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile: exact fixed-point mean and
    energy (second moment) for every coordinate, with dead-dimension
    and dominant-dimension flags — the encoder-health check run
    before building any index: dead dims waste index bytes and
    distance compute (prune them or retrain), a dominant dim means a
    normalization bug upstream that will swamp every cosine. Pairs
    with embedding_health (row-level gates) as the column-level gate.

    Exactness: coordinates quantize ONCE to int64 micro-units (the
    float->double widening and the 1e6 product are exactly rounded,
    floor is exact); the mean offsets by +{DIM_OFFSET_U} so the
    operand stays non-negative and Spark's truncating ``div`` equals
    DuckDB's ``//``; energies are already non-negative. int64
    envelope: sum(xu^2) < 4e12 per row-dim pair — fine to ~2e6
    vectors per aggregation; past that the two sums switch to
    decimal(38,0) on both engines.

    Scale shape: posexplode + ONE map-side-combined aggregation whose
    shuffle carries (dim, two int64 partials) — at most |dims| rows
    move; the cross-dimension average rides a 1-row broadcast over
    the |dims|-row frame.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    x = emb.select(F.posexplode("embedding").alias("dim", "xf")).select(
        "dim",
        F.expr("cast(floor(cast(xf as double) * 1000000) as bigint)").alias("xu"),
    )
    d = x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.expr(
            f"cast(sum(xu + {DIM_OFFSET_U}) div count(1)"
            f" - {DIM_OFFSET_U} as bigint)"
        ).alias("mean_u"),
        F.expr("cast(sum(xu * xu) div count(1) as bigint)").alias("m2_u"),
    )
    tot = d.agg(
        F.expr("cast(sum(m2_u) div count(1) as bigint)").alias("avg_m2")
    )
    return d.crossJoin(F.broadcast(tot)).select(
        "dim",
        "n_vecs",
        "mean_u",
        "m2_u",
        (F.col("m2_u") < DIM_DEAD_M2_U).alias("dead"),
        (F.col("m2_u") > DIM_DOMINANT_X * F.col("avg_m2")).alias("dominant"),
    )


# --- PQ serving agreement -----------------------------------------------


def _pq_agreement_oracle() -> str:
    from go_integ_spark.registry import REGISTRY

    pq = REGISTRY["similarity_pq_search"].oracle
    bf = REGISTRY["ann_bruteforce_topk"].oracle
    return f"""
WITH pq AS ({pq}), bf AS ({bf})
SELECT pq.query_id,
       CAST(count(bf.neighbor_id) AS BIGINT) AS hits,
       CAST(count(bf.neighbor_id) * 10000 // {TOP_K} AS BIGINT)
           AS agreement_bp
FROM pq
LEFT JOIN bf
  ON bf.query_id = pq.query_id AND bf.neighbor_id = pq.neighbor_id
GROUP BY pq.query_id
"""


@register(
    "similarity_pq_agreement",
    tags=("similarity", "evaluation", "vector", "llm_pipeline"),
    oracle=_pq_agreement_oracle(),
)
def similarity_pq_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-tier agreement for the PQ index: overlap@k between the
    compressed ADC top-k and the exact full-precision index on the
    same queries, in exact basis points — the user-visible
    discrepancy a deployment monitors when it swaps the float index
    for codes (alongside similarity_ivf_probe_recall's IVF pruning
    loss and similarity_ndcg_eval's position-weighted view; this
    completes the eval matrix with the QUANTIZATION axis). Stated
    honestly: the exact arm ranks by cosine and the PQ arm by ADC
    squared-L2, so on non-normalized corpora the number bundles
    quantization AND metric effects — exactly what the deployed swap
    changes.

    Scale shape: both arms are the registered pipelines reused
    verbatim; the comparison joins two k-row-per-query id sets.
    At 100 TB this runs on a sampled query set after every codebook
    retrain.
    """
    truth = ann_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    pq = similarity_pq_search(spark, sf_dir).select("query_id", "neighbor_id")
    hit = pq.join(
        truth.withColumn("hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hit.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("hits"),
        F.expr(
            f"cast(sum(coalesce(hit, 0)) * 10000 div {TOP_K} as bigint)"
        ).alias("agreement_bp"),
    )
