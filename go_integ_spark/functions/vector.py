"""Vector column functions: dot product, norm, cosine — built from
JVM higher-order functions (zip_with / aggregate), so similarity math
runs inside whole-stage codegen with no Python in the loop.

Computation is in float64 (embeddings are float32 on disk) with
left-to-right sequential folds — the same association order DuckDB's
list_cosine_similarity uses, so oracle comparisons agree to the last
ulp and rounding to 4 decimals is bulletproof.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Precompute the double-cast vector and its L2 norm once; every
    downstream pair computation then costs one dot product. At scale
    this is the difference between O(pairs * dim) and
    O(pairs * dim + 2 * n * dim) with the norms amortized.
    """
    e = as_double(vec_col)
    return df.withColumn("e", e).withColumn("e_norm", norm(F.col("e")))


def cosine_sim_pd(vec_a, norm_a, vec_b, norm_b) -> Column:
    """Arrow-batched twin of ``dot(a, b) / (norm_a * norm_b)`` — the
    pair-scoring hot path of every candidate-verification join (ANN
    search, kNN graph, embedding dedup, threshold join). The JVM
    expression runs ~2*dim interpreted lambda calls PER PAIR (HOFs
    evaluate outside codegen), which is the dominant cost once cell
    joins emit millions of candidate pairs; the kernel is a
    vectorized fold over the batch.

    Bit-identity with the expression (pinned in
    tests/test_similarity.py) comes from replaying the fold's float
    sequence exactly: per dimension one rounded product then one
    rounded add (numpy elementwise ops never fuse), and the norm
    product rounded once before the divide — so swapping it in
    changes no query result and invalidates no DuckDB oracle.
    """
    import numpy as np
    import pandas as pd

    def _cos(a_col, na_col, b_col, nb_col):
        n = len(a_col)
        if n == 0:
            return pd.Series([], dtype="float64")
        a = np.stack([np.asarray(x, dtype=np.float64) for x in a_col])
        b = np.stack([np.asarray(x, dtype=np.float64) for x in b_col])
        acc = np.zeros(n, dtype=np.float64)
        for d in range(a.shape[1]):
            acc += a[:, d] * b[:, d]
        denom = np.asarray(na_col, dtype=np.float64) * np.asarray(
            nb_col, dtype=np.float64
        )
        return pd.Series(acc / denom)

    cos_udf = F.pandas_udf(_cos, "double")

    def _c(c):
        return F.col(c) if isinstance(c, str) else c

    return cos_udf(_c(vec_a), _c(norm_a), _c(vec_b), _c(norm_b))


def squared_dist_pd(vec_a, vec_b) -> Column:
    """Arrow-batched twin of the squared-euclidean fold
    ``aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0.0, +)`` —
    same per-dimension rounded subtract/multiply/add sequence, so the
    output doubles are bit-identical to the JVM expression (pinned in
    tests/test_similarity.py)."""
    import numpy as np
    import pandas as pd

    def _d2(a_col, b_col):
        n = len(a_col)
        if n == 0:
            return pd.Series([], dtype="float64")
        a = np.stack([np.asarray(x, dtype=np.float64) for x in a_col])
        b = np.stack([np.asarray(x, dtype=np.float64) for x in b_col])
        acc = np.zeros(n, dtype=np.float64)
        for d in range(a.shape[1]):
            diff = a[:, d] - b[:, d]
            acc += diff * diff
        return pd.Series(acc)

    d2_udf = F.pandas_udf(_d2, "double")

    def _c(c):
        return F.col(c) if isinstance(c, str) else c

    return d2_udf(_c(vec_a), _c(vec_b))


def fold_cosine_block(a_vecs, a_norms, b_vecs, b_norms):
    """(len(a), len(b)) cosine matrix from two pandas blocks, with the
    EXACT fold float sequence of ``dot/(norm*norm)``: per dimension
    one rounded product then one rounded accumulate (numpy never
    fuses), and the norm product rounded once before the divide.
    Shared by every cogrouped per-cell scorer (kNN graph, embedding
    dedup, embedding contamination) so the bit-identity that lets
    cross-cell duplicates collapse under ``.distinct()`` — and keeps
    the DuckDB oracles valid — lives in exactly one place.
    """
    import numpy as np

    a = np.stack([np.asarray(x, dtype=np.float64) for x in a_vecs])
    b = np.stack([np.asarray(x, dtype=np.float64) for x in b_vecs])
    an = np.asarray(a_norms, dtype=np.float64)
    bn = np.asarray(b_norms, dtype=np.float64)
    m, n = len(an), len(bn)
    dims = a.shape[1]
    # Tiled accumulation (r11): the naive per-dim `acc += outer(d)`
    # makes D full passes over an (m, n) accumulator plus a fresh
    # (m, n) temporary each pass — pure memory-bandwidth burn on the
    # near-cap blocks that set the scoring stage's critical path
    # (45 s per 8192x8192x64 block measured at the 100x probe). The
    # SAME per-element float sequence (one rounded multiply, one
    # rounded accumulate per dimension, starting from the d=0
    # product — numpy never fuses, and 0 + x == x VALUE-exactly so
    # writing the first product equals the old zeros-init) run over
    # ~L2-sized row tiles keeps the accumulator and temporary in
    # cache: measured 6.9x on a 4096x4096x64 block, value-identical
    # output (pinned in tests/test_similarity.py). One signed-zero
    # exception to full bit-identity (ADVICE r11): a -0.0 d=0
    # product is written as -0.0 here, where zeros-init + add gave
    # +0.0; -0.0 == 0.0 under IEEE comparison, so every downstream
    # compare/round/distinct is unaffected. Transposed contiguous
    # copies make each dimension's slice a sequential read.
    if dims == 0:
        return np.zeros((m, n)) / (an[:, None] * bn[None, :])
    aT = np.ascontiguousarray(a.T)
    bT = np.ascontiguousarray(b.T)
    acc = np.empty((m, n), dtype=np.float64)
    tj = min(n, 4096)
    ti_rows = max(1, (256 << 10) // (tj * 8))
    tmp = np.empty((ti_rows, tj), dtype=np.float64)
    for i in range(0, m, ti_rows):
        mi = min(ti_rows, m - i)
        for j in range(0, n, tj):
            nj = min(tj, n - j)
            out = acc[i : i + mi, j : j + nj]
            t = tmp[:mi, :nj]
            np.multiply(
                aT[0, i : i + mi][:, None], bT[0, j : j + nj][None, :], out=out
            )
            for d in range(1, dims):
                np.multiply(
                    aT[d, i : i + mi][:, None],
                    bT[d, j : j + nj][None, :],
                    out=t,
                )
                out += t
            out /= an[i : i + mi, None] * bn[None, j : j + nj]
    return acc
