"""Dedup-operator invariants beyond the DuckDB oracle:

- LSH candidates + exact verification must equal the exhaustive
  exact-Jaccard pairs on the test corpus (recall check — precision
  is exact by construction since candidates are re-verified);
- SimHash near-dup pairs must cover the high-similarity Jaccard
  ground truth (different sketch, same duplicates);
- shingle-set construction must agree with a row-by-row Python
  reference on a sample.
"""

from __future__ import annotations

import pytest

from go_integ_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    SEP,
    SHINGLE_K,
    dedup_minhash_lsh,
    dedup_simhash,
    doc_shingle_sets,
    exact_jaccard_pairs,
)
from go_integ_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _pair_set(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


@pytest.fixture(scope="module")
def exact_pairs(spark):
    docs = load_table(spark, SF_DIR, "documents")
    return {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD).collect()
    }


def test_lsh_equals_exact(spark, exact_pairs):
    lsh = _pair_set(dedup_minhash_lsh(spark, SF_DIR))
    assert lsh == set(exact_pairs)


def test_simhash_pair_generation_is_complete(spark):
    """The pigeonhole chunk-bucket enumeration must find EVERY pair
    with hamming <= 7 — verified against a brute-force O(n^2) pass
    over the collected sketches. (Sketch-vs-Jaccard alignment is a
    statistical property of the corpus, not a correctness invariant:
    SimHash majority votes are unstable on very short documents.)
    """
    from go_integ_spark.operators.dedup import simhash_sketches

    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup_simhash(spark, SF_DIR).collect()
    }
    sk = sorted(
        (r["doc_id"], r["simhash"])
        for r in simhash_sketches(
            load_table(spark, SF_DIR, "documents")
        ).collect()
    )
    want = {}
    for i, (da, ha) in enumerate(sk):
        for db, hb in sk[i + 1 :]:
            h = bin((ha ^ hb) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= 7:
                want[(da, db)] = h
    assert want, "corpus should contain simhash near-dups"
    assert got == want


def test_simhash_finds_exact_duplicates(spark, exact_pairs):
    """Identical shingle sets (jaccard == 1.0) hash to identical
    sketches, so exact duplicates can never be missed."""
    identical = {p for p, j in exact_pairs.items() if j == 1.0}
    if identical:
        simhash = _pair_set(dedup_simhash(spark, SF_DIR))
        assert identical <= simhash


def test_shingle_sets_match_python_reference(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    got = {
        r["doc_id"]: (set(r["sids"]), r["n"])
        for r in doc_shingle_sets(docs).collect()
    }
    for row in docs.collect():
        words = row["text"].split(" ")
        grams = {
            SEP.join(words[i : i + SHINGLE_K])
            for i in range(len(words) - SHINGLE_K + 1)
        }
        if len(words) < SHINGLE_K:
            assert row["doc_id"] not in got
            continue
        sids, n = got[row["doc_id"]]
        assert n == len(grams) == len(sids)


def test_connected_components_chain_and_islands(spark):
    """A 5-node chain (worst diameter case) plus a 2-clique: every
    node labels with its component's min; separate components stay
    separate."""
    from go_integ_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)}


def test_soft_weights_conserve_cluster_mass(spark):
    """Each near-dup cluster must contribute exactly one document's
    worth of sampling mass: member weights are 1/cluster_size, so the
    per-cluster weight sum is 1.0 and the corpus-wide weight sum
    equals the number of clusters (post-dedup corpus cardinality)."""
    from collections import defaultdict

    from go_integ_spark.operators.dedup import dedup_soft_weights

    rows = dedup_soft_weights(spark, SF_DIR).collect()
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r["cluster_id"]].append(r)
    for members in by_cluster.values():
        sizes = {m["cluster_size"] for m in members}
        assert sizes == {len(members)}  # size column is consistent
        assert abs(sum(m["sample_weight"] for m in members) - 1.0) < 1e-2
    assert len(rows) >= len(by_cluster)


def test_paragraph_dedup_first_occurrence_semantics(spark, tmp_path):
    """On a micro-corpus with injected duplication: the globally first
    occurrence of a paragraph is never counted as duplicate, every
    later occurrence is (including repetition INSIDE one doc), and the
    keep flag trips strictly above the 0.5 dup-fraction threshold."""
    from go_integ_spark.operators.dedup import PARA_TOKENS, dedup_paragraph

    para_a = " ".join(["alpha"] * PARA_TOKENS)
    para_b = " ".join(["beta"] * PARA_TOKENS)
    uniq = [" ".join([f"u{i}w{j}" for j in range(PARA_TOKENS)]) for i in range(4)]
    rows = [
        # doc 0 owns the first occurrences of A and B
        (0, f"{para_a} {para_b}"),
        # doc 1: one seen paragraph, one unique -> frac 0.5, kept
        (1, f"{para_a} {uniq[0]}"),
        # doc 2: two seen paragraphs + within-doc repeat -> frac 1.0
        (2, f"{para_b} {para_b} {para_a}"),
        # doc 3: all unique
        (3, f"{uniq[1]} {uniq[2]} {uniq[3]}"),
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        path + "/documents.parquet"
    )
    got = {
        r["doc_id"]: (r["n_paras"], r["n_dup_paras"], r["keep"])
        for r in dedup_paragraph(spark, path).collect()
    }
    assert got[0] == (2, 0, True)
    assert got[1] == (2, 1, True)  # exactly at the 0.5 threshold
    assert got[2] == (3, 3, False)  # all three already seen in doc 0/2
    assert got[3] == (3, 0, True)


def test_numpy_xxh64_matches_spark(spark):
    """functions/xxh.py must reproduce F.xxhash64 bit-for-bit on
    LongType values — single, int-literal-seeded, and chained — since
    the minhash kernel's correctness rests on it. Extremes included
    (min/max int64, 0, -1)."""
    import numpy as np

    from pyspark.sql import functions as F

    from go_integ_spark.functions.xxh import (
        SPARK_SEED,
        as_signed,
        spark_xxhash64_longs,
        xxh64_int,
        xxh64_long,
    )

    rng = np.random.default_rng(13)
    vals = np.concatenate(
        [
            np.array([0, -1, 1, 2**63 - 1, -(2**63)], dtype=np.int64),
            rng.integers(-(2**63), 2**63, size=200, dtype=np.int64),
        ]
    )
    pair = rng.integers(-(2**63), 2**63, size=vals.size, dtype=np.int64)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(vals, pair)], "a bigint, b bigint"
    )
    rows = df.select(
        F.xxhash64("a"),
        F.xxhash64(F.lit(7), "a"),
        F.xxhash64("a", "b"),
    ).collect()
    exp = np.array([list(r) for r in rows], dtype=np.int64)
    assert np.array_equal(exp[:, 0], as_signed(spark_xxhash64_longs(vals)))
    seed7 = xxh64_int(np.uint64(7), SPARK_SEED)
    assert np.array_equal(
        exp[:, 1], as_signed(xxh64_long(vals.view(np.uint64), seed7))
    )
    assert np.array_equal(exp[:, 2], as_signed(spark_xxhash64_longs(vals, pair)))


def test_minhash_kernel_matches_jvm_expression(spark):
    """Every per-permutation minhash of the band-bucket kernel must be
    EXACTLY the JVM expression
    h_i = array_min(transform(sids, s -> xxhash64(lit(i), s))).
    With one row per band each bucket folds a single minhash
    (xxhash64(lit(i), h_i)), so all NUM_PERM minima are pinned one by
    one, at their own position, rather than in pairs."""
    from pyspark.sql import functions as F

    from go_integ_spark.operators.dedup import NUM_PERM, lsh_band_buckets

    sets_ = doc_shingle_sets(load_table(spark, SF_DIR, "documents"))
    new = lsh_band_buckets(sets_, bands=NUM_PERM, rows=1).select(
        "doc_id", F.posexplode("buckets").alias("i", "bucket")
    )
    per_perm = F.array(
        *[
            F.xxhash64(
                F.lit(i),
                F.array_min(
                    F.transform(
                        F.col("sids"),
                        (lambda i: lambda s: F.xxhash64(F.lit(i), s))(i),
                    )
                ),
            )
            for i in range(NUM_PERM)
        ]
    )
    old = sets_.select("doc_id", F.posexplode(per_perm).alias("i", "bucket"))
    assert new.count() == old.count() > 0
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_containment_catches_asymmetric_duplication(spark, tmp_path):
    """A short doc quoted wholesale inside a long one must be flagged
    by containment (cont = 1.0) even though its Jaccard is far below
    the 0.5 near-dup threshold; an unrelated doc must not appear."""
    from go_integ_spark.operators.dedup import dedup_containment

    short = " ".join(f"q{i}" for i in range(10))
    long_ = short + " " + " ".join(f"f{i}" for i in range(80))
    other = " ".join(f"z{i}" for i in range(40))
    rows = [(1, short), (2, long_), (3, other)]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        path + "/documents.parquet"
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["cont_a_in_b"], r["cont_b_in_a"], r["jaccard"])
        for r in dedup_containment(spark, path).collect()
    }
    assert set(got) == {(1, 2)}
    cont_a, cont_b, jac = got[(1, 2)]
    assert cont_a == 1.0  # all of doc 1's shingles are inside doc 2
    assert cont_b < 0.2
    assert jac < 0.5  # plain Jaccard would have missed this pair


def test_winnow_kernel_matches_jvm_expression(spark):
    """The Arrow-batched winnowing kernel must emit EXACTLY the
    fingerprint sets of the JVM expression form it replaced (h60 char
    grams, window mins, distinct) — hashlib md5 == Spark md5 on the
    same UTF-8 bytes."""
    from pyspark.sql import functions as F

    from go_integ_spark.functions.hashing import h60_expr
    from go_integ_spark.operators.advanced import (
        WINNOW_K,
        WINNOW_WINDOW,
        winnow_sets,
    )
    from go_integ_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    k, window = WINNOW_K, WINNOW_WINDOW
    grams = F.expr(
        f"transform(sequence(1, greatest(length(text) - {k - 1}, 0)),"
        f" i -> {h60_expr(f'substring(text, i, {k})')})"
    )
    mins = F.expr(
        f"transform(sequence(1, greatest(size(hashes) - {window - 1}, 0)),"
        f" i -> array_min(slice(hashes, i, {window})))"
    )
    expr_sets = {
        r["doc_id"]: sorted(r["fps"])
        for r in docs.select("doc_id", grams.alias("hashes"))
        .filter(F.size("hashes") >= window)
        .select("doc_id", F.array_distinct(mins).alias("fps"))
        .collect()
    }
    kern_sets = {
        r["doc_id"]: sorted(r["fps"])
        for r in winnow_sets(docs).collect()
    }
    assert kern_sets == expr_sets

    # Non-ASCII parity: grams must be CHARACTER windows hashed over
    # UTF-8 bytes — a byte-sliced kernel diverges on multi-byte text.
    intl = spark.createDataFrame(
        [(1, "café déjà-vu naïve façade smörgåsbord 日本語テスト語語語")],
        "doc_id bigint, text string",
    )
    e2 = {
        r["doc_id"]: sorted(r["fps"])
        for r in intl.select("doc_id", grams.alias("hashes"))
        .filter(F.size("hashes") >= window)
        .select("doc_id", F.array_distinct(mins).alias("fps"))
        .collect()
    }
    k2 = {r["doc_id"]: sorted(r["fps"]) for r in winnow_sets(intl).collect()}
    assert k2 == e2


def test_band_bucket_kernel_matches_jvm_expression(spark):
    """lsh_band_buckets must emit EXACTLY the bucket values of the JVM
    expressions it replaced: the minhashes
    h_i = array_min(transform(sids, s -> xxhash64(lit(i), s))), then
    per band xxhash64(lit(b), h[b*rows], h[b*rows+1]) — the
    bit-identity that keeps LSH bands, incremental dedup, and the
    LSH == exact pin unchanged without a 64-wide h{i} projection."""
    from pyspark.sql import functions as F

    from go_integ_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        doc_shingle_sets,
        lsh_band_buckets,
    )

    sets_ = doc_shingle_sets(load_table(spark, SF_DIR, "documents"))
    new = lsh_band_buckets(sets_).select(
        "doc_id", F.explode("buckets").alias("bucket")
    )

    def minhash(i):
        return F.array_min(
            F.transform(F.col("sids"), lambda s: F.xxhash64(F.lit(i), s))
        )

    band_hashes = F.array(
        *[
            F.xxhash64(
                F.lit(b), *[minhash(b * LSH_ROWS + r) for r in range(LSH_ROWS)]
            )
            for b in range(LSH_BANDS)
        ]
    )
    old = sets_.select("doc_id", F.explode(band_hashes).alias("bucket"))
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_srp_identical_vectors_always_pair(spark, tmp_path):
    """Identical vectors share every band bucket, so an exact
    duplicate MUST surface with cos_sim 1.0 regardless of the banding
    s-curve; a far-away vector must not pair with either."""
    import numpy as np

    from go_integ_spark.operators.dedup import dedup_srp_buckets

    rng = np.random.default_rng(5)
    v = rng.standard_normal(64)
    far = -v  # cosine -1
    rows = [
        (0, [float(x) for x in v], 0),
        (1, [float(x) for x in v], 0),
        (2, [float(x) for x in far], 1),
    ]
    path = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label bigint"
    ).write.parquet(path + "/embeddings.parquet")
    got = [
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in dedup_srp_buckets(spark, path).collect()
    ]
    assert got == [(0, 1, 1.0)]


def test_checkpoint_fresh_stats_bounds_plan_statistics(spark):
    """Catalyst's size-only estimate multiplies child sizes through a
    join, and localCheckpoint preserves originStats — so an iterative
    self-join loop SQUARES the estimate per round (round 6 measured
    8,000+ decimal digits by round 11 and seconds of driver CPU in
    BigInteger multiply). _checkpoint_fresh_stats must keep the
    estimate bounded across rounds; a plain localCheckpoint loop is
    asserted to blow up so a future Spark that fixes this upstream
    surfaces here and the workaround can be retired."""
    from pyspark.sql import functions as F

    from go_integ_spark.operators.dedup import _checkpoint_fresh_stats

    def one_round(cur, ckpt):
        parents = cur.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        return ckpt(
            cur.join(parents, cur["label"] == parents["pnode"], "left").select(
                "node",
                F.least("label", F.coalesce("plabel", "label")).alias("label"),
            )
        )

    def size_bits(df):
        # py4j auto-converts the scala BigInt; a ValueError means the
        # number exceeds Python's 4300-digit int-parse limit — i.e.
        # the estimate already blew up astronomically.
        try:
            n = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except ValueError:
            return 1 << 20
        return n.bit_length()

    base = spark.range(50).select(
        F.col("id").alias("node"), F.col("id").alias("label")
    )
    fixed = base
    for _ in range(6):
        fixed = one_round(fixed, _checkpoint_fresh_stats)
    assert size_bits(fixed) < 128, "stats reset failed — loop will blow up"

    plain = base.localCheckpoint()
    for _ in range(6):
        plain = one_round(plain, lambda df: df.localCheckpoint())
    assert size_bits(plain) > 512, (
        "plain localCheckpoint no longer squares stats — Spark fixed "
        "originStats carry-through; _checkpoint_fresh_stats can go"
    )


def test_paraphrase_pairs_exclude_verbatim_duplicates(spark, tmp_path):
    """A verbatim copy (semantic AND lexical dup) must be excluded;
    a same-meaning different-words doc (semantic-only dup) must
    surface. Built corpus: docs 0 and 1 share text and embedding,
    doc 2 shares only the embedding."""
    import numpy as np

    from go_integ_spark.operators.dedup import dedup_paraphrase_pairs

    text_a = " ".join(f"w{i}" for i in range(30))
    text_b = " ".join(f"z{i}" for i in range(30))
    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(0, text_a, "en"), (1, text_a, "en"), (2, text_b, "en")],
        "doc_id bigint, text string, lang string",
    ).write.parquet(path + "/documents.parquet")
    v = [float(x) for x in np.random.default_rng(9).standard_normal(64)]
    spark.createDataFrame(
        [(0, v, 0), (1, v, 0), (2, v, 0)],
        "vec_id bigint, embedding array<float>, label bigint",
    ).write.parquet(path + "/embeddings.parquet")
    got = sorted(
        (r["vec_a"], r["vec_b"]) for r in dedup_paraphrase_pairs(spark, path).collect()
    )
    assert got == [(0, 2), (1, 2)], got


def test_cosine_pairs_max_group_drops_mega_groups(spark):
    """The mega-group guard must drop oversized groups whole (no
    partial scoring) while normal groups still pair — the documented
    precision-1.0 / recall-epsilon trade backing SRP_MAX_BUCKET."""
    import numpy as np

    from go_integ_spark.functions.vector import with_norm
    from go_integ_spark.operators.dedup import cosine_pairs_in_groups

    v = [float(x) for x in np.random.default_rng(3).standard_normal(8)]
    rows = (
        # group 1: four identical vectors (over the cap of 3)
        [(i, v, 1) for i in range(4)]
        # group 2: two identical vectors (within the cap)
        + [(10, v, 2), (11, v, 2)]
    )
    df = with_norm(
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, grp bigint"
        )
    ).select("vec_id", "e", "e_norm", "grp")
    got = sorted(
        (r["vec_a"], r["vec_b"])
        for r in cosine_pairs_in_groups(df, "grp", 0.9, max_group=3).collect()
    )
    assert got == [(10, 11)], got


def test_emb_probe_count_preserves_coverage():
    # The sf0.1 strict sweep caught a recall regression when the probe
    # count stayed fixed while the sqrt(N) cell count grew (6/44 cells
    # missed 4/144 true pairs at 2000 vectors). Pin the rule: floor at
    # the verified small-corpus operating point, coverage >= 25% of
    # cells beyond it, and monotone in the cell count.
    from go_integ_spark.operators.dedup import (
        DEDUP_EMB_PROBES_MIN,
        emb_probe_count,
    )

    assert emb_probe_count(16) == DEDUP_EMB_PROBES_MIN
    assert emb_probe_count(22) == DEDUP_EMB_PROBES_MIN  # 500-vector corpora
    assert emb_probe_count(44) == 11  # 2000-vector corpus: > the measured-min 8
    prev = 0
    for k in range(1, 400):
        p = emb_probe_count(k)
        assert p >= prev
        assert p >= min(k, DEDUP_EMB_PROBES_MIN)
        assert 4 * p >= k  # coverage floor
        prev = p


class TestCCEdgeRepartInvariance:
    def test_components_identical_both_arms(self, spark):
        """The `src`-repartitioned edge list changes only physical
        partitioning (1000x A/B: evidence/SMOKE_r12_1000x_cc_ab*.json); the
        labels stay pinned to the golden components. The 30..36 chain
        needs several rounds and pointer jumps."""
        from go_integ_spark.operators.dedup import connected_components

        rows = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
        rows += [(i, i + 1) for i in range(30, 36)]
        edges = spark.createDataFrame(rows, "doc_a bigint, doc_b bigint")
        got = sorted(map(tuple, connected_components(edges).collect()))
        assert got == [
            (1, 1),
            (2, 1),
            (3, 1),
            (10, 10),
            (11, 10),
            (20, 20),
            (21, 20),
            (22, 20),
            (23, 20),
        ] + [(n, 30) for n in range(30, 37)]
