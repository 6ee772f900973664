"""Round-10 regression pins: broadcast codebooks, the Arrow bigram
fold, and the production-shaped embedding-dedup operating point."""


def _synth_bitext_v(spark, langs, n_per_lang, dim=8, seed=7):
    """A synthetic (vec_id, lang, e, e_norm) corpus for the miner."""
    import numpy as np

    from go_integ_spark.functions.vector import with_norm

    rng = np.random.RandomState(seed)
    rows, vid = [], 0
    for lg in langs:
        for _ in range(n_per_lang):
            rows.append((vid, lg, [float(x) for x in rng.randn(dim)]))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, lang string, embedding array<double>"
    )
    return with_norm(df).select("vec_id", "lang", "e", "e_norm")


def test_bitext_plan_size_independent_of_language_count(spark):
    """VERDICT r9 #3: the r9 miner union-ed one probe branch PER
    LANGUAGE (plan width linear in languages) and embedded each
    codebook in a UDF closure. The r10 form must carry the SAME
    number of Arrow kernels and joins whether the corpus has 2 or 6
    target languages — the language fan-out is a row-local explode
    and the codebooks ride one broadcast map."""
    from go_integ_spark.operators.similarity import _bitext_mine
    from go_integ_spark.plans import executed_plan

    def plan_profile(n_langs):
        langs = ["en"] + [f"l{i}" for i in range(n_langs)]
        v = _synth_bitext_v(spark, langs, 30)
        plan = executed_plan(_bitext_mine(spark, v))
        return {
            "arrow_eval": plan.count("ArrowEvalPython"),
            "cogroup": plan.count("FlatMapCoGroupsInPandas"),
            "exchange": plan.count("Exchange"),
            "row_udf": plan.count("BatchEvalPython"),
        }

    p2, p6 = plan_profile(2), plan_profile(6)
    assert p2 == p6, f"plan grew with language count: {p2} vs {p6}"
    assert p2["row_udf"] == 0


def test_multilang_probe_kernel_bit_identical_to_single_lang(spark):
    """The multilang kernel slices each Arrow batch by language and
    runs the SAME _probe_block per slice — every row's probe list
    must be bit-identical to nearest_cells_pd under that language's
    codebook (the bit-exactness that keeps the bitext oracle
    value-level)."""
    from pyspark.sql import functions as F

    from go_integ_spark.operators.similarity import (
        _bitext_lang_centroids,
        nearest_cells_multilang,
        nearest_cells_pd,
    )

    v = _synth_bitext_v(spark, ["en", "de", "fr"], 40)
    crows = {r["lang"]: r for r in _bitext_lang_centroids(v).collect()}
    multi = {
        r["vec_id"]: list(r["p"])
        for r in v.withColumn(
            "p", nearest_cells_multilang(crows, 3)
        ).select("vec_id", "p").collect()
    }
    single = {}
    for lg, crow in crows.items():
        for r in (
            v.filter(F.col("lang") == lg)
            .withColumn("p", nearest_cells_pd(crow, 3))
            .select("vec_id", "p")
            .collect()
        ):
            single[r["vec_id"]] = list(r["p"])
    assert multi == single


def test_codebook_broadcast_memoized_per_source_object(spark):
    """One broadcast per (SparkContext, codebook object): repeated
    probe-column builds over the same collected row must reuse the
    broadcast instead of re-shipping the codebook."""
    from go_integ_spark.operators import similarity as sim

    v = _synth_bitext_v(spark, ["en"], 25).drop("lang")
    (crow,) = sim.ivf_centroids(v).collect()
    before = len(sim._CODEBOOK_BC)
    sim.nearest_cells_pd(crow, 2)
    mid = len(sim._CODEBOOK_BC)
    sim.nearest_cells_pd(crow, 4)
    after = len(sim._CODEBOOK_BC)
    assert mid == before + 1 and after == mid


def test_bigram_scoring_kernel_bit_identical_to_expression(spark):
    """VERDICT r9 #2: the map-side broadcast-model scoring kernel
    must reproduce the retired JVM-HOF fold BIT-EXACTLY (raw double
    s, not just the rounded average) — same distinct-bigram counts,
    same (w1, w2) sort order, same left-fold float sequence — on a
    real gate corpus."""
    from pyspark.sql import functions as F

    from go_integ_spark.operators.text import (
        _bigram_fold_expr,
        _bigram_scores_arrow,
    )
    from go_integ_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    inst = (
        docs.withColumn("ws", F.split("text", " "))
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), i ->"
                    " struct(element_at(ws, i) AS w1,"
                    " element_at(ws, i + 1) AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    d = inst.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("k"))
    c2 = d.groupBy("w1", "w2").agg(F.sum("k").cast("double").alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    probs = c2.join(c1, "w1").select(
        "w1", "w2", F.log(F.col("n2") / F.col("n1")).alias("logp")
    )
    model = {(r["w1"], r["w2"]): r["logp"] for r in probs.collect()}
    kernel = {
        r["doc_id"]: (r["n_bigrams"], r["s"])
        for r in _bigram_scores_arrow(docs, model).collect()
    }
    expr = {
        r["doc_id"]: (r["n_bigrams"], r["s"])
        for r in _bigram_fold_expr(d, probs).collect()
    }
    assert set(kernel) == set(expr)
    diff = {k for k in kernel if kernel[k] != expr[k]}
    assert not diff, f"{len(diff)} docs disagree, e.g. {sorted(diff)[:3]}"


def test_bigram_scoring_kernel_tokenization_edge_cases(spark):
    """The kernel's Python split must replicate F.split(text, ' ')
    exactly: consecutive/leading/trailing separators produce empty
    tokens (which form bigrams), one-token and null docs are absent."""
    from pyspark.sql import functions as F

    from go_integ_spark.operators.text import (
        _bigram_fold_expr,
        _bigram_scores_arrow,
    )

    docs = spark.createDataFrame(
        [
            (1, "a  b"),  # double space -> empty middle token
            (2, " a b "),  # leading + trailing empties
            (3, "solo"),  # one token -> no bigrams, absent
            (4, None),  # null text -> absent
            (5, "a b a b a"),  # repeated bigrams -> k > 1
            (6, ""),  # empty -> single empty token, absent
        ],
        "doc_id long, text string",
    )
    inst = (
        docs.withColumn("ws", F.split("text", " "))
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), i ->"
                    " struct(element_at(ws, i) AS w1,"
                    " element_at(ws, i + 1) AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    d = inst.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("k"))
    c2 = d.groupBy("w1", "w2").agg(F.sum("k").cast("double").alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    probs = c2.join(c1, "w1").select(
        "w1", "w2", F.log(F.col("n2") / F.col("n1")).alias("logp")
    )
    model = {(r["w1"], r["w2"]): r["logp"] for r in probs.collect()}
    kernel = {
        r["doc_id"]: (r["n_bigrams"], r["s"])
        for r in _bigram_scores_arrow(docs, model).collect()
    }
    expr = {
        r["doc_id"]: (r["n_bigrams"], r["s"])
        for r in _bigram_fold_expr(d, probs).collect()
    }
    assert kernel == expr
    assert set(kernel) == {1, 2, 5}


def _sparse_neardup_embeddings(n=1500, dim=64, n_pairs=40, seed=11):
    """Isotropic base vectors (random-pair cosine ~0 at dim 64, so
    nothing reaches 0.8 by chance) + planted near-dup partners at
    cos ~0.9 — the sparse production-shaped near-dup regime."""
    import numpy as np

    rng = np.random.RandomState(seed)
    base = rng.normal(0, 1.0, size=(n, dim))
    for i in range(n_pairs):
        a, b = 2 * i, 2 * i + 1
        base[b] = base[a] + rng.normal(0, 0.22, size=dim)  # cos ~0.93
    return base


def test_dedup_embedding_cosine_strict_on_planted_corpus(spark, tmp_path):
    """VERDICT r9 #1: the production-shaped (>= 0.8, fixed-nprobe)
    twin must be NON-vacuously correct — on a sparse planted corpus
    it must (a) equal its own IVF-replaying DuckDB oracle exactly and
    (b) recover every brute-force pair (recall 1.0 here: planted
    partners share probe cells by construction)."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from go_integ_spark.operators.dedup import EMB_COS_STRICT

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
    name = "dedup_embedding_cosine_strict"
    got = sorted(map(tuple, q[name](spark, path).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{path}/embeddings.parquet'"
    )
    oracle = sorted(con.execute(o[name]).fetchall())
    assert got == oracle
    # brute-force reference on the float64-cast vectors
    e = base.astype("float32").astype("float64")
    nrm = np.sqrt((e * e).sum(axis=1))
    sim = (e @ e.T) / np.outer(nrm, nrm)
    ii, jj = np.where(np.triu(sim >= EMB_COS_STRICT, k=1))
    brute = {(int(a), int(b)) for a, b in zip(ii, jj)}
    assert len(brute) >= 30, "corpus must actually contain planted pairs"
    got_pairs = {(a, b) for a, b, _ in got}
    assert got_pairs == brute, (
        f"missed {sorted(brute - got_pairs)[:5]} / "
        f"extra {sorted(got_pairs - brute)[:5]}"
    )
