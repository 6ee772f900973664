"""Round-9 pins: the cached_persist slot must actually HIT across
separate invocations (ADVICE r8 high: the analyzed-plan-string
discriminator embedded per-read expression IDs and no file paths, so
it never matched and every cross-query reuse silently rebuilt)."""

from __future__ import annotations


def test_cached_persist_hits_across_invocations(spark):
    """Two successive calls with freshly-loaded (same-path) key frames
    must build ONCE — this is the whole point of the cache."""
    from go_integ_spark.functions import cache as C
    from go_integ_spark.tables import load_table

    C._slots.pop("_r9_test", None)
    builds = []

    def make():
        df = load_table(spark, "/root/testdata/sf0.001", "region")
        return C.cached_persist("_r9_test", df, lambda: (builds.append(1), df)[1])

    a = make()
    b = make()  # fresh load_table -> fresh expression IDs; must still hit
    assert len(builds) == 1, "cached_persist rebuilt on an identical corpus"
    assert a.count() == b.count()
    C._slots.pop("_r9_test", None)[2].unpersist()


def test_cached_persist_discriminates_paths(spark):
    """Same schema + same plan STRUCTURE but a different backing path
    must evict and rebuild — serving sf0.001's frame for sf0.01 would
    be silent wrong-corpus reuse."""
    from go_integ_spark.functions import cache as C
    from go_integ_spark.tables import load_table

    C._slots.pop("_r9_test2", None)
    builds = []

    def make(sf):
        df = load_table(spark, f"/root/testdata/{sf}", "region")
        return C.cached_persist("_r9_test2", df, lambda: (builds.append(sf), df)[1])

    make("sf0.001")
    make("sf0.01")
    make("sf0.01")
    assert builds == ["sf0.001", "sf0.01"]
    C._slots.pop("_r9_test2", None)[2].unpersist()


def test_plan_key_is_path_bearing_and_stable(spark):
    from go_integ_spark.functions.cache import _plan_key
    from go_integ_spark.tables import load_table

    k1 = _plan_key(load_table(spark, "/root/testdata/sf0.001", "nation"))
    k2 = _plan_key(load_table(spark, "/root/testdata/sf0.001", "nation"))
    k3 = _plan_key(load_table(spark, "/root/testdata/sf0.01", "nation"))
    assert k1 == k2, "plan key unstable across invocations"
    assert k1 != k3, "plan key does not discriminate paths"
    assert any("sf0.001" in f for f in k1)


def test_internal_create_dataframe_canary(spark):
    """VERDICT r8 #5: dedup._checkpoint_fresh_stats silently degrades
    (falls back to plain localCheckpoint, keeping the stats-squaring
    originStats) if Spark's private `internalCreateDataFrame` ever
    disappears. Fail LOUDLY here instead, so the degradation is a red
    test, not a quiet CC slowdown. Supported alternatives per Spark
    version if this trips: Spark 4.x still ships it on
    SparkSession; if removed, rebuild via
    spark.createDataFrame(ck.rdd, ck.schema) (slower: Python
    round-trip) or Dataset.ofRows over a LogicalRDD."""
    # hasattr is USELESS against py4j (JavaObject.__getattr__ returns
    # a JavaMember for any name) — ask JVM reflection instead
    methods = {
        m.getName() for m in spark._jsparkSession.getClass().getMethods()
    }
    assert "internalCreateDataFrame" in methods, (
        "Spark dropped internalCreateDataFrame: _checkpoint_fresh_stats "
        "now silently degrades CC planning cost — wire the replacement "
        "named in this test's docstring"
    )
    # and the fast path actually engages: the rebuilt frame must NOT
    # carry the checkpoint's originStats (dropping them is the whole
    # point — a plain localCheckpoint, i.e. the fallback branch,
    # carries the source's exact sizeInBytes through)
    from go_integ_spark.operators.dedup import _checkpoint_fresh_stats

    df = spark.range(1000)
    out = _checkpoint_fresh_stats(df)
    assert out.count() == 1000
    s_out = str(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    ck = spark.range(1000).localCheckpoint()
    s_ck = str(ck._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert s_out != s_ck, (
        "rebuilt frame carries originStats — the fallback branch ran"
    )


# ---------------------------------------------------------------------------
# Bitext IVF parity (VERDICT r8 #1): the registered miner now generates
# candidates through per-language IVF cell probing. ANN is approximate
# by construction — full top-4 parity was measured to need nprobe = K
# (the cos-0.05 floor admits noise-level "neighbors" no clustering
# co-locates) — so parity with the retired exhaustive form is pinned
# QUANTITATIVELY, with headroom under the measured values
# (jaccard 0.9624/0.9522, strong-pair recall 318/321 and 315/319 at
# sf0.001/sf0.01, nprobe 12, directional-top-4 candidate lists).
# ---------------------------------------------------------------------------


def test_bitext_ivf_parity_with_exhaustive(spark):
    from go_integ_spark.operators.similarity import (
        _bitext_margin_argmax,
        _bitext_pf_exhaustive,
        similarity_bitext_pairs,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        ex = [
            (r["src_id"], r["tgt_lang"], r["tgt_id"], r["margin_u"])
            for r in _bitext_margin_argmax(
                _bitext_pf_exhaustive(spark, sf_dir)
            ).collect()
        ]
        got = {
            (r["src_id"], r["tgt_lang"], r["tgt_id"])
            for r in similarity_bitext_pairs(spark, sf_dir).collect()
        }
        ex_pairs = {(a, b, c) for a, b, c, _ in ex}
        jac = len(ex_pairs & got) / len(ex_pairs | got)
        assert jac >= 0.94, f"{sf_dir}: pair Jaccard {jac:.4f} < 0.94"
        strong = [(a, b, c) for a, b, c, m in ex if m >= 11000]
        hit = sum(1 for p in strong if p in got)
        assert hit / len(strong) >= 0.97, (
            f"{sf_dir}: strong-pair recall {hit}/{len(strong)}"
        )
        # group cardinality stays put: the miner neither explodes nor
        # collapses the per-(src, lang) output
        assert abs(len(got) - len(ex_pairs)) <= 0.02 * len(ex_pairs)


def test_hll_rolling_distinct_error_bound(spark):
    """VERDICT r8 #4: the HLL form's 2% envelope is a measured
    property, not a hope — sweep the actual relative error at both
    gate SFs, and exercise the DENSE HLL encoding (gate-scale daily
    cardinalities ride the exact sparse path) on a synthetic
    200k-distinct frame."""
    from pyspark.sql import functions as F

    from go_integ_spark.operators.events import (
        HLL_WAU_ENVELOPE,
        HLL_WAU_RSD,
        WAU_WINDOW_DAYS,
        window_rolling_distinct_hll,
    )
    from go_integ_spark.tables import load_table

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = window_rolling_distinct_hll(spark, sf_dir).collect()
        assert rows and all(r["wau_hll_ok"] for r in rows), sf_dir
        # and the exact columns agree with the exact twin
        ev = load_table(spark, sf_dir, "events")
        du = ev.select(
            F.to_date(F.date_trunc("day", "ts")).alias("day"), "user_id"
        ).distinct()
        want_dau = {
            r["day"]: r["n"]
            for r in du.groupBy("day")
            .agg(F.count_distinct("user_id").alias("n"))
            .collect()
        }
        assert {r["day"]: r["dau"] for r in rows} == want_dau

    # dense-mode HLL: 200k distinct ids at rsd 0.01 must sit inside
    # the 2x-envelope used by the registered query
    (row,) = (
        spark.range(200_000)
        .agg(
            F.count_distinct("id").alias("exact"),
            F.approx_count_distinct("id", HLL_WAU_RSD).alias("hll"),
        )
        .collect()
    )
    rel = abs(row["hll"] - row["exact"]) / row["exact"]
    assert rel <= HLL_WAU_ENVELOPE, f"dense-mode rel err {rel:.4f}"
    assert WAU_WINDOW_DAYS == 7


def test_bitext_degenerate_corpora_return_empty(spark, tmp_path):
    """A corpus with no en side (or nothing but en) mines nothing —
    it must return an empty frame like the oracle, not crash on a
    missing codebook / an empty branch union."""
    import numpy as np

    from go_integ_spark.operators.similarity import similarity_bitext_pairs

    rng = np.random.RandomState(3)
    for case, langs in (("all_en", ["en"] * 8), ("no_en", ["de", "fr"] * 4)):
        d = tmp_path / case
        docs = spark.createDataFrame(
            [(i, f"doc {i}", langs[i], "s", 5) for i in range(8)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        emb = spark.createDataFrame(
            [
                (i, rng.normal(0, 1, 8).astype("float32").tolist(), 0)
                for i in range(8)
            ],
            "vec_id long, embedding array<float>, label int",
        )
        docs.write.parquet(str(d / "documents.parquet"))
        emb.write.parquet(str(d / "embeddings.parquet"))
        out = similarity_bitext_pairs(spark, str(d))
        assert out.count() == 0, case
        assert out.columns == [
            "src_id", "tgt_lang", "tgt_id", "cos_u", "margin_u",
        ], case
