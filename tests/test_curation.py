"""Curation operators: sampling determinism/stratification and
contamination-rate invariants (the oracle sweep in
test_queries_oracle.py covers value-level DuckDB agreement).
"""

from __future__ import annotations

from go_integ_spark.operators.curation import (
    DEFAULT_RATE,
    SAMPLE_RATES,
    contamination_ngram_overlap,
    sample_stratified,
)
from go_integ_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_sample_is_deterministic_and_stratified(spark):
    a = sorted(map(tuple, sample_stratified(spark, SF_DIR).collect()))
    b = sorted(map(tuple, sample_stratified(spark, SF_DIR).collect()))
    assert a == b and len(a) > 0

    docs = load_table(spark, SF_DIR, "documents")
    totals = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    kept: dict = {}
    for _, lang in a:
        kept[lang] = kept.get(lang, 0) + 1
    # each stratum's realized rate should be within +/-20pp of its
    # configured rate (hash buckets are uniform; strata are small here)
    for lang, total in totals.items():
        rate = SAMPLE_RATES.get(lang, DEFAULT_RATE) / 100
        assert abs(kept.get(lang, 0) / total - rate) < 0.20, lang


def test_contamination_rate_bounds_and_split(spark):
    rows = contamination_ngram_overlap(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["doc_id"] % 10 == 0  # held-out split only
        assert 0 <= r["n_contaminated"] <= r["n_grams"]
        assert 0.0 <= r["contamination_rate"] <= 1.0


def test_mix_weights_cap_on_skewed_sources(spark, tmp_path):
    """A source with a tiny token share must hit the MIX_MAX_WEIGHT
    cap instead of exploding its repetition factor, and dominant
    sources must be downweighted below 1."""
    from go_integ_spark.operators.curation import MIX_MAX_WEIGHT, curation_mix_weights

    rows = (
        [(i, "big", "word " * 99 + "word") for i in range(50)]
        + [(100, "tiny", "one two")]
    )
    spark.createDataFrame(rows, "doc_id long, source string, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    out = {r["source"]: r for r in curation_mix_weights(spark, str(tmp_path)).collect()}
    # tiny: share 2/5002 -> uncapped weight would be ~1250; capped.
    assert out["tiny"]["mix_weight"] == MIX_MAX_WEIGHT
    # big: share ~1 vs target 0.5 -> weight ~0.5, strictly below 1.
    assert out["big"]["mix_weight"] < 1.0


def test_boilerplate_drop_fires_on_templated_corpus(spark, tmp_path):
    """On a corpus that IS mostly shared template text, documents must
    cross the ratio threshold and get keep=False (the shipped corpus
    is clean, so the gate never exercises the drop branch)."""
    from go_integ_spark.operators.curation import curation_boilerplate_ngrams

    template = "all rights reserved contact us terms of service apply here"
    rows = [(i, "spam", f"{template} item {i}") for i in range(10)] + [
        # fully disjoint word streams: no trigram repeats across docs
        (100 + i, "spam", " ".join(f"w{i}x{j}" for j in range(8)))
        for i in range(3)
    ]
    spark.createDataFrame(rows, "doc_id long, source string, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in curation_boilerplate_ngrams(spark, str(tmp_path)).collect()}
    templated = [out[i] for i in range(10)]
    assert all(not r["keep"] for r in templated), "template docs must be dropped"
    assert all(r["boiler_ratio"] > 0.5 for r in templated)
    fresh = [out[100 + i] for i in range(3)]
    assert all(r["keep"] for r in fresh)


def test_contamination_embedding_recall_vs_bruteforce(spark):
    """Cell-join candidate generation must not miss any contaminated
    (eval, train) pair the brute-force check finds at the threshold —
    recall 1.0 is the property that makes the brute-force oracle
    valid for the IVF-probed implementation."""
    import itertools

    import numpy as np

    from go_integ_spark.operators.curation import (
        CONTAM_EMB_THRESHOLD,
        contamination_embedding,
    )
    from go_integ_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["eval_id"]: (r["contaminated"], r["best_train_id"])
        for r in contamination_embedding(spark, sf).collect()
    }
    emb = {
        int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    for ev in (i for i in emb if i % 10 == 0):
        best, best_s = None, CONTAM_EMB_THRESHOLD
        for tr in (i for i in emb if i % 10 != 0):
            s = float(
                emb[ev] @ emb[tr]
                / (np.linalg.norm(emb[ev]) * np.linalg.norm(emb[tr]))
            )
            if s > best_s or (s == best_s and best is None):
                if s >= CONTAM_EMB_THRESHOLD and (best is None or s > best_s):
                    best, best_s = tr, s
        assert got[ev][0] == (best is not None), ev


def test_diversity_sample_spans_cells(spark):
    """Every populated cell contributes exactly min(cell_size, quota)
    picks, ranks are 1..quota, and no doc repeats."""
    from collections import Counter

    from go_integ_spark.operators.curation import (
        DIVERSITY_PER_CELL,
        curation_diversity_sample,
    )

    rows = curation_diversity_sample(spark, "/root/testdata/sf0.001").collect()
    docs = [r["doc_id"] for r in rows]
    assert len(docs) == len(set(docs))
    per_cell = Counter(r["cell_id"] for r in rows)
    assert all(1 <= n <= DIVERSITY_PER_CELL for n in per_cell.values())
    for r in rows:
        assert 1 <= r["pick_rank"] <= DIVERSITY_PER_CELL


def test_token_budget_select_is_greedy_prefix(spark):
    """The two-pass bucket construction must select EXACTLY the
    greedy (tokens DESC, doc_id) prefix a direct running sum keeps
    within budget, and every language's kept token total must respect
    the budget."""
    import re

    from go_integ_spark.operators.curation import (
        TOKEN_BUDGET_PER_LANG,
        curation_token_budget_select,
    )
    from go_integ_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r["lang"], r["doc_id"]): r["tok"]
        for r in curation_token_budget_select(spark, sf).collect()
    }
    docs = [
        (r["lang"], len(re.findall(r"\S+", r["text"])), r["doc_id"])
        for r in load_table(spark, sf, "documents").collect()
    ]
    want: dict[tuple, int] = {}
    by_lang: dict[str, list] = {}
    for lang, tok, did in docs:
        by_lang.setdefault(lang, []).append((tok, did))
    for lang, rows in by_lang.items():
        cum = 0
        for tok, did in sorted(rows, key=lambda x: (-x[0], x[1])):
            cum += tok
            if cum > TOKEN_BUDGET_PER_LANG:
                break
            want[(lang, did)] = tok
    assert got == want
    per_lang: dict[str, int] = {}
    for (lang, _), tok in got.items():
        per_lang[lang] = per_lang.get(lang, 0) + tok
    assert all(v <= TOKEN_BUDGET_PER_LANG for v in per_lang.values())


def test_ngram_novelty_bounds_and_copies(spark, tmp_path):
    """An exact copy of an earlier doc scores novelty 0; the earliest
    doc scores 1; everything sits in [0, 1]."""
    from go_integ_spark.operators.curation import curation_ngram_novelty

    base = " ".join(f"w{i}" for i in range(20))
    other = " ".join(f"x{i}" for i in range(20))
    rows = [(1, base, "en"), (2, base, "en"), (3, other, "en")]
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string"
    ).write.parquet(path + "/documents.parquet")
    got = {
        r["doc_id"]: r["novelty"]
        for r in curation_ngram_novelty(spark, path).collect()
    }
    assert got[1] == 1.0
    assert got[2] == 0.0
    assert got[3] == 1.0


def test_gopher_rules_fire_individually(spark, tmp_path):
    """Each Gopher rule must be able to fail a doc on its own: too
    short, symbol-heavy, and stopword-free docs all fail while a
    plain English paragraph passes."""
    from go_integ_spark.operators.text import text_gopher_quality

    good = ("the quick brown fox jumps over that lazy dog and then runs "
            "away with the bone to share it of course " * 2).strip()
    short = "the cat and that dog have fun with it"  # < 20 words
    symbols = " ".join(["word#"] * 30) + " the and that have"  # symbol ratio 
    nostops = " ".join(f"token{i}" for i in range(30))  # no stopword hits
    rows = [(1, good, "en"), (2, short, "en"), (3, symbols, "en"), (4, nostops, "en")]
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string"
    ).write.parquet(path + "/documents.parquet")
    got = {r["doc_id"]: r["gopher_ok"] for r in text_gopher_quality(spark, path).collect()}
    assert got == {1: True, 2: False, 3: False, 4: False}


def _sparse_neardup_embeddings(n=1500, dim=64, n_pairs=40, seed=11):
    """Same planted sparse near-dup regime as test_round10_ops: an
    isotropic bulk (random-pair cosine ~0 at dim 64) plus planted
    partners at cos ~0.93."""
    import numpy as np

    rng = np.random.RandomState(seed)
    base = rng.normal(0, 1.0, size=(n, dim))
    for i in range(n_pairs):
        a, b = 2 * i, 2 * i + 1
        base[b] = base[a] + rng.normal(0, 0.22, size=dim)
    return base


def test_contamination_embedding_strict_on_planted_corpus(spark, tmp_path):
    """VERDICT r12 item 7: the production-shaped (>= 0.8, fixed
    nprobe) decontamination twin must be NON-vacuously correct — on a
    planted corpus it must (a) equal its IVF-replaying DuckDB oracle
    exactly and (b) agree with the brute-force eval-vs-train verdict
    for every eval item (planted partners share probe cells by
    construction, so recall is 1.0 here)."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from go_integ_spark.operators.curation import CONTAM_EMB_STRICT

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
    name = "contamination_embedding_strict"
    got = sorted(map(tuple, q[name](spark, path).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{path}/embeddings.parquet'"
    )
    oracle = sorted(con.execute(o[name]).fetchall())
    assert got == oracle
    # brute-force eval-vs-train verdicts on the float64-cast vectors
    e = base.astype("float32").astype("float64")
    nrm = np.sqrt((e * e).sum(axis=1))
    sim = (e @ e.T) / np.outer(nrm, nrm)
    ev_ids = [i for i in range(n) if i % 10 == 0]
    tr_ids = np.array([i for i in range(n) if i % 10 != 0])
    brute = {
        ev: bool((sim[ev, tr_ids] >= CONTAM_EMB_STRICT).any()) for ev in ev_ids
    }
    got_verdicts = {int(r[0]): bool(r[1]) for r in got}
    assert got_verdicts == brute
    assert sum(brute.values()) >= 8, "corpus must contain contaminated evals"
