"""Invariant pins for the round-6 second-session additions (BM25
retrieval, DSIR importance weights, scalar-quantization encode,
IVF recall self-evaluation, BPE tokenizer application). Value-level
correctness is covered by the oracle sweep; these assert the
SEMANTIC claims the docstrings make.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from go_integ_spark.registry import load_all

SF_DIR = "/root/testdata/sf0.001"

REG = load_all()


def test_bm25_topk_shape_and_saturation(spark):
    from go_integ_spark.operators.text import BM25_TERMS, BM25_TOP_N

    rows = REG["text_bm25_topk"].fn(spark, SF_DIR).collect()
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    # Every query term matches at least one doc in this corpus.
    assert set(by_term) == set(BM25_TERMS)
    for term, rs in by_term.items():
        assert len(rs) <= BM25_TOP_N
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1)), term
        # Lucene idf variant is always positive, tf > 0 on every
        # emitted row -> every BM25 score is strictly positive.
        for r in rs:
            assert r["bm25"] > 0, r
        # rank order == descending rounded score (doc_id tiebreak).
        by_rank = sorted(rs, key=lambda r: r["rank"])
        for a, b in zip(by_rank, by_rank[1:]):
            assert (a["bm25"], -a["doc_id"]) >= (b["bm25"], -b["doc_id"]), term


def test_dsir_weights_favor_target_language(spark):
    """THE DSIR claim: documents drawn from the target distribution
    get higher importance weights than the rest of the raw pool."""
    out = REG["curation_dsir_weights"].fn(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang"
    )
    j = out.join(docs, "doc_id").collect()
    assert len(j) == 500
    tgt = [r["logw_u"] / r["n_grams"] for r in j if r["lang"] == "en"]
    rest = [r["logw_u"] / r["n_grams"] for r in j if r["lang"] != "en"]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


def test_dsir_model_is_bounded(spark):
    """The broadcast model table is bucket-bounded, not corpus-sized."""
    from go_integ_spark.operators.curation import DSIR_BUCKETS

    out = REG["curation_dsir_weights"].fn(spark, SF_DIR)
    # n_grams per doc equals words-1 (all docs are single-line).
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", (F.size(F.split("text", " ")) - 1).alias("want")
    )
    bad = out.join(docs, "doc_id").filter(F.col("n_grams") != F.col("want"))
    assert bad.count() == 0
    assert DSIR_BUCKETS <= 4096


def test_sq_encode_codes_and_error_bounds(spark):
    from go_integ_spark.operators.similarity import SQ_LEVELS, sq_code_vectors

    rows = REG["similarity_sq_encode"].fn(spark, SF_DIR).collect()
    assert len(rows) == 500
    for r in rows[:50]:
        codes = [int(c) for c in r["code_csv"].split(",")]
        assert len(codes) == 64
        assert all(0 <= c < SQ_LEVELS for c in codes)
        assert r["sq_err_u"] >= 0
    # typed-array form agrees with the serialized gate form
    typed = {r["vec_id"]: r["codes"] for r in sq_code_vectors(spark, SF_DIR).collect()}
    for r in rows[:20]:
        assert typed[r["vec_id"]] == [int(c) for c in r["code_csv"].split(",")]


def test_sq_encode_reconstruction_beats_midpoint_bound(spark):
    """SSE per component is bounded by (bin width / 2)^2: codes
    reconstruct at bin centers, so error can never exceed half a bin
    plus the clamp edge case."""
    from go_integ_spark.operators.similarity import SQ_ERR_SCALE, SQ_LEVELS

    out = REG["similarity_sq_encode"].fn(spark, SF_DIR)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    stats = (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg((F.max("x") - F.min("x")).alias("w"))
        .collect()
    )
    # loosest per-dim bound: half the widest bin, squared, x 64 dims
    worst = max(r["w"] for r in stats) / SQ_LEVELS / 2
    bound_u = 64 * (worst * worst * 1.01 + 1e-9) * SQ_ERR_SCALE
    assert out.filter(F.col("sq_err_u") > bound_u).count() == 0


def test_recall_eval_matches_direct_set_compare(spark):
    """The probe curve's nprobe = IVF_NPROBE point is the recall@k of
    the registered IVF index (ann_ivf_topk) against brute force: a
    direct set compare of the two registered arms must give its hits
    and recall_bp query by query."""
    from go_integ_spark.operators.similarity import (
        IVF_NPROBE,
        TOP_K,
        ann_bruteforce_topk,
        ann_ivf_topk,
    )

    rows = {
        r["query_id"]: r
        for r in REG["similarity_ivf_probe_recall"].fn(spark, SF_DIR).collect()
        if r["nprobe"] == IVF_NPROBE
    }
    truth: dict[int, set] = {}
    for r in ann_bruteforce_topk(spark, SF_DIR).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx: dict[int, set] = {}
    for r in ann_ivf_topk(spark, SF_DIR).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(rows) == set(truth)
    for qid, row in rows.items():
        hits = len(truth[qid] & approx[qid])
        assert row["hits"] == hits, qid
        assert row["recall_bp"] == hits * 10000 // TOP_K
        assert 0 <= row["recall_bp"] <= 10000
    # the pinned IVF recall floor (test_similarity.py) holds here too
    mean_bp = sum(r["recall_bp"] for r in rows.values()) / len(rows)
    assert mean_bp >= 3000


def test_bpe_apply_counts_match_python_reference(spark):
    """Tokenizing with the learned merges must equal the pure-Python
    greedy leftmost BPE on raw text, doc by doc."""
    from go_integ_spark.operators.text import (
        _bpe_apply_merge,
        _bpe_learn_merges,
    )

    merges = _bpe_learn_merges(spark, SF_DIR)
    assert len(merges) == 12
    out = {r["doc_id"]: r for r in REG["text_bpe_apply"].fn(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    assert set(out) == {d["doc_id"] for d in docs if any(w for w in d["text"].split(" "))}
    for d in docs[:40]:
        words = [w for w in d["text"].split(" ") if w]
        n_tokens = 0
        for w in words:
            syms = list(w)
            for _, left, right, _ in merges:
                syms = _bpe_apply_merge(syms, left, right)
            n_tokens += len(syms)
        r = out[d["doc_id"]]
        assert r["n_words"] == len(words)
        assert r["n_tokens"] == n_tokens, d["doc_id"]
        assert r["fert_bp"] == n_tokens * 10000 // len(words)
        # every word is at least one token; merges only shrink
        assert r["n_words"] <= r["n_tokens"] <= sum(len(w) for w in words)


def test_bm25_matches_pure_python_reference(spark):
    """Oracle-independent pin: the SQL oracle shares the counting
    expression with the Spark side, so a counting bug would be
    gate-invisible (the adjacent-duplicate undercount fixed in round
    6 was exactly that class). This recomputes BM25 from raw text in
    plain Python — including exact tf for runs like 'batch batch
    batch' — and requires identical top-k rows."""
    import math

    from go_integ_spark.operators.text import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOP_N,
    )

    docs = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        if len(r["text"]) > 0
    ]
    dl = {d: len(t.split(" ")) for d, t in docs}
    nd, sdl = len(docs), sum(dl.values())
    want = {}
    for term in BM25_TERMS:
        tf = {d: t.split(" ").count(term) for d, t in docs}
        hits = {d: f for d, f in tf.items() if f > 0}
        df_ = len(hits)
        idf = math.log(1.0 + (nd - df_ + 0.5) / (df_ + 0.5))
        scored = sorted(
            (
                (
                    round(
                        idf
                        * (f * (BM25_K1 + 1.0))
                        / (f + BM25_K1 * (1.0 - BM25_B + BM25_B * (dl[d] * nd / sdl))),
                        4,
                    ),
                    d,
                )
                for d, f in hits.items()
            ),
            key=lambda s: (-s[0], s[1]),
        )[:BM25_TOP_N]
        for rank, (score, d) in enumerate(scored, 1):
            want[(term, d)] = (score + 0.0, rank)
    got = {
        (r["term"], r["doc_id"]): (r["bm25"], r["rank"])
        for r in REG["text_bm25_topk"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_dsir_survives_single_word_documents(spark, tmp_path):
    """A one-word document has no bigram; it must be silently absent
    from the weight table, not crash the ANSI-mode transform (the
    sequence(1, 0) descending-array trap fixed in round 6)."""
    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, "solo", "en", "srcA", 4),
            (2, "two words here now ok", "en", "srcA", 21),
            (3, "mehr als ein wort hier", "de", "srcB", 22),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    rows = REG["curation_dsir_weights"].fn(spark, sf).collect()
    assert {r["doc_id"] for r in rows} == {2, 3}
    for r in rows:
        assert r["n_grams"] == 4


def test_dsir_log_ratios_clear_floor_boundaries(spark):
    """libm ln is not correctly rounded and JVM vs DuckDB results can
    differ in the last bit (~2e-16); floor(ln(r) * 1e6) would flip
    across engines only if a bucket's scaled log-ratio sits within
    that divergence of an integer. Assert every actual gate-corpus
    bucket clears its nearest boundary by >= 1e-9 scaled units —
    seven orders of magnitude of margin — so the exact-integer gate
    column logw_u cannot diverge on this corpus."""
    import math

    from go_integ_spark.operators.curation import (
        DSIR_BUCKETS,
        DSIR_SCALE,
        DSIR_TARGET_LANG,
    )
    from go_integ_spark.functions.hashing import h60_py

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    raw: dict[int, int] = {}
    tgt: dict[int, int] = {}
    n_r = n_t = 0
    for r in docs:
        ws = r["text"].split(" ")
        if len(ws) < 2 or not r["text"]:
            continue
        for a, b in zip(ws, ws[1:]):
            bucket = h60_py(a + "\x1f" + b) % DSIR_BUCKETS
            raw[bucket] = raw.get(bucket, 0) + 1
            n_r += 1
            if r["lang"] == DSIR_TARGET_LANG:
                tgt[bucket] = tgt.get(bucket, 0) + 1
                n_t += 1
    assert n_r and n_t
    min_margin = 1.0
    for bucket in raw:
        ratio = ((tgt.get(bucket, 0) + 1) * (n_r + DSIR_BUCKETS)) / (
            (raw[bucket] + 1) * (n_t + DSIR_BUCKETS)
        )
        x = math.log(ratio) * DSIR_SCALE
        # distance from the nearest integer grid line, either side
        # (exactly-on-boundary is the worst case and must fail)
        min_margin = min(min_margin, abs(x - round(x)))
    assert min_margin > 1e-9, min_margin
