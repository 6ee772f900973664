"""Language-model scoring invariants (the oracle sweep covers
value-exactness; these pin the MODEL semantics on controlled
micro-corpora, and the perplexity buckets' geometry on the gate
corpus)."""

from __future__ import annotations

import math

from go_integ_spark.operators.text import text_bigram_logprob


def test_bigram_logprob_model_semantics(spark, tmp_path):
    """On a corpus where the LM is computable by hand: conditional
    probabilities come from corpus-wide prefix counts, every score is
    <= 0 (log of a probability), a doc made of the corpus's only
    high-frequency transition scores 0 (P=1 everywhere), and rarer
    transitions score strictly lower. Single-token docs are absent."""
    rows = [
        # "x y" appears twice and "x z" once across the corpus, so
        # P(y|x) = 2/3, P(z|x) = 1/3.
        (0, "x y"),
        (1, "x y"),
        (2, "x z"),
        # "a a a": P(a|a) = 1 -> avg_logp exactly 0.
        (3, "a a a"),
        # single token: no bigrams, absent from output
        (4, "lonely"),
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        path + "/documents.parquet"
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in text_bigram_logprob(spark, path).collect()
    }
    assert set(got) == {0, 1, 2, 3}
    assert got[3] == (2, 0.0)
    assert got[0] == (1, round(math.log(2 / 3), 4))
    assert got[2] == (1, round(math.log(1 / 3), 4))
    assert got[2][1] < got[0][1] < 0
    assert all(lp <= 0 for _, lp in got.values())


def test_collocations_hand_computed(spark, tmp_path):
    """PMI on a corpus tiny enough to check by hand: a pair that
    always co-occurs scores ln(N^2 * n2 / (M * n1a * n1b)) exactly;
    pairs under the count floor are absent."""
    import math

    from go_integ_spark.operators.text import COLLOC_MIN_COUNT, text_collocations

    # "alpha beta" 5x (collocation), "gamma delta" 4x (under floor)
    rows = [(i, "alpha beta") for i in range(5)] + [
        (10 + i, "gamma delta") for i in range(4)
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        path + "/documents.parquet"
    )
    got = {
        (r["w1"], r["w2"]): (r["n2"], r["pmi"])
        for r in text_collocations(spark, path).collect()
    }
    assert set(got) == {("alpha", "beta")}
    n2, pmi = got[("alpha", "beta")]
    assert n2 == COLLOC_MIN_COUNT
    # N=18 tokens, M=9 bigrams, n1(alpha)=n1(beta)=5
    want = math.log((5 * 18.0 * 18.0) / (9.0 * 5.0 * 5.0))
    assert abs(pmi - round(want, 4)) < 1e-9


def test_bpe_vocab_matches_python_reference(spark):
    """The distributed BPE loop must reproduce, merge for merge, a
    pure-Python BPE over the same word-frequency table: same argmax
    pair each round (count desc, then lexicographic), same greedy
    leftmost-first application, same weighted pair counts."""
    from collections import Counter

    from go_integ_spark.operators.text import (
        BPE_MERGES,
        _bpe_apply_merge,
        text_bpe_vocab,
    )
    from go_integ_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in text_bpe_vocab(spark, sf).orderBy("merge_rank").collect()
    ]

    counts = Counter()
    for row in load_table(spark, sf, "documents").select("text").collect():
        for w in row["text"].split(" "):
            if w:
                counts[w] += 1
    vocab: dict[tuple, int] = {}
    for word, cnt in counts.items():
        key = tuple(word)
        vocab[key] = vocab.get(key, 0) + cnt

    want = []
    for rank in range(BPE_MERGES):
        pairs: Counter = Counter()
        for syms, cnt in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += cnt
        if not pairs:
            break
        (left, right), pc = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((rank, left, right, pc))
        merged: dict[tuple, int] = {}
        for syms, cnt in vocab.items():
            key = tuple(_bpe_apply_merge(list(syms), left, right))
            merged[key] = merged.get(key, 0) + cnt
        vocab = merged
    assert got == want


def test_bpe_oracle_separator_absent(spark):
    """The BPE oracle's string encoding relies on \\x1f never
    appearing inside a corpus token (symbols must not contain the
    boundary separator). Pinned here against every test SF so a
    future corpus change that violates the encoding assumption fails
    loudly instead of silently corrupting the oracle."""
    import duckdb

    from go_integ_spark.operators.text import _BPE_SEP

    for sf in ("0.001", "0.01", "0.1"):
        n = duckdb.sql(
            "SELECT count(*) FROM "
            f"'/root/testdata/sf{sf}/documents.parquet' "
            "WHERE text LIKE '%' || chr(31) || '%'"
        ).fetchone()[0]
        assert n == 0, f"sf{sf}: corpus contains {_BPE_SEP!r}"


def test_bpe_oracle_survives_early_merge_exhaustion(spark, tmp_path):
    """A corpus whose vocabulary fully merges in fewer than
    BPE_MERGES rounds must NOT collapse the unrolled oracles: the
    Spark side breaks out of the merge loop early, and each dead
    oracle round is a LEFT-JOIN no-op (a CROSS JOIN against the
    empty best-pair CTE used to empty every later round, zeroing
    the final SELECT)."""
    import duckdb

    from go_integ_spark.operators.text import text_bpe_apply, text_bpe_vocab
    from go_integ_spark.registry import REGISTRY

    docs = spark.createDataFrame(
        [(1, "ab ab ab"), (2, "ab cd"), (3, "cd cd ab")],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    for name, fn in (
        ("text_bpe_vocab", text_bpe_vocab),
        ("text_bpe_apply", text_bpe_apply),
    ):
        got = sorted(map(tuple, fn(spark, str(tmp_path)).collect()))
        want = sorted(map(tuple, con.execute(REGISTRY[name].oracle).fetchall()))
        assert got == want, name
        assert got, f"{name}: empty result on the exhausted corpus"


def test_perplexity_buckets_geometry(spark):
    from go_integ_spark.registry import load_all

    rows = load_all()["text_perplexity_buckets"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert len(by_lang) >= 2
    for lang, rs in by_lang.items():
        n = len(rs)
        counts = {"head": 0, "middle": 0, "tail": 0}
        for r in rs:
            counts[r["ppl_bucket"]] += 1
        # Value thresholds put ties in the better bucket, so head and
        # head+middle can only EXCEED their rank targets, never fall
        # short; all three cover the scored set exactly.
        assert counts["head"] >= math.ceil(n / 3), (lang, counts)
        assert counts["head"] + counts["middle"] >= math.ceil(2 * n / 3)
        assert sum(counts.values()) == n
        # Score ordering respects bucket ordering: every head score >=
        # every middle score >= every tail score.
        worst = {}
        best = {}
        for r in rs:
            b = r["ppl_bucket"]
            worst[b] = min(worst.get(b, r["avg_logp"]), r["avg_logp"])
            best[b] = max(best.get(b, r["avg_logp"]), r["avg_logp"])
        for hi, lo in (("head", "middle"), ("middle", "tail")):
            if hi in worst and lo in best:
                assert worst[hi] >= best[lo], (lang, worst, best)
