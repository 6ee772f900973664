"""Invariant pins for the sixth round-6 session's additions, beyond
oracle equality: triangle counting re-derived by an oracle-independent
pure-Python implementation, and RRF fusion algebra recomputed from
independently re-ranked lexical and dense lists.
"""

from __future__ import annotations

import math

from go_integ_spark.operators.dedup import TRI_CC_SCALE
from go_integ_spark.operators.similarity import (
    IVF_NPROBE,
    N_QUERIES,
    RRF_DEPTH,
    RRF_K,
    RRF_SCALE,
    TOP_K,
)
from go_integ_spark.registry import load_all
from go_integ_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

REG = load_all()


def test_triangles_match_pure_python(spark):
    # Oracle-independent third implementation: rebuild the graph from
    # the registered LSH pair query and count triangles by closing
    # oriented wedges over Python sets.
    pairs = REG["dedup_minhash_lsh"].fn(spark, SF_DIR).collect()
    edges = {(p["doc_a"], p["doc_b"]) for p in pairs}
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    tri_cnt: dict[int, int] = {}
    n_tri = 0
    for a, b in edges:
        for c in nbrs[a] & nbrs[b]:
            if b < c:  # a < b from orientation; c closes a < b < c
                n_tri += 1
                for v in (a, b, c):
                    tri_cnt[v] = tri_cnt.get(v, 0) + 1
    got = {
        r["doc_id"]: (r["degree"], r["tri_cnt"], r["cc_bp"])
        for r in REG["graph_triangle_count"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(nbrs)
    for v, ns in nbrs.items():
        d, t = len(ns), tri_cnt.get(v, 0)
        cc = (t * 2 * TRI_CC_SCALE) // (d * (d - 1)) if d >= 2 else 0
        assert got[v] == (d, t, cc), v
    assert n_tri > 0  # the graph is non-trivial at sf0.001
    assert sum(t for _, t, _ in got.values()) == 3 * n_tri


def test_triangle_invariants(spark):
    rows = REG["graph_triangle_count"].fn(spark, SF_DIR).collect()
    for r in rows:
        assert r["degree"] >= 1
        # cc in [0, 1]: tri_cnt can never exceed deg*(deg-1)/2.
        assert 0 <= r["cc_bp"] <= TRI_CC_SCALE, r
        if r["tri_cnt"] > 0:
            assert r["degree"] >= 2, r


def _python_rrf(spark):
    """Full fusion recomputed from scratch: lexical Jaccard over
    Python word sets; dense cosine replaying the JVM fold's exact
    float sequence (one rounded multiply + one rounded add per
    dimension — Python floats are IEEE doubles, so the loop below is
    bit-identical to the aggregate/zip_with expression)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    words = {
        r["doc_id"]: set(w for w in r["text"].split(" ") if w)
        for r in docs
        if len(r["text"]) > 0
    }
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb}

    def norm(v):
        acc = 0.0
        for x in v:
            acc += x * x
        return math.sqrt(acc)

    norms = {k: norm(v) for k, v in vecs.items()}

    def cos(a, b):
        acc = 0.0
        for x, y in zip(vecs[a], vecs[b]):
            acc += x * y
        return acc / (norms[a] * norms[b])

    expect = {}
    for q in range(N_QUERIES):
        qw = words[q]
        lex_scored = []
        for d, w in words.items():
            if d == q:
                continue
            c = len(qw & w)
            if c > 0:
                lex_scored.append((-(c * 10000 // (len(qw) + len(w) - c)), d))
        lex_scored.sort()
        lex = {d: i + 1 for i, (_, d) in enumerate(lex_scored[:RRF_DEPTH])}
        dense_scored = sorted(
            (-cos(q, d), d) for d in vecs if d != q
        )
        dense = {d: i + 1 for i, (_, d) in enumerate(dense_scored[:RRF_DEPTH])}
        fused = []
        for d in set(lex) | set(dense):
            s = 0
            if d in lex:
                s += RRF_SCALE // (RRF_K + lex[d])
            if d in dense:
                s += RRF_SCALE // (RRF_K + dense[d])
            fused.append((-s, d))
        fused.sort()
        for rank, (neg_s, d) in enumerate(fused[:TOP_K], start=1):
            expect[(q, d)] = (-neg_s, lex.get(d), dense.get(d), rank)
    return expect


def test_rrf_matches_pure_python(spark):
    expect = _python_rrf(spark)
    rows = REG["similarity_hybrid_rrf"].fn(spark, SF_DIR).collect()
    got = {
        (r["query_id"], r["doc_id"]): (
            r["rrf_micro"],
            r["lex_rank"],
            r["dense_rank"],
            r["rank"],
        )
        for r in rows
    }
    assert got == expect


def test_rrf_invariants(spark):
    rows = REG["similarity_hybrid_rrf"].fn(spark, SF_DIR).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
        # The fused score must be exactly reconstructible from the
        # two ranks — no float ever enters the fusion.
        s = 0
        if r["lex_rank"] is not None:
            assert 1 <= r["lex_rank"] <= RRF_DEPTH
            s += RRF_SCALE // (RRF_K + r["lex_rank"])
        if r["dense_rank"] is not None:
            assert 1 <= r["dense_rank"] <= RRF_DEPTH
            s += RRF_SCALE // (RRF_K + r["dense_rank"])
        assert r["rrf_micro"] == s and s > 0, r
    assert set(by_q) == set(range(N_QUERIES))
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        micro = [r["rrf_micro"] for r in rs]
        assert micro == sorted(micro, reverse=True), q
        # A doc ranked by both lists must outscore any doc whose only
        # contribution is a deeper single-list rank of the same kind.
        assert len(rs) == TOP_K


def test_ndcg_matches_recall_and_recompute(spark):
    from go_integ_spark.operators.similarity import _NDCG_IDCG, _NDCG_W

    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in REG["ann_bruteforce_topk"].fn(spark, SF_DIR).collect()
    }
    approx = REG["ann_ivf_topk"].fn(spark, SF_DIR).collect()
    expect: dict[int, tuple[int, int]] = {}
    for r in approx:
        h, d = expect.get(r["query_id"], (0, 0))
        if (r["query_id"], r["neighbor_id"]) in truth:
            h, d = h + 1, d + _NDCG_W[r["rank"] - 1]
        expect[r["query_id"]] = (h, d)
    rows = REG["similarity_ndcg_eval"].fn(spark, SF_DIR).collect()
    recall = {
        r["query_id"]: r["hits"]
        for r in REG["similarity_ivf_probe_recall"].fn(spark, SF_DIR).collect()
        if r["nprobe"] == IVF_NPROBE
    }
    assert {r["query_id"] for r in rows} == set(range(N_QUERIES))
    for r in rows:
        h, d = expect[r["query_id"]]
        assert (r["hits"], r["dcg_micro"]) == (h, d), r
        assert r["hits"] == recall[r["query_id"]]
        assert r["ndcg_bp"] == d * 10000 // _NDCG_IDCG
        assert 0 <= r["ndcg_bp"] <= 10000
        # Perfect-order sanity: full hits at perfect order would be
        # exactly IDCG; any miss keeps dcg strictly below it.
        if r["hits"] < len(_NDCG_W):
            assert r["dcg_micro"] < _NDCG_IDCG


def test_mirror_blocklist_consistent_with_pagerank(spark):
    from go_integ_spark.operators.curation import MIRROR_DUP_THRESHOLD

    rows = REG["curation_mirror_blocklist"].fn(spark, SF_DIR).collect()
    # graph_pagerank_sources derives dup_weight from the same edge
    # list through a different code path (checkpointed edge frame) —
    # the two must agree source by source.
    pr = {
        r["source"]: r["dup_weight"]
        for r in REG["graph_pagerank_sources"].fn(spark, SF_DIR).collect()
    }
    docs = load_table(spark, SF_DIR, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert {r["source"] for r in rows} == set(pr)
    blocked = 0
    for r in rows:
        assert r["dup_weight"] == pr[r["source"]], r
        assert r["blocked"] == (r["dup_weight"] >= MIRROR_DUP_THRESHOLD)
        assert r["n_docs_dropped"] == (r["n_docs"] if r["blocked"] else 0)
        blocked += int(r["blocked"])
    # The threshold separates: some sources blocked, some kept.
    assert 0 < blocked < len(rows)


def test_holdout_split_deterministic_and_complete(spark):
    from go_integ_spark.functions.hashing import h60_py
    from go_integ_spark.operators.curation import (
        SPLIT_MOD,
        SPLIT_TRAIN_LT,
        SPLIT_VAL_LT,
    )

    rows = REG["curation_holdout_split"].fn(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    expect: dict[tuple[str, str], list[int]] = {}
    for r in docs:
        b = h60_py(str(r["doc_id"])) % SPLIT_MOD
        s = "train" if b < SPLIT_TRAIN_LT else ("val" if b < SPLIT_VAL_LT else "test")
        nd_nt = expect.setdefault((r["source"], s), [0, 0])
        nd_nt[0] += 1
        nd_nt[1] += len(r["text"].split())
    got = {
        (r["source"], r["split"]): [r["n_docs"], r["total_tokens"]]
        for r in rows
    }
    assert got == expect
    # Every split is populated and the 90/5/5 shape roughly holds.
    by_split: dict[str, int] = {}
    for (_, s), (nd, _) in got.items():
        by_split[s] = by_split.get(s, 0) + nd
    n = sum(by_split.values())
    assert n == len(docs)
    assert set(by_split) == {"train", "val", "test"}
    assert by_split["train"] > by_split["val"] + by_split["test"]


def test_split_leakage_matches_pure_python(spark):
    from go_integ_spark.functions.hashing import h60_py
    from go_integ_spark.operators.curation import (
        SPLIT_MOD,
        SPLIT_TRAIN_LT,
        SPLIT_VAL_LT,
    )
    from go_integ_spark.operators.dedup import SHINGLE_K

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    shingles: dict[int, set[tuple[str, ...]]] = {}
    for r in docs:
        w = r["text"].split(" ")
        if len(w) >= SHINGLE_K:
            shingles[r["doc_id"]] = {
                tuple(w[i : i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1)
            }
    train_vocab: set[tuple[str, ...]] = set()
    split_of = {}
    for d in shingles:
        b = h60_py(str(d)) % SPLIT_MOD
        if b < SPLIT_TRAIN_LT:
            split_of[d] = "train"
            train_vocab |= shingles[d]
        else:
            split_of[d] = "val" if b < SPLIT_VAL_LT else "test"
    expect: dict[str, list[int]] = {"val": [0, 0, 0, 0], "test": [0, 0, 0, 0]}
    for d, s in split_of.items():
        if s == "train":
            continue
        grams = shingles[d]
        hit = len(grams & train_vocab)
        agg = expect[s]
        agg[0] += 1
        agg[1] += len(grams)
        agg[2] += hit
        agg[3] += int(hit * 2 >= len(grams))
    rows = REG["curation_split_leakage"].fn(spark, SF_DIR).collect()
    assert {r["split"] for r in rows} == {"val", "test"}
    for r in rows:
        nd, ng, nh, maj = expect[r["split"]]
        assert (r["n_docs"], r["n_grams"], r["n_hit"]) == (nd, ng, nh), r
        assert r["leak_bp"] == nh * 10000 // ng
        assert r["n_docs_majority_leaked"] == maj


def test_cluster_purity_consistent_with_kmeans(spark):
    # embedding_kmeans reports cluster sizes through the identical
    # fixed-point Lloyd loop — purity's n_vectors must agree, and
    # purity algebra must hold per cluster.
    sizes = {
        r["cid"]: r["n_vectors"]
        for r in REG["embedding_kmeans"].fn(spark, SF_DIR).collect()
    }
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    rows = REG["similarity_cluster_purity"].fn(spark, SF_DIR).collect()
    assert {r["cid"] for r in rows} == set(sizes)
    n_labels = len(set(labels.values()))
    for r in rows:
        assert r["n_vectors"] == sizes[r["cid"]], r
        assert 1 <= r["n_majority"] <= r["n_vectors"]
        # majority floor: the largest label class is at least 1/L.
        assert r["n_majority"] * n_labels >= r["n_vectors"]
        assert r["purity_bp"] == r["n_majority"] * 10000 // r["n_vectors"]
    assert sum(r["n_vectors"] for r in rows) == len(labels)


def test_rake_matches_pure_python(spark):
    from go_integ_spark.operators.text import (
        RAKE_MAX_LEN,
        RAKE_STOPWORDS,
        RAKE_TOP_N,
    )

    docs = load_table(spark, SF_DIR, "documents").select("text").collect()
    stop = set(RAKE_STOPWORDS)
    cand: list[list[str]] = []
    for r in docs:
        if not r["text"]:
            continue
        run: list[str] = []
        for w in r["text"].split(" "):
            if not w:
                continue
            if w in stop:
                if 1 <= len(run) <= RAKE_MAX_LEN:
                    cand.append(run)
                run = []
            else:
                run.append(w)
        if 1 <= len(run) <= RAKE_MAX_LEN:
            cand.append(run)
    freq: dict[str, int] = {}
    deg: dict[str, int] = {}
    for ws in cand:
        for w in ws:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(ws)
    score = {w: deg[w] * 10000 // freq[w] for w in freq}
    occ: dict[str, int] = {}
    words_of: dict[str, list[str]] = {}
    for ws in cand:
        p = " ".join(ws)
        occ[p] = occ.get(p, 0) + 1
        words_of[p] = ws
    pscore = {p: sum(score[w] for w in ws) for p, ws in words_of.items()}
    expect_order = sorted(pscore, key=lambda p: (-pscore[p], p))[:RAKE_TOP_N]
    expect = {
        p: (len(words_of[p]), occ[p], pscore[p]) for p in expect_order
    }
    rows = REG["text_rake_keywords"].fn(spark, SF_DIR).collect()
    got = {
        r["phrase"]: (r["n_words"], r["n_occurrences"], r["score_bp"])
        for r in rows
    }
    assert got == expect
    assert len(rows) == RAKE_TOP_N


def test_user_lifetime_algebra(spark):
    rows = REG["events_user_lifetime"].fn(spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_type"
    ).collect()
    by_user: dict[int, list] = {}
    for e in ev:
        by_user.setdefault(e["user_id"], []).append(e)
    assert {r["user_id"] for r in rows} == set(by_user)
    for r in rows:
        evs = by_user[r["user_id"]]
        first = min(e["ts"] for e in evs)
        last = max(e["ts"] for e in evs)
        span_us = int((last - first).total_seconds() * 1e6 + 0.5)
        assert r["first_seen"] == first and r["last_seen"] == last
        assert r["n_events"] == len(evs)
        assert r["n_purchases"] == sum(
            1 for e in evs if e["event_type"] == "purchase"
        )
        assert r["span_sec"] == span_us // 1000000
        assert r["events_per_day_centi"] == (
            len(evs) * 100 * 86400000000 // max(span_us, 1)
        )


def test_markov_next_is_argmax_of_transition_matrix(spark):
    tm = REG["events_transition_matrix"].fn(spark, SF_DIR).collect()
    cells: dict[str, list] = {}
    for r in tm:
        cells.setdefault(r["prev_type"], []).append((r["next_type"], r["n"]))
    rows = REG["events_markov_next"].fn(spark, SF_DIR).collect()
    assert {r["prev_type"] for r in rows} == set(cells)
    for r in rows:
        cs = cells[r["prev_type"]]
        best = min(cs, key=lambda c: (-c[1], c[0]))
        total = sum(n for _, n in cs)
        assert (r["top_next_type"], r["n_top"]) == best, r
        assert r["n_total"] == total
        assert r["p_bp"] == best[1] * 10000 // total


def test_weighted_median_matches_pure_python(spark):
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    ).collect()
    groups: dict[str, list] = {}
    for r in li:
        groups.setdefault(r["l_returnflag"], []).append(
            (r["l_extendedprice"], int(r["l_quantity"]))
        )
    rows = REG["agg_weighted_median"].fn(spark, SF_DIR).collect()
    assert {r["l_returnflag"] for r in rows} == set(groups)
    for r in rows:
        g = sorted(groups[r["l_returnflag"]])
        tot = sum(q for _, q in g)
        cum = 0
        med = None
        i = 0
        while i < len(g):
            # peers share one cumulative weight (RANGE frame)
            j = i
            while j < len(g) and g[j][0] == g[i][0]:
                cum += g[j][1]
                j += 1
            if med is None and 2 * cum >= tot:
                med = g[i][0]
            i = j
        assert r["n_rows"] == len(g)
        assert r["total_qty"] == tot
        assert r["weighted_median_price"] == med, r
        # At least half the weight sits at or below the pick.
        below = sum(q for p, q in g if p <= med)
        assert 2 * below >= tot
