"""Invariant pins for the seventh round-6 session's additions, beyond
oracle equality: each operator gets an oracle-INDEPENDENT reference
(pure-Python Fractions, hand-built fixtures) so a flaw shared by the
Spark query and its DuckDB oracle cannot hide (the BM25/DSIR lesson
from earlier in round 6).
"""

from __future__ import annotations

from fractions import Fraction

from go_integ_spark.registry import load_all
from go_integ_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

REG = load_all()


def test_source_divergence_matches_fraction_reference(spark):
    # Third implementation: exact rational TV distance per source via
    # Python Fractions over the raw token stream — independent of both
    # the Spark integer-cross-product algebra and the oracle's.
    docs = load_table(spark, SF_DIR, "documents").select("source", "text").collect()
    corpus: dict[str, int] = {}
    per_src: dict[str, dict[str, int]] = {}
    for r in docs:
        d = per_src.setdefault(r["source"], {})
        for w in r["text"].split(" "):
            d[w] = d.get(w, 0) + 1
            corpus[w] = corpus.get(w, 0) + 1
    n_tot = sum(corpus.values())
    got = {
        r["source"]: r
        for r in REG["corpus_source_divergence"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(per_src)
    for src, cnt in per_src.items():
        n_s = sum(cnt.values())
        tv = sum(
            abs(Fraction(cnt.get(w, 0), n_s) - Fraction(c, n_tot))
            for w, c in corpus.items()
        ) / 2
        top_word = min(
            cnt, key=lambda w: (-(cnt[w] * n_tot - corpus[w] * n_s), w)
        )
        row = got[src]
        assert row["n_tokens"] == n_s
        assert row["n_vocab"] == len(cnt)
        assert row["tv_bp"] == int(tv * 10000)  # floor of the exact rational
        assert row["top_over_word"] == top_word, src
        over = Fraction(cnt[top_word], n_s) - Fraction(corpus[top_word], n_tot)
        assert row["top_over_bp"] == int(over * 10000)
        assert 0 <= row["tv_bp"] <= 10000


def test_bloom_prefilter_matches_pure_python(spark):
    # Third implementation: realize the identical bloom with h60_py
    # over the raw tables and recompute every stat.
    from go_integ_spark.functions.hashing import h60_py
    from go_integ_spark.operators.advanced import (
        BLOOM_BITS_PER_KEY,
        BLOOM_K,
        BLOOM_PRICE_CUT,
    )

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_custkey", "o_totalprice"
    ).collect()
    custs = [r["c_custkey"] for r in load_table(spark, SF_DIR, "customer")
             .select("c_custkey").collect()]
    keys = {r["o_custkey"] for r in orders if r["o_totalprice"] > BLOOM_PRICE_CUT}
    m = BLOOM_BITS_PER_KEY * len(keys) + 1
    bits = {h60_py(f"bloom{i}:{k}") % m for k in keys for i in range(BLOOM_K)}
    pos = {c for c in custs
           if all(h60_py(f"bloom{i}:{c}") % m in bits for i in range(BLOOM_K))}
    (row,) = REG["agg_bloom_prefilter"].fn(spark, SF_DIR).collect()
    assert row["n_keys"] == len(keys)
    assert row["m_bits"] == m
    assert row["n_bits_set"] == len(bits)
    assert row["n_probes"] == len(custs)
    assert row["n_bloom_positive"] == len(pos)
    assert row["n_true_members"] == len(keys & set(custs))
    # no false negatives: every true member is bloom-positive
    assert keys & set(custs) <= pos
    assert row["n_false_positive"] == len(pos - keys)
    neg = len(custs) - row["n_true_members"]
    assert row["fpr_bp"] == (len(pos - keys) * 10000) // max(neg, 1)


def test_ewma_matches_pure_python(spark):
    # Third implementation: the tap-truncated EWMA replayed over
    # per-user Python lists in exact integer arithmetic.
    import math

    from go_integ_spark.operators.events import _EWMA_WEIGHTS, EWMA_TAPS

    ev = sorted(
        load_table(spark, SF_DIR, "events")
        .select("event_id", "user_id", "ts", "value")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    want: dict[int, tuple[int, int, int]] = {}
    hist: dict[int, list[int]] = {}
    for r in ev:
        vu = math.floor(r["value"] * 1000000)
        h = hist.setdefault(r["user_id"], [])
        h.append(vu)
        window = h[-EWMA_TAPS:][::-1]  # most recent first
        num = sum(w * v for w, v in zip(_EWMA_WEIGHTS, window))
        den = sum(_EWMA_WEIGHTS[: len(window)])
        want[r["event_id"]] = (vu, len(window), num // den)
    got = {
        r["event_id"]: (r["v_micro"], r["n_window"], r["ewma_micro"])
        for r in REG["window_ewma_value"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_ewma_converges_to_constant(spark):
    # Smoothing sanity: ewma lies within the window's [min, max].
    rows = REG["window_ewma_value"].fn(spark, SF_DIR).collect()
    for r in rows:
        assert r["n_window"] >= 1
        if r["n_window"] == 1:
            assert r["ewma_micro"] == r["v_micro"]


def test_bot_regularity_matches_pure_python(spark):
    # Third implementation over the raw events.
    from go_integ_spark.operators.events import (
        BOT_GAP_UNIT_US,
        BOT_MIN_GAPS,
        BOT_SHARE_BP,
    )

    ev = sorted(
        load_table(spark, SF_DIR, "events")
        .select("event_id", "user_id", "ts")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    prev: dict[int, object] = {}
    cells: dict[int, dict[int, int]] = {}
    for r in ev:
        p = prev.get(r["user_id"])
        if p is not None:
            us = int((r["ts"] - p).total_seconds() * 1_000_000)
            gm = us // BOT_GAP_UNIT_US
            d = cells.setdefault(r["user_id"], {})
            d[gm] = d.get(gm, 0) + 1
        prev[r["user_id"]] = r["ts"]
    got = {
        r["user_id"]: tuple(r)[1:]
        for r in REG["events_bot_gap_regularity"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(cells)
    for u, d in cells.items():
        n_gaps = sum(d.values())
        gm = min(d, key=lambda g: (-d[g], g))
        share = d[gm] * 10000 // n_gaps
        assert got[u] == (
            n_gaps, gm, d[gm], share,
            n_gaps >= BOT_MIN_GAPS and share >= BOT_SHARE_BP,
        ), u


def test_bot_regularity_flags_injected_scheduler(spark, tmp_path):
    # The organic gate corpus flags nobody; a cron-regular user must
    # flip the verdict.
    import datetime as dt

    from go_integ_spark.operators.events import events_bot_gap_regularity

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    # user 1: a scheduler — one event every 300s exactly (25 gaps)
    for i in range(26):
        rows.append((i, t0 + dt.timedelta(seconds=300 * i), 1, "view", 1.0, "{}"))
    # user 2: organic — irregular gaps, every bucket distinct
    off = 0
    for i in range(26):
        off += 67 * (i + 1)  # strictly growing, all distinct minutes
        rows.append((100 + i, t0 + dt.timedelta(seconds=off), 2, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r["user_id"]: r for r in events_bot_gap_regularity(
            spark, str(tmp_path)
        ).collect()
    }
    assert got[1]["bot_like"] is True
    assert got[1]["modal_share_bp"] == 10000  # every gap identical
    assert got[1]["modal_gap_min"] == 5
    assert got[2]["bot_like"] is False


def test_dedup_impact_consistent_with_dedup_paragraph(spark):
    # The impact report is an exact per-source rollup of the
    # registered per-doc paragraph verdicts, and its token totals
    # conserve the corpus word count.
    per_doc = {
        r["doc_id"]: r for r in REG["dedup_paragraph"].fn(spark, SF_DIR).collect()
    }
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    src_of = {r["doc_id"]: r["source"] for r in docs}
    words = {r["doc_id"]: len(r["text"].split(" ")) for r in docs}
    got = {r["source"]: r for r in
           REG["curation_dedup_impact"].fn(spark, SF_DIR).collect()}
    by_src: dict[str, list[int]] = {}
    for d, r in per_doc.items():
        s = src_of[d]
        acc = by_src.setdefault(s, [0, 0, 0, 0, 0])
        acc[0] += 1
        acc[1] += int(2 * r["n_dup_paras"] > r["n_paras"])
        acc[2] += r["n_paras"]
        acc[3] += r["n_dup_paras"]
        acc[4] += words[d]
    assert set(got) == set(by_src)
    for s, (nd, dropped, np_, ndup, toks) in by_src.items():
        row = got[s]
        assert row["n_docs"] == nd
        assert row["n_docs_dropped"] == dropped
        assert row["n_paras"] == np_
        assert row["n_dup_paras"] == ndup
        # paragraph units tile the document exactly
        assert row["n_tokens"] == toks
        assert 0 <= row["dup_token_bp"] <= 10000
        assert row["n_dup_tokens"] <= row["n_tokens"]


def test_asof_nearest_matches_pure_python(spark):
    # Third implementation: brute-force nearest click per purchase
    # with the backward-wins tie rule.
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", "event_type"
    ).collect()
    clicks: dict[int, list[int]] = {}
    for r in ev:
        if r["event_type"] == "click":
            clicks.setdefault(r["user_id"], []).append(
                int(r["ts"].timestamp() * 1_000_000)
            )
    got = {
        r["event_id"]: (r["near_click_us"], r["delta_us"], r["direction"])
        for r in REG["asof_join_nearest"].fn(spark, SF_DIR).collect()
    }
    n_checked = 0
    for r in ev:
        if r["event_type"] != "purchase":
            continue
        n_checked += 1
        tu = int(r["ts"].timestamp() * 1_000_000)
        cs = clicks.get(r["user_id"], [])
        if not cs:
            assert got[r["event_id"]] == (None, None, None)
            continue
        # nearest by |delta|; ties prefer backward (c <= tu)
        best = min(cs, key=lambda c: (abs(c - tu), c > tu))
        assert got[r["event_id"]] == (
            best,
            abs(best - tu),
            "backward" if best <= tu else "forward",
        ), r["event_id"]
    assert n_checked == len(got) > 0
    # both directions genuinely occur on the gate corpus
    dirs = {d for _, _, d in got.values() if d}
    assert dirs == {"backward", "forward"}


def test_ivf_cell_balance_consistent_with_index(spark):
    # The report must describe the REGISTERED index: recompute sizes
    # from ann_ivf_topk's own assignment machinery and re-derive every
    # summary stat.
    from go_integ_spark.operators.similarity import (
        IVF_K,
        ivf_centroids,
        nearest_cells_pd,
        with_norm,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    v = with_norm(emb)
    (crow,) = ivf_centroids(v).collect()
    cells = [
        r["c"]
        for r in v.select(
            F.element_at(nearest_cells_pd(crow, 1), 1).alias("c")
        ).collect()
    ]
    from collections import Counter

    sizes = sorted(Counter(cells).values())
    (row,) = REG["similarity_ivf_cell_balance"].fn(spark, SF_DIR).collect()
    assert row["n_vectors"] == sum(sizes) == len(cells)
    assert row["n_cells_total"] == IVF_K
    assert row["n_cells_used"] == len(sizes)
    assert row["n_cells_empty"] == IVF_K - len(sizes)
    assert row["min_cell"] == sizes[0]
    assert row["max_cell"] == sizes[-1]
    assert row["imbalance_bp"] == sizes[-1] * IVF_K * 10000 // sum(sizes)
    # imbalance is never below the balanced floor
    assert row["imbalance_bp"] >= 10000 * row["n_cells_used"] // IVF_K


def test_degree_distribution_matches_pairs(spark):
    # Rebuild the histogram from the registered pair query + corpus
    # count; mass must account for every document exactly once.
    from collections import Counter

    pairs = REG["dedup_minhash_lsh"].fn(spark, SF_DIR).collect()
    deg = Counter()
    for p in pairs:
        deg[p["doc_a"]] += 1
        deg[p["doc_b"]] += 1
    n_total = load_table(spark, SF_DIR, "documents").count()
    hist = Counter(deg.values())
    iso = n_total - len(deg)
    if iso > 0:
        hist[0] = iso
    got = {
        r["degree"]: (r["n_docs"], r["share_bp"])
        for r in REG["graph_degree_distribution"].fn(spark, SF_DIR).collect()
    }
    assert got == {
        d: (n, n * 10000 // n_total) for d, n in hist.items()
    }
    assert sum(n for n, _ in got.values()) == n_total


def test_partition_plan_matches_pure_python(spark):
    from go_integ_spark.operators.curation import (
        SINK_HOT_FACTOR,
        SINK_TARGET_FILE_BYTES,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "lang", "source", "text"
    ).collect()
    parts: dict[tuple[str, str], list[int]] = {}
    for r in docs:
        k = (r["lang"], r["source"])
        acc = parts.setdefault(k, [0, 0])
        acc[0] += 1
        acc[1] += len(r["text"].encode("utf-8"))
    total = sum(b for _, b in parts.values())
    got = {
        (r["lang"], r["source"]): r
        for r in REG["sink_partition_plan"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(parts)
    t = SINK_TARGET_FILE_BYTES
    for k, (nd, b) in parts.items():
        row = got[k]
        assert row["n_docs"] == nd
        assert row["bytes"] == b
        assert row["n_files"] == -(-b // t)  # ceil
        assert row["share_bp"] == b * 10000 // total
        assert row["hot"] == (b * len(parts) > SINK_HOT_FACTOR * total)
    # file math conserves: every partition needs at least one file
    assert all(r["n_files"] >= 1 for r in got.values())


def test_attribution_linear_matches_pure_python(spark):
    # Brute-force pair reference with exact credit arithmetic, plus
    # the conservation property: credited mass never exceeds the
    # purchase value and the shortfall is only floor-division dust.
    import math

    from go_integ_spark.operators.events import _ATTR_WIN_US

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    ).collect()
    us = lambda t: int(t.timestamp() * 1_000_000)  # noqa: E731
    clicks = [(r["user_id"], us(r["ts"]), r["event_id"])
              for r in ev if r["event_type"] == "click"]
    want = {}
    for r in ev:
        if r["event_type"] != "purchase":
            continue
        pu = us(r["ts"])
        touches = [c for u, cu, c in clicks
                   if u == r["user_id"] and pu - _ATTR_WIN_US < cu <= pu]
        if not touches:
            continue
        v = math.floor(r["value"] * 1_000_000)
        for cid in touches:
            want[(r["event_id"], cid)] = (
                r["user_id"], len(touches), v // len(touches)
            )
    got = {
        (r["p_id"], r["c_id"]): (r["user_id"], r["n_touch"], r["credit_micro"])
        for r in REG["events_attribution_linear"].fn(spark, SF_DIR).collect()
    }
    assert got == want and len(got) > 0
    for (_, _), (_, n, credit) in got.items():
        assert credit * n >= 0  # nonneg


def test_quality_calibration_matches_pure_python(spark):
    # Rebuild deciles + rollups from the registered classifier output.
    scores = {
        r["doc_id"]: (r["score_u"], r["keep"])
        for r in REG["text_classifier_score"].fn(spark, SF_DIR).collect()
    }
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    order = sorted(chars, key=lambda d: (chars[d], d))
    n = len(order)
    base, extra = divmod(n, 10)
    want: dict[int, list] = {}
    i = 0
    for dec in range(1, 11):
        size = base + (1 if dec <= extra else 0)
        docs = order[i : i + size]
        i += size
        s = sum(scores[d][0] + 1000 for d in docs)
        k = sum(1 for d in docs if scores[d][1])
        want[dec] = [
            len(docs),
            sum(chars[d] for d in docs) // len(docs),
            s // len(docs) - 1000,
            k * 10000 // len(docs),
        ]
    got = {
        r["decile"]: [r["n_docs"], r["avg_chars"], r["mean_score_u"], r["keep_bp"]]
        for r in REG["curation_quality_calibration"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_threshold_sweep_monotone_and_consistent(spark):
    # Monotonicity: higher thresholds keep fewer pairs/docs; and the
    # 0.5 row must equal the registered exact-Jaccard pair query.
    rows = sorted(
        REG["dedup_threshold_sweep"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["threshold_bp"],
    )
    for a, b in zip(rows, rows[1:]):
        assert a["n_pairs"] >= b["n_pairs"]
        assert a["n_docs_affected"] >= b["n_docs_affected"]
    at50 = {r["threshold_bp"]: r for r in rows}[5000]
    exact = REG["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect()
    docs = {d for p in exact for d in (p["doc_a"], p["doc_b"])}
    assert at50["n_pairs"] == len(exact)
    assert at50["n_docs_affected"] == len(docs)


def test_dim_profile_matches_pure_python(spark):
    import math

    from go_integ_spark.operators.similarity import (
        DIM_DEAD_M2_U,
        DIM_DOMINANT_X,
        DIM_OFFSET_U,
    )

    vecs = [
        r["embedding"]
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("embedding")
        .collect()
    ]
    dims = len(vecs[0])
    stats = []
    for d in range(dims):
        xs = [math.floor(float(v[d]) * 1_000_000) for v in vecs]
        n = len(xs)
        mean_u = sum(x + DIM_OFFSET_U for x in xs) // n - DIM_OFFSET_U
        m2_u = sum(x * x for x in xs) // n
        stats.append((n, mean_u, m2_u))
    avg_m2 = sum(m for _, _, m in stats) // dims
    got = {
        r["dim"]: (r["n_vecs"], r["mean_u"], r["m2_u"], r["dead"], r["dominant"])
        for r in REG["embedding_dim_profile"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(range(dims))
    for d, (n, mu, m2) in enumerate(stats):
        assert got[d] == (
            n, mu, m2, m2 < DIM_DEAD_M2_U, m2 > DIM_DOMINANT_X * avg_m2
        ), d


def test_vocab_growth_matches_pure_python(spark):
    docs = sorted(
        load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect(),
        key=lambda r: r["doc_id"],
    )
    n = len(docs)
    base, extra = divmod(n, 10)
    seen: set[str] = set()
    want = []
    cum_docs = cum_tokens = cum_vocab = 0
    i = 0
    for dec in range(1, 11):
        size = base + (1 if dec <= extra else 0)
        new_v = 0
        for r in docs[i : i + size]:
            ws = r["text"].split(" ")
            cum_tokens += len(ws)
            for w in ws:
                if w not in seen:
                    seen.add(w)
                    new_v += 1
        i += size
        cum_docs += size
        cum_vocab += new_v
        want.append((dec, cum_docs, cum_tokens, cum_vocab, new_v))
    got = sorted(
        tuple(r) for r in REG["text_vocab_growth"].fn(spark, SF_DIR).collect()
    )
    assert got == want
    # growth curve is monotone and ends at the full corpus totals
    assert got[-1][1] == n
    assert got[-1][3] == len(seen)


def test_dup_flow_conserves_dedup_impact_mass(spark):
    # Flow rows must sum, per losing source, to exactly the duplicate
    # paragraphs curation_dedup_impact charges that source.
    flow = REG["graph_dup_flow"].fn(spark, SF_DIR).collect()
    impact = {
        r["source"]: r["n_dup_paras"]
        for r in REG["curation_dedup_impact"].fn(spark, SF_DIR).collect()
    }
    per_loser: dict[str, int] = {}
    for r in flow:
        per_loser[r["dup_source"]] = per_loser.get(r["dup_source"], 0) + r["n_paras"]
        assert r["cross_source"] == (r["origin_source"] != r["dup_source"])
        assert r["n_paras"] > 0
    for src, n in impact.items():
        assert per_loser.get(src, 0) == n, src


def test_blocklist_filter_matches_pure_python(spark):
    from go_integ_spark.operators.curation import BLOCKLIST_TERMS

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    got = {
        r["doc_id"]: (r["n_blocked_terms"], r["n_hits"], r["keep"])
        for r in REG["curation_blocklist_filter"].fn(spark, SF_DIR).collect()
    }
    n_dropped = 0
    for r in docs:
        ws = r["text"].split(" ")
        hits = sum(ws.count(t) for t in BLOCKLIST_TERMS)
        terms = sum(1 for t in BLOCKLIST_TERMS if t in ws)
        assert got[r["doc_id"]] == (terms, hits, hits == 0), r["doc_id"]
        n_dropped += hits > 0
    # the stand-in list genuinely fires on this corpus (but not on
    # every doc), so keep=False rows are real data, not vacuous
    assert 0 < n_dropped < len(docs)


def test_blocklist_adjacent_repeats_counted(spark, tmp_path):
    # 'dup dup dup' must count 3 — the doubled-space trick's reason.
    from go_integ_spark.operators.curation import curation_blocklist_filter

    df = spark.createDataFrame(
        [(1, "dup dup dup", "en", "s", 11), (2, "dupdup dup", "en", "s", 10)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_hits"], r["keep"])
        for r in curation_blocklist_filter(spark, str(tmp_path)).collect()
    }
    assert got[1] == (3, False)
    assert got[2] == (1, False)  # 'dupdup' is NOT a word match


def test_session_stats_consistent_with_sessionize(spark):
    # Session-level rows must roll up exactly to the registered
    # per-user sessionize counts, and session durations must respect
    # the 30-minute gap rule.
    stats = REG["events_session_stats"].fn(spark, SF_DIR).collect()
    per_user = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in REG["events_sessionize"].fn(spark, SF_DIR).collect()
    }
    agg: dict[int, list[int]] = {}
    for r in stats:
        a = agg.setdefault(r["user_id"], [0, 0])
        a[0] = max(a[0], r["session_seq"])
        a[1] += r["n_events"]
        assert r["n_events"] >= 1
        assert r["duration_sec"] >= 0
        assert r["n_purchases"] <= r["n_events"]
    assert {u: tuple(v) for u, v in agg.items()} == per_user
    # session count per user equals max seq AND the number of rows
    from collections import Counter

    rows_per_user = Counter(r["user_id"] for r in stats)
    for u, (n_sessions, _) in per_user.items():
        assert rows_per_user[u] == n_sessions


def test_pq_agreement_matches_set_overlap(spark):
    # Direct set compare of the two registered arms.
    from go_integ_spark.operators.similarity import TOP_K

    truth: dict[int, set[int]] = {}
    for r in REG["ann_bruteforce_topk"].fn(spark, SF_DIR).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    pq: dict[int, set[int]] = {}
    for r in REG["similarity_pq_search"].fn(spark, SF_DIR).collect():
        pq.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {
        r["query_id"]: (r["hits"], r["agreement_bp"])
        for r in REG["similarity_pq_agreement"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(pq)
    for q in pq:
        hits = len(pq[q] & truth.get(q, set()))
        assert got[q] == (hits, hits * 10000 // TOP_K), q
        assert 0 <= got[q][1] <= 10000
