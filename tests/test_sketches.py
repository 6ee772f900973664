"""Sketch guarantees beyond oracle equality: the count-min sketch
never undercounts, and the rolling-distinct DAU/WAU counts that the
HLL op measures its sketch against obey the sliding-window algebra."""

from __future__ import annotations

from go_integ_spark.registry import load_all

SF_DIR = "/root/testdata/sf0.001"

REG = load_all()


def test_countmin_is_one_sided(spark):
    rows = REG["agg_countmin_sketch"].fn(spark, SF_DIR).collect()
    assert rows, "top-k heavy hitters must be non-empty"
    assert {r["rank"] for r in rows} == set(range(1, len(rows) + 1))
    for r in rows:
        # THE count-min guarantee: never undercounts.
        assert r["cms_n"] >= r["exact_n"], r
        assert r["overcount"] == r["cms_n"] - r["exact_n"]


def test_rolling_distinct_window_algebra(spark):
    out = REG["window_rolling_distinct_hll"].fn(spark, SF_DIR)
    rows = sorted(out.collect(), key=lambda r: r["day"])
    assert rows
    daus = {r["day"]: r["dau"] for r in rows}
    for r in rows:
        window_daus = [
            d for day, d in daus.items() if 0 <= (r["day"] - day).days <= 6
        ]
        # WAU dominates every constituent DAU and never exceeds their sum.
        assert r["wau"] >= max(window_daus), r
        assert r["wau"] <= sum(window_daus), r
