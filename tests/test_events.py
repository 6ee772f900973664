"""Event-join semantics pinned by an oracle-independent reference:
when the Spark query and its DuckDB oracle come from one mental
model, a shared flaw is invisible to the value gate, so the as-of
join is also replayed in pure Python from the raw parquet."""

from __future__ import annotations

import calendar

from go_integ_spark.registry import load_all

SF_DIR = "/root/testdata/sf0.001"

REG = load_all()


def test_asof_tolerance_matches_python_replay(spark):
    from go_integ_spark.operators.advanced import ASOF_TOLERANCE_US

    rows = REG["asof_join_tolerance"].fn(spark, SF_DIR).collect()
    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )

    def us(ts):
        # events.ts collects as TIMESTAMP_NTZ, whose PySpark collect
        # path (TimestampNTZType.fromInternal) is UTC-fixed
        # regardless of host OR session timezone — so timegm is the
        # exact all-integer inverse. NB: an LTZ (TimestampType)
        # column collects in HOST-local wall clock and would need
        # .astimezone, not this.
        return calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
    by_user: dict[int, list] = {}
    for r in ev:
        if r["event_type"] in ("click", "purchase"):
            by_user.setdefault(r["user_id"], []).append(r)
    want = {}
    for u, rs in by_user.items():
        rs.sort(key=lambda r: (us(r["ts"]), r["event_type"] != "click", r["event_id"]))
        last_click = None
        for r in rs:
            if r["event_type"] == "click":
                last_click = us(r["ts"])
            else:
                tu = us(r["ts"])
                hit = last_click is not None and tu - last_click <= ASOF_TOLERANCE_US
                want[r["event_id"]] = (
                    hit,
                    last_click if hit else None,
                    (tu - last_click) if hit else None,
                )
    got = {
        r["event_id"]: (r["matched"], r["click_us"], r["delta_us"]) for r in rows
    }
    assert got == want
    assert any(m for m, _, _ in want.values()), "no matched purchases"
    assert any(not m for m, _, _ in want.values()), "tolerance never binds"
