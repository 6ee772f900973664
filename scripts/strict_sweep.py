"""Bit-exact driver-paranoia sweep: every registered query vs its
oracle at sf0.01 with NO float forgiveness — IEEE bit patterns must
match (so -0.0 vs +0.0, last-ULP drift, and NaN payloads all fail).
The pytest oracle sweep rounds to 9 digits and collapses signed
zero, which is exactly how round 5's text_collocations -0.0 red
escaped local detection; this sweep closes that gap.

Usage: python scripts/strict_sweep.py [--sf DIR] [name ...]
Names restrict the sweep to those queries (the fast inner loop while
developing an operator); no names sweeps every registered query.
Exits 1 if any query is not bit-exact.
"""

from __future__ import annotations

import argparse
import os
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _strict(v):
    if isinstance(v, bool) or v is None:
        return ("b", v)
    if isinstance(v, float):
        return ("f", struct.pack("<d", v))  # bit pattern: -0.0 != 0.0, NaN canonical per payload
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, bytes):
        return ("y", v)
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    return ("s", str(v))


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_strict(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main() -> None:
    import duckdb

    from go_integ_spark.registry import load_all
    from go_integ_spark.session import get_spark
    from go_integ_spark.tables import TABLE_NAMES

    ap = argparse.ArgumentParser(prog="strict_sweep.py")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="scale-factor dir")
    ap.add_argument("names", nargs="*", help="queries to check (default: all)")
    args = ap.parse_args()
    sf_dir = args.sf
    reg = load_all()
    names = args.names or sorted(reg)
    spark = get_spark(app_name="strict_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    fails = []
    for name in names:
        try:
            spec = reg[name]
            df = spec.fn(spark, sf_dir)
            s_rows = [tuple(r) for r in df.collect()]
            cur = con.execute(spec.oracle)
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
            if sorted(df.columns) != sorted(o_cols):
                fails.append((name, "columns"))
                print(f"FAIL {name}: columns {sorted(df.columns)} vs {sorted(o_cols)}", flush=True)
                continue
            sc, oc = canon(df.columns, s_rows), canon(o_cols, o_rows)
            if sc != oc:
                fails.append((name, "values"))
                print(f"FAIL {name}: values ({len(sc)} vs {len(oc)} rows)")
                print("  first aligned diffs:", [(a, b) for a, b in zip(sc, oc) if a != b][:3])
                print("  spark-only:", [r for r in sc if r not in oc][:2])
                print("  oracle-only:", [r for r in oc if r not in sc][:2], flush=True)
            else:
                print(f"ok   {name} ({len(sc)} rows)", flush=True)
        except Exception as e:  # noqa: BLE001 - report-and-continue sweep
            fails.append((name, f"error {e}"))
            print(f"ERR  {name}: {str(e)[:200]}", flush=True)
    print(f"\n{len(names) - len(fails)}/{len(names)} bit-exact; failures: {fails}")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
