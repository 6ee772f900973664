"""Dump per-query ``explain("formatted")`` files for an optimization
round's evidence directory.

    python scripts/dump_round_plans.py <round> before [name ...]
    python scripts/dump_round_plans.py <round> after  [name ...]

With no names: every bench=True headline query. Writes
``plans/<round>/<query>_<suffix>.txt`` (e.g. ``plans/r14/``) — the
committed before/after plan evidence an OPTIMIZATION_<round>.md's
claims are checked against.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_integ_spark.registry import load_all  # noqa: E402
from go_integ_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit("usage: dump_round_plans.py <round> before|after [query ...]")
    rnd, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    if not names:
        names = [n for n, spec in registry.items() if spec.bench]
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump_round_plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        spec = registry[name]
        df = spec.fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted') at {sf_dir} ({suffix})\n\n")
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
