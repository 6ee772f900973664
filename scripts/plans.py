"""Formatted physical plans and plan fingerprints of registered ops.

    SPARK_GRAFT_SF_DIR=<sf dir> python scripts/plans.py OUT [name ...]

With no names: every registered op, in sorted order. Writes each op's
``explain("formatted")`` under a ``## name`` header into the markdown
file OUT (the PLANS.md format) and prints one ``sha256  name`` line
per op. The sha256 is taken after the ids and paths that differ
between two processes planning the same op are normalised, so two
fresh runs print identical lines; scripts/check.sh compares two.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_integ_spark.registry import load_all  # noqa: E402
from go_integ_spark.session import get_spark  # noqa: E402

# expression ids, exchange plan ids, UUIDs, temp paths and RDD ids
# differ between processes planning the same op
_NORMALISE = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "UUID"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/P"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # A cached frame's plan is an adaptive plan that has already run.
    # Its stage sizes are measured: a broadcast stage's is its hash
    # relation's memory pages, 16 or 64 MiB for the same 22 rows.
    (re.compile(r"sizeInBytes=[^,)]*"), "sizeInBytes=S"),
)
# ... and its stage and codegen ids count in the order its independent
# stages happened to finish; renumber them in order of appearance
_RENUMBER = (
    re.compile(r"(QueryStage\n.*\nArguments: )(\d+)"),
    re.compile(r"(\[codegen id : )(\d+)"),
)


def fingerprint(plan: str) -> str:
    for pattern, repl in _NORMALISE:
        plan = pattern.sub(repl, plan)
    for pattern in _RENUMBER:
        seen: dict[str, int] = {}
        plan = pattern.sub(lambda m: m[1] + str(seen.setdefault(m[2], len(seen))), plan)
    return hashlib.sha256(plan.encode()).hexdigest()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(sys.argv) < 2 or not sf_dir:
        sys.exit(__doc__)
    out_path = sys.argv[1]
    registry = load_all()
    names = sys.argv[2:] or sorted(registry)
    spark = get_spark(app_name="plans")
    spark.sparkContext.setLogLevel("ERROR")
    # shuffle partitions follow the core count, so the plans do too
    env = f"SPARK_GRAFT_CPUS={spark.sparkContext.defaultParallelism} SPARK_GRAFT_SF_DIR={sf_dir}"
    cmd = " ".join([env, "python scripts/plans.py", *sys.argv[1:]])
    out = [
        "# PLANS — formatted physical plans",
        "",
        f"Regenerate with `{cmd}`.",
        "Read for: filters/columns reaching the scan (`PushedFilters`,",
        "`ReadSchema`), broadcast vs shuffle joins, exchange counts,",
        "whole-stage-codegen spans.",
        "",
    ]
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        ).rstrip()
        print(f"{fingerprint(plan)}  {name}", flush=True)
        out += [f"## {name}", "", "```", plan, "```", ""]
    with open(out_path, "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
