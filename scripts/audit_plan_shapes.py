"""Plan-shape audit over every registered batch query at sf0.001:
counts Exchanges, Python-eval nodes, flags duplicate evaluation of
the same UDF (the guide-4.4 pattern), CartesianProduct, and
BroadcastNestedLoopJoin. Streaming queries are skipped (their .fn
runs the streaming engine; their plan evidence lives elsewhere).
"""
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from go_integ_spark.registry import load_all
from go_integ_spark.session import get_spark

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark(app_name="plan_scan")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    report = {}
    for name, spec in sorted(reg.items()):
        if "streaming" in spec.tags or name.startswith("streaming_"):
            continue
        try:
            df = spec.fn(spark, SF)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:
            report[name] = {"err": f"{type(e).__name__}: {e}"[:120]}
            continue
        # Only the numbered detail section (one entry per node)
        detail = plan.split("\n\n", 1)[-1]
        nodes = re.findall(r"^\((\d+)\) ([A-Za-z]+)", detail, re.M)
        counts = {}
        for _, n in nodes:
            counts[n] = counts.get(n, 0) + 1
        # duplicate python eval detection: same udf name evaluated twice
        evals = re.findall(
            r"^\(\d+\) (?:ArrowEvalPython|BatchEvalPython)\n.*?Arguments: \[([a-zA-Z0-9_]+)\(",
            detail,
            re.M,
        )
        dupes = sorted({u for u in evals if evals.count(u) > 1})
        row = {
            "exchange": counts.get("Exchange", 0),
            "bcast": counts.get("BroadcastExchange", 0),
            "pyeval": counts.get("ArrowEvalPython", 0) + counts.get("BatchEvalPython", 0),
            "cogroup": counts.get("FlatMapCoGroupsInPandas", 0),
            "mapin": counts.get("MapInPandas", 0) + counts.get("PythonMapInArrow", 0),
        }
        if dupes:
            row["DUP_UDF"] = dupes
        if counts.get("CartesianProduct"):
            row["CARTESIAN"] = counts["CartesianProduct"]
        if counts.get("BroadcastNestedLoopJoin"):
            row["BNLJ"] = counts["BroadcastNestedLoopJoin"]
        report[name] = row

    with open(os.environ.get("SG_PLAN_SCAN_OUT", "/tmp/plan_scan.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)

    flagged = {k: v for k, v in report.items() if "DUP_UDF" in v or "CARTESIAN" in v or "err" in v}
    print(json.dumps(flagged, indent=1, sort_keys=True))
    print(f"scanned {len(report)} queries; flagged {len(flagged)}")
    spark.stop()


if __name__ == "__main__":
    main()
