#!/usr/bin/env bash
# Round-close validation in one command (the repo-local analogue of
# the reference's go.yml race+cover gate on every push): lint/syntax,
# the full pytest suite — which includes the every-registered-query
# DuckDB oracle sweep at sf0.001 (tests/test_queries_oracle.py) —
# the plan-determinism gate (two fresh processes must print the same
# normalised plan sha256 for every registered op, scripts/plans.py)
# and the two driver-facing surfaces (the bench's one JSON line;
# __spark_entry__ contract is exercised by tests/test_schema.py).
#
#   scripts/check.sh            # full check (tier-1 alone ~580 s on a 4-core host)
#   GO_INTEG_SF=.../sf0.01 scripts/check.sh   # tier-1's oracle sweep at sf0.01
#
# Here GO_INTEG_SF moves only tier-1's oracle sweep
# (tests/test_queries_oracle.py; scripts/audit_oracle_types.py reads it
# too). The plan-fingerprint and bench steps read SPARK_GRAFT_SF_DIR
# instead (default sf0.001).
#
# Deeper sweeps (run before a round close, not per push):
#   python scripts/strict_sweep.py                   # bit-exact at sf0.01
#   python scripts/strict_sweep.py --sf .../sf0.1    # 10x-scale
#   python scripts/strict_sweep.py name1 name2       # named queries only
# The sf0.1 strict sweep is the one that caught the fixed-probe-count
# recall regression in the embedding-dedup family (round 6) — scale
# factors exercise different cell/bucket geometry than the gate SF.
set -euo pipefail
cd "$(dirname "$0")/.."

if command -v ruff >/dev/null 2>&1; then
    ruff check go_integ_spark tests scripts bench.py __spark_entry__.py
else
    echo "== ruff not installed; syntax-checking via compileall =="
    python -m compileall -q go_integ_spark tests scripts bench.py __spark_entry__.py
fi

echo "== pytest (full suite incl. sf0.001 oracle sweep) =="
python -m pytest tests/ -x -q

echo "== plan fingerprints (every registered op, two fresh processes) =="
plans_dir="$(mktemp -d)"
for run in 1 2; do
    SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.001}" \
    python scripts/plans.py "$plans_dir/plans.md" 2>/dev/null >"$plans_dir/sha$run"
done
diff "$plans_dir/sha1" "$plans_dir/sha2"
echo "plans ok: $(wc -l <"$plans_dir/sha1") ops, same sha256 in both runs"
rm -rf "$plans_dir"

for workload in connector curation; do
    echo "== $workload workload correctness (every checked output decoded) =="
    python3 perfbench/run.py --workload "$workload" --seed 1 --seconds 1 --trace 0 2>/dev/null \
        | tail -n 1 | python -c '
import json, sys
d = json.loads(sys.stdin.readline())
assert d["correct"] is True and d["failed"] == 0, d
print("%s ok: correct=%s, failed=%s" % (sys.argv[1], d["correct"], d["failed"]))
' "$workload"
done

echo "== bench CLI (one JSON line expected) =="
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.001}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
python bench.py 2>/dev/null | python -c '
import json, sys
lines = sys.stdin.read().splitlines()
# any JVM or library log line leaking to stdout breaks the contract
assert len(lines) == 1, lines[:5]
d = json.loads(lines[0])
assert {"metric", "value", "unit", "queries", "sf"} <= d.keys(), d.keys()
print("bench ok: %ss" % d["value"])
'

echo "== check.sh PASSED =="
