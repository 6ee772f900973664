"""The grid planner is a pure function of its cell sizes: two fresh
interpreters planning the same cells must produce the same bins. A
planner that times the host at first use (as r13-r14 did) fails this
on most runs, because the priced row cost moves with host speed."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PLAN_SHA = """
import hashlib, random
from go_integ_spark.functions.blocks import plan_grid_bins

rng = random.Random(20)
cells = []
for i in range(300):
    if i % 3 == 0:  # cold cells
        n_m, n_p = rng.randint(1, 500), rng.randint(1, 500)
    elif i % 3 == 1:  # near or over the dimension cap
        n_m, n_p = rng.randint(2000, 12000), rng.randint(2000, 12000)
    else:  # pair-light, probe-heavy
        n_m, n_p = rng.randint(50, 2000), rng.randint(20000, 200000)
    cells.append(((i,), n_m, n_p))
out = plan_grid_bins(cells, 8192, 4)
print(hashlib.sha256(repr(out).encode()).hexdigest())
"""


def _plan_sha() -> str:
    return subprocess.run(
        [sys.executable, "-c", _PLAN_SHA],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()


def test_plan_grid_bins_identical_across_processes():
    first, second = _plan_sha(), _plan_sha()
    assert len(first) == 64
    assert first == second
