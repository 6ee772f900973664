"""Pins for the measurement harness: bench.py's contended verdict,
its /proc ancestry walk and its child-output drain, and the skew
verdict eligibility rule of scripts/smoke_scale.py."""

from __future__ import annotations

import os
import subprocess
import sys

import bench

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)


def test_bench_contended_classification():
    """bench.py's contended verdict is load-bearing measurement QA
    (r7's bogus 29.76 s trend point slipped through the old gate) —
    pin the pure decision function."""
    # single clean pass, no tenants
    assert bench.classify_run([20.0], [], [], []) is False
    # foreign JVM at any checkpoint -> contended, even if totals agree
    assert bench.classify_run([20.0, 20.5], [123], [], []) is True
    assert bench.classify_run([20.0, 20.5], [], [9], []) is True
    assert bench.classify_run([20.0], [], [], [77]) is True
    # two cold passes within 25% -> reproducible, start load was decay
    assert bench.classify_run([24.0, 20.0], [], [], []) is False
    # >25% disagreement -> actively contended
    assert bench.classify_run([29.8, 20.0], [], [], []) is True
    assert bench.classify_run([20.0, 29.8], [], [], []) is True


def test_bench_classify_zero_total_guard():
    """ADVICE r8: a zero/negative pass total must classify as
    contended, not raise ZeroDivisionError."""
    assert bench.classify_run([0.0], [], [], []) is True
    assert bench.classify_run([0.0, 20.0], [], [], []) is True
    assert bench.classify_run([20.0, 0.0], [], [], []) is True
    assert bench.classify_run([-1.0, 20.0], [], [], []) is True


def test_bench_process_ancestry_logic():
    """The subprocess-pass refactor moved foreign-JVM detection to a
    /proc ancestry walk — pin the pure pieces: descendants of the
    bench process are never foreign, remembered own pids are never
    foreign, a cycle-free walk terminates."""
    me = os.getpid()
    # synthetic tree: me -> 100 -> 200 (our JVM), 300 orphan (init)
    ppid_of = {100: me, 200: 100, 300: 1, me: 1}
    assert bench._is_descendant(200, me, ppid_of)
    assert bench._is_descendant(100, me, ppid_of)
    assert not bench._is_descendant(300, me, ppid_of)
    # a corrupt map with a cycle must terminate, not hang
    assert not bench._is_descendant(400, me, {400: 500, 500: 400})
    # the live walk: this test process's own proc entry is consistent
    ppid_real, javas = bench._proc_snapshot()
    assert me in ppid_real
    # every java our session spawned is excluded by ancestry or the
    # remembered-own set — assert no pid from the FIRST snapshot
    # survives as foreign, rather than that the second snapshot is
    # exactly empty (a tenant java started between the two snapshots
    # would make `== []` flake on shared hosts)
    own = set(javas)
    assert set(bench._foreign_jvms(own)) & own == set()


def test_bench_drain_survives_output_larger_than_pipe_buffer():
    """ADVICE r9 (bench.py:319): the parent must drain the child's
    stdout WHILE polling — a child emitting more than the ~64KB pipe
    buffer would otherwise block on write and the parent would poll
    forever. Pin with a 2MB payload child (deadlocks inside the test
    timeout if the drain regresses)."""
    payload_kb = 2048
    proc = subprocess.Popen(
        [
            sys.executable,
            "-c",
            f"import sys; sys.stdout.write('x' * {payload_kb} * 1024 + '\\n')",
        ],
        stdout=subprocess.PIPE,
    )
    out, own = bench._poll_and_drain(proc, observe=set, poll_sleep=0.05)
    assert proc.returncode == 0
    assert len(out) == payload_kb * 1024 + 1
    assert own == set()


class TestSkewVerdictEligibility:
    def test_r12_stall_flags_declassified_real_flags_kept(self):
        """The stall-robust rule (VERDICT r12 item 3): the two r12
        false headlines are ineligible, every real packing defect
        ever found stays eligible."""
        from smoke_scale import verdict_eligible as eligible

        knn_final_stall = {  # 11.8x: one 5.1 s stall, 0.43 s median
            "tasks": 256,
            "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 260.44,
            "task_med_ms": 432,
            "task_max_ms": 5093,
        }
        assert not eligible(knn_final_stall)
        cc_gc_stall = {  # 51.5x: one 4.6 s GC stall on a 14 MB stage
            "tasks": 256,
            "shuffle_write_mb": 14.0,
            "shuffle_read_mb": 0.0,
            "task_med_ms": 89,
            "task_max_ms": 4600,
        }
        assert not eligible(cc_gc_stall)
        bitext_forward = {  # the open 13.4x: 6.0 s median — REAL duty
            "tasks": 1023,
            "shuffle_write_mb": 100.0,
            "shuffle_read_mb": 3000.0,
            "task_med_ms": 6000,
            "task_max_ms": 80700,
        }
        assert eligible(bitext_forward)
        mispacked_bin = {  # r12's found defect class: 201.9 s max task
            "tasks": 722,
            "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 5.0,
            "task_med_ms": 500,
            "task_max_ms": 201_900,
        }
        assert eligible(mispacked_bin)  # >=30 s max floor catches it
