"""Pins for the measurement harness: the skew verdict eligibility
rule of scripts/smoke_scale.py."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)


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
