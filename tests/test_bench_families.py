"""The bench family registry (``bench.families``) is the one table bench,
tools/capture_plans.py and tools/profile_family.py build their DataFrames
from. Every family must build and analyze after the session warmup and
the persisted-state prebuilds, and the table must name exactly the
families the committed bench artifacts report.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import bench  # noqa: E402


def test_every_family_builds_and_analyzes(spark, sf_dir, tmp_path):
    bench.warm_session(spark, sf_dir)
    benches, prebuilds = bench.families(spark, sf_dir, str(tmp_path))
    for prebuild in prebuilds:
        prebuild()
    empty = [name for name, fn in benches.items() if not fn().schema.fields]
    assert not empty
    assert set(benches) == set(bench.artifact_history(0.1))
