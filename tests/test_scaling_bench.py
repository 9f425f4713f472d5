"""scripts/scaling_bench.py's timed pass, as each level of the N→4N
measurement runs it, on a tiny in-test DataFrame under both plans."""

from __future__ import annotations

import time

import pytest

from scripts import scaling_bench


@pytest.mark.parametrize("plan", ["full", "pushdown"])
def test_timed_passes_runs_a_plan(spark, monkeypatch, plan):
    monkeypatch.setattr(scaling_bench, "PASSES", 2)
    rows = [(f"c{c}", i, "user", f"turn {i}", "", None)
            for c in range(3) for i in range(20)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    t0 = time.time()
    runs = scaling_bench.timed_passes(df, plan)
    assert len(runs) == 2 and all(r > 0 for r in runs)
    assert time.time() - t0 < 30
