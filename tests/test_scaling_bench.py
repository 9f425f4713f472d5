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



@pytest.mark.parametrize("times, n_run, steady", [
    # 1-core passes of a 200,000-turn level, still falling at the fifth:
    # 12.30 beats 12.57 by more than 2% and 10.56 beats 12.30, so the
    # level runs on until 10.50 and 10.60 both miss 2% under 10.56
    ([30.82, 12.57, 13.09, 12.30, 10.56, 10.50, 10.60, 1.0], 7, True),
    # the warm-up pass never counts toward the best
    ([1.0, 5.0, 5.0, 5.0, 0.5], 4, True),
    # still falling at the cap
    ([10.0 * 0.9 ** i for i in range(20)], 12, False),
])
def test_passes_run_until_two_in_a_row_miss_the_best(times, n_run, steady):
    it = iter(times)
    runs = scaling_bench.passes_until_steady(lambda: next(it))
    assert runs == times[:n_run]
    assert scaling_bench.steady(runs) is steady
    assert not scaling_bench.steady(runs[:-1])
