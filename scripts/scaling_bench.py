"""Scaling-efficiency evidence for the north rule's two-cluster-size
criterion: the same preview job, same input, at two parallelism levels
(local[N] and local[4N] cores, each level pinned to its cores — the
sandbox proxy for N vs 4N executors). Reports turns/sec at both and
efficiency = (T_4N/T_N)/4.

Each level runs this script in a fresh subprocess (its own JVM, via
`--level`) so sessions don't share executors; the timed figure is the
best pass after the first (the first pass warms Python workers + page
cache). A level runs passes until two in a row fail to lower that best
by more than 2%, at most 12, and reports `steady` false when the cap
stopped it.

Physical plan under measurement: SPARK_GRAFT_SCALING_PLAN, "full" by
default — the single-shuffle full pipeline, the optimal plan for this
fixture's short (16-turn) conversations, where the limit-pushdown
variant's totals pre-scan is pure overhead (byte-equal output either
way). SPARK_GRAFT_SCALING_PLAN=pushdown (or auto) measures the other
plan.

Usage: python scripts/scaling_bench.py [turns] [N cores] -> JSON on stdout
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# at most this many passes per level; the first only warms up
PASSES = 12
# a pass lowers a level's best when it beats it by more than this share
STEADY_GAIN = 0.02


def steady(runs: list[float]) -> bool:
    """Whether the last two passes after the warm-up one each failed to
    lower the best of the timed passes before them by more than
    STEADY_GAIN."""
    timed = runs[1:]
    return len(timed) >= 3 and all(
        timed[i] >= min(timed[:i]) * (1 - STEADY_GAIN) for i in (-2, -1))


def passes_until_steady(one_pass) -> list[float]:
    """Wall seconds of one_pass() calls, run until the passes are steady
    or PASSES have run."""
    runs: list[float] = []
    while len(runs) < PASSES and not steady(runs):
        runs.append(one_pass())
    return runs


def timed_passes(tdf, plan: str) -> list[float]:
    """Wall seconds of preview runs of `tdf` under `plan`, each written
    to the noop sink, until steady or PASSES have run."""
    from headson_spark.operators.preview import conversation_previews

    def one_pass() -> float:
        t0 = time.time()
        conversation_previews(tdf, budget=500, pushdown=plan).write.format(
            "noop").mode("overwrite").save()
        return time.time() - t0

    return passes_until_steady(one_pass)


def level(cores: int, turns: int, plan: str) -> dict:
    """One level, in this process: a local[cores] session over the
    cached transcripts with `turns` bulk turns. `steady` is false when
    the PASSES cap, not the steady rule, ended the passes."""
    from headson_spark.session import get_spark
    from headson_spark.sources.transcripts import ensure_transcripts
    spark = get_spark("scaling", master=f"local[{cores}]",
                      shuffle_partitions=max(cores * 2, 16),
                      extra={"spark.sql.execution.arrow.maxRecordsPerBatch":
                             "30000",
                             "spark.locality.wait": "0"})
    spark.sparkContext.setLogLevel("ERROR")
    tdf = spark.read.parquet(ensure_transcripts(sf=0.1, bulk_turns=turns))
    n = tdf.count()
    runs = timed_passes(tdf, plan)
    # on a shared host later runs can DEGRADE from external noise, so
    # "min after warmup" is the least noise-biased steady-state estimator
    best = min(runs[1:])
    spark.stop()
    return {"cores": cores, "plan": plan, "turns": n, "sec": round(best, 2),
            "turns_per_sec": round(n / best, 1), "steady": steady(runs),
            "all_runs_sec": [round(r, 2) for r in runs]}


def run_level(cores: int, turns: int, plan: str) -> dict:
    # pin the WHOLE process tree (JVM + Python workers) to `cores` CPUs:
    # otherwise local[N] borrows idle cores for shuffle and Arrow
    # threads and the N-vs-4N comparison is meaningless
    cmd = ["taskset", "-c", f"0-{cores - 1}", sys.executable,
           os.path.abspath(__file__), "--level", str(cores), str(turns),
           plan]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=3600,
                         cwd=REPO)
    if out.returncode != 0:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    if sys.argv[1:2] == ["--level"]:
        sys.path.insert(0, REPO)
        cores, turns, plan = sys.argv[2:5]
        print(json.dumps(level(int(cores), int(turns), plan)))
        return
    turns = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    # N-level core count; the 4N level is 4x, so it must fit the host
    n_cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    plan = os.environ.get("SPARK_GRAFT_SCALING_PLAN", "full")
    lo = run_level(n_cores, turns, plan)
    hi = run_level(n_cores * 4, turns, plan)
    eff = (hi["turns_per_sec"] / lo["turns_per_sec"]) / 4.0
    print(json.dumps({
        "metric": "scaling_efficiency_N_to_4N",
        "geometry": f"{n_cores}v{n_cores * 4}", "plan": plan,
        "N_cores": lo, "four_N_cores": hi,
        "speedup": round(hi["turns_per_sec"] / lo["turns_per_sec"], 3),
        "efficiency": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }))


if __name__ == "__main__":
    main()
