"""Steadiness check: run the benchmark once per seed on each workload and
report, per end-to-end metric, the median, the quartiles and the spread
(interquartile distance as a share of the median).

    python3 perfbench/steady.py --seeds 1-10 [--workloads batch_bulk ...]

Run from the root of a checkout. Runs are sequential, each for
BENCHMARK.json's run_seconds. Each run's host-speed reference (the
`host_ref:` line of run.py, in seconds before and after its timed phase)
is shown beside its metrics, so a run made while the host drifted can be
seen; the summary gives the reference's median and spread too.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def host_ref(lines: list[str]) -> tuple[float, float]:
    line = next(x for x in lines if x.startswith("host_ref:"))
    words = line.split()
    return float(words[1]), float(words[4])


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=seeds, required=True)
    p.add_argument("--workloads", nargs="+",
                   default=[w["name"] for w in spec["workloads"]])
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        for seed in args.seeds:
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]),
                                     "--trace", "0"]
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 timeout=600)
            lines = out.stdout.strip().splitlines()
            if out.returncode or not lines:
                print(f"{w} seed {seed}: exit {out.returncode}\n"
                      f"{out.stderr[-2000:]}", file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            before, after = host_ref(lines)
            print(f"{w} seed {seed}: correct={res['correct']} "
                  f"({res['failed']}/{res['attempted']}) "
                  + " ".join(f"{k}={v['value']:.6g}"
                             for k, v in res["metrics"].items())
                  + f" host_ref={before:.4f}/{after:.4f}", flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            values.setdefault("host_ref_s", []).append((before + after) / 2)
        print(f"\n| {w} | median | q1 | q3 | spread | bound |")
        print("|---|---|---|---|---|---|")
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            print(f"| {k} | {med:.6g} | {q1:.6g} | {q3:.6g} | "
                  f"{(q3 - q1) / med:.4f} | {bounds.get(k, '-')} |")
        print(flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
