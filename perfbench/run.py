"""Benchmark of headson_spark's batch and streaming previews.

    python3 perfbench/run.py --workload batch_bulk --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. It writes the workload's inputs from
--seed, starts a session and runs one untimed warm-up pass, times passes
for --seconds, checks the outputs, and prints one line per metric
followed by one JSON object as the last line of stdout. With --trace 1
the timed passes alternate untraced and traced, and the metrics are the
per-layer ones. A fixed single-thread kernel job is timed just before and
just after the timed phase and printed on the `host_ref:` line, so runs
made while the host's speed drifted can be told apart.
See perfbench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import env  # noqa: E402

WORKLOADS = ("batch_bulk", "stream_replay")

END_TO_END = {"turns_per_s": "turns/s", "microbatch_ms_p50": "ms",
              "setup_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "preview.plan_choice_s": "s", "preview.kept_frac": "fraction",
    "preview.plan": "flag", "preview.shuffle_bytes": "bytes",
    "preview.shuffle_records": "count", "preview.map_stage_s": "s",
    "preview.kernel_stage_s": "s", "preview.kernel_task_skew": "ratio",
    "preview.gc_s": "s",
    "kernel.arena_s": "s", "kernel.order_s": "s", "kernel.search_s": "s",
    "kernel.convs": "count", "kernel.turns": "count",
    "kernel.heap_pops": "count", "kernel.probes": "count",
    "kernel.probe_bytes": "bytes", "kernel.output_bytes": "bytes",
    "kernel.render_yield": "ratio", "kernel.turns_per_s_1core": "turns/s",
    "stream.batches": "count", "stream.input_rows": "count",
    "stream.add_batch_ms_p50": "ms", "stream.query_planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms", "stream.commit_offsets_ms_p50": "ms",
    "state.rows_total": "count", "state.rows_updated": "count",
    "state.memory_bytes": "bytes", "state.all_updates_ms": "ms",
    "state.commit_ms": "ms", "sink.write_s": "s", "sink.rows": "count",
    "sink.bytes": "bytes", "sink.rows_per_input_row": "ratio",
    "trace.overhead_frac": "fraction",
}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when stdin closes
        proc.wait(timeout=60)


def rate(passes: list[dict]) -> float:
    return sum(p["turns"] for p in passes) / sum(p["seconds"] for p in passes)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(env.ROOT, "headson_spark")):
        print(f"perfbench: no headson_spark package in {env.ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, env.ROOT)
    env.pin()
    import inputs
    import tracing
    import workloads

    t0 = time.perf_counter()
    inp = inputs.generate(args.workload, args.seed, env.WORK)
    gen_s = time.perf_counter() - t0
    print(f"input: {inp.n_rows} rows in {inp.n_files} parquet files, "
          f"generated in {gen_s:.3f} s (not part of setup_s)")
    w = workloads.make(args.workload, inp, env.WORK, args.seed)
    tracer = tracing.Tracer() if args.trace else None
    spark = None
    try:
        # set-up: process start to steady state, less input generation
        spark = env.start_spark()
        start_s = time.perf_counter() - T_START - gen_s
        w.open(spark)
        w.warmup()
        warmup_s = time.perf_counter() - T_START - gen_s - start_s
        print(f"set-up: {start_s:.3f} s to a session, "
              f"{warmup_s:.3f} s warm-up pass")

        ref_before = workloads.host_reference()
        plain, traced = [], []
        deadline = time.perf_counter() + args.seconds
        while True:
            if tracer is not None and len(plain) > len(traced):
                traced.append(w.run(tracer, f"pass{len(traced)}"))
            else:
                plain.append(w.run())
            if time.perf_counter() >= deadline and (
                    tracer is None or traced):
                break
        ref_after = workloads.host_reference()

        attempted, failed, note = w.check()
        batch_ms = [b for p in plain for b in p["batch_ms"]]
        if args.trace:
            m = {name: 0 for name in PER_LAYER}
            for key in traced[0].get("layers", {}):
                m[key] = statistics.median(p["layers"][key] for p in traced)
            m.update(w.layer_metrics(tracer))
            m.update(w.kernel_metrics(tracer))
            m["session.start_s"] = start_s
            m["session.warmup_s"] = warmup_s
            m["trace.overhead_frac"] = 1 - rate(traced) / rate(plain)
            units = PER_LAYER
            empty = [k for k in w.COLLECTED if not m[k]]
            attempted += len(w.COLLECTED)
            failed += len(empty)
            print("not run by this workload, reported as 0: "
                  + ", ".join(k for k in units if k.startswith(w.NOT_RUN)))
            if empty:
                print("collectors that came back empty: " + ", ".join(empty))
            os.makedirs(os.path.join(env.WORK, "trace"), exist_ok=True)
            tracer.write(os.path.join(
                env.WORK, "trace", f"{args.workload}-{args.seed}.json"))
            for name, s in sorted(tracer.self_times().items(),
                                  key=lambda kv: -kv[1]):
                print(f"self time {name}: {s:.3f} s")
        else:
            m = {"turns_per_s": rate(plain),
                 "microbatch_ms_p50": statistics.median(batch_ms),
                 "setup_s": start_s + warmup_s}
            units = END_TO_END
        print(f"timed: {len(plain)} untraced passes of "
              + ", ".join(f"{p['seconds']:.3f}" for p in plain)
              + f" s, {len(batch_ms)} batches"
              + (f"; {len(traced)} traced passes" if traced else ""))
        print(f"host_ref: {ref_before:.4f} s before, {ref_after:.4f} s "
              "after the timed phase (fixed single-thread kernel job)")
        print(f"checks: {failed} failed of {attempted} ({note}); "
              f"failed_frac = {failed / attempted:.6g}")
        for name, unit in units.items():
            print(f"{name} = {m[name]:.6g} {unit}")
    finally:
        if spark is not None:
            stop(spark)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": m[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
