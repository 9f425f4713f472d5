"""The workloads: a timed pass through the program's public entry points,
an untimed warm-up, the output checks and the traced pass.

batch_bulk: one pass is
    operators.preview.conversation_previews(df, budget=500) -> noop sink
with the default pushdown="auto" plan choice.

stream_replay: one pass is a full replay of the backlog through
    streaming.engine.run_stream(..., max_files_per_trigger=1)
into a fresh KeyedParquetSink and checkpoint, library defaults otherwise.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from headson_spark.kernel import summarize_value
from headson_spark.operators import preview
from headson_spark.operators.sampling import default_kept_positions
from headson_spark.streaming.engine import KeyedParquetSink, run_stream

import inputs
import tracing as tr

BUDGET = 500
CHECK_SAMPLE = 64     # conversations compared byte-for-byte with the kernel
KERNEL_SAMPLE = 100   # conversations run through the kernel on the driver
REF_CONVS = 200       # conversations in the host-speed reference


def merged_turns(table: pa.Table, conv_ids) -> dict[str, tuple]:
    """conv_id -> (roles, texts, tools) after the last-write-wins merge:
    stable sort by (turn_idx, ts), keep the last delivery of each turn."""
    pdf = table.filter(pc.is_in(
        table["conv_id"], pa.array(list(conv_ids)))).to_pandas()
    out = {}
    for cid, g in pdf.groupby("conv_id"):
        g = (g.sort_values(["turn_idx", "ts"], kind="stable")
              .drop_duplicates(subset=["turn_idx"], keep="last"))
        out[cid] = (g["role"].tolist(), g["text"].tolist(),
                    g["tool"].tolist())
    return out


def kernel_preview(turns: tuple) -> str:
    roles, texts, tools = turns
    doc = {"turns": [{"role": r, "text": t, "tool": tl}
                     for r, t, tl in zip(roles, texts, tools)]}
    return summarize_value(doc, format="json", character_budget=BUDGET)


def host_reference(reps: int = 3) -> float:
    """Seconds, median of `reps`, to preview a fixed set of conversations
    with kernel.summarize_value in one thread on the driver. The input is
    the same in every run (the bulk shape from seed 0), so the figure
    tracks the host's speed and not the workload."""
    n = inputs.BULK_TURNS
    t = inputs.make_bulk(np.random.default_rng(0)).slice(0, REF_CONVS * n)
    roles, texts, tools = (t[c].to_pylist() for c in ("role", "text", "tool"))
    convs = [(roles[i:i + n], texts[i:i + n], tools[i:i + n])
             for i in range(0, len(roles), n)]
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for c in convs:
            kernel_preview(c)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def distinct_turns(table: pa.Table) -> dict[str, int]:
    g = table.group_by("conv_id").aggregate([("turn_idx", "count_distinct")])
    return dict(zip(g["conv_id"].to_pylist(),
                    g["turn_idx_count_distinct"].to_pylist()))


class Workload:
    # per-layer metrics this workload's traced run must report as nonzero;
    # a zero means a collector came back empty
    COLLECTED: tuple[str, ...] = ("kernel.turns", "kernel.probes")
    NOT_RUN: tuple[str, ...] = ()

    def __init__(self, inp, work_dir: str, seed: int):
        self.inp = inp
        self.work = work_dir
        self.seed = seed
        self.spark = None

    def open(self, spark) -> None:
        self.spark = spark

    def layer_metrics(self, tracer: tr.Tracer) -> dict:
        return {}

    def kernel_metrics(self, tracer: tr.Tracer) -> dict:
        ids = tr.sample_conversations(self.inp.table, KERNEL_SAMPLE,
                                      self.seed)
        turns = merged_turns(self.inp.table, ids)
        m = tr.kernel_sample(tracer, [turns[c] for c in ids], BUDGET)
        return {f"kernel.{k}": v for k, v in m.items()}


class Batch(Workload):
    NOT_RUN = ("stream.", "state.", "sink.")  # layers this workload never calls; reported as 0
    COLLECTED = Workload.COLLECTED + (
        "preview.plan_choice_s", "preview.kept_frac", "preview.shuffle_bytes",
        "preview.shuffle_records", "preview.map_stage_s",
        "preview.kernel_stage_s", "preview.kernel_task_skew")

    def open(self, spark) -> None:
        super().open(spark)
        self.df = spark.read.parquet(self.inp.path)

    def warmup(self) -> None:
        self.run()

    def run(self, tracer: tr.Tracer | None = None, run: str = "") -> dict:
        """One timed pass; with a tracer, spans around the preview
        operator's public calls and the job group for stage metrics."""
        if tracer is None:
            t0 = time.perf_counter()
            preview.conversation_previews(self.df, budget=BUDGET).write \
                .format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            return {"turns": self.inp.n_rows, "seconds": dt,
                    "batch_ms": [dt * 1000]}
        sc = self.spark.sparkContext
        chosen = []

        def recording(orig):
            def choose_preview_plan(*a, **kw):
                with tracer.span("preview.choose_preview_plan", run):
                    plan = orig(*a, **kw)
                chosen.append(plan)
                return plan
            return choose_preview_plan

        t0 = time.perf_counter()
        with tracer.span("pass", run), \
                tr.wrapped(preview, "choose_preview_plan", recording):
            sc.setJobGroup(run, "perfbench traced pass")
            with tracer.span("preview.conversation_previews", run):
                out = preview.conversation_previews(self.df, budget=BUDGET)
            with tracer.span("spark.noop_write", run):
                out.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        m = tr.stage_metrics(sc, run)
        m["plan"] = 1 if chosen and chosen[-1] == "pushdown" else 0
        return {"turns": self.inp.n_rows, "seconds": dt,
                "batch_ms": [dt * 1000],
                "layers": {f"preview.{k}": v for k, v in m.items()}}

    def layer_metrics(self, tracer: tr.Tracer) -> dict:
        """Plan-choice cost (memo bypassed, median of 3) and the
        statistic it decides on, recomputed from the input."""
        times = []
        for i in range(3):
            with tracer.span("preview.choose_preview_plan", f"plan{i}"):
                preview.choose_preview_plan(self.df, budget=BUDGET,
                                            use_cache=False)
            times.append(tracer.total("preview.choose_preview_plan",
                                      f"plan{i}"))
        cap = max(BUDGET // 2, 1)
        keep = np.isin(self.inp.table["turn_idx"].to_numpy(),
                       default_kept_positions(cap))
        return {"preview.plan_choice_s": statistics.median(times),
                "preview.kept_frac": float(keep.mean())}

    def check(self) -> tuple[int, int, str]:
        """Every conversation exactly once, with the input's distinct turn
        count and preview_bytes == len(preview.encode()); a seeded sample
        byte-equal to kernel.summarize_value on the merged turns."""
        rows = preview.conversation_previews(self.df, budget=BUDGET).select(
            "conv_id", "preview", "n_turns", "preview_bytes").collect()
        want = distinct_turns(self.inp.table)
        seen: dict[str, int] = {}
        bad = set()
        got = {}
        for r in rows:
            seen[r.conv_id] = seen.get(r.conv_id, 0) + 1
            got[r.conv_id] = r.preview
            if (r.preview_bytes != len(r.preview.encode("utf-8"))
                    or r.n_turns != want.get(r.conv_id)):
                bad.add(r.conv_id)
        bad |= {c for c in want if seen.get(c) != 1}
        bad |= set(seen) - set(want)
        ids = tr.sample_conversations(self.inp.table, CHECK_SAMPLE,
                                      self.seed + 1)
        for cid, turns in merged_turns(self.inp.table, ids).items():
            if got.get(cid) != kernel_preview(turns):
                bad.add(cid)
        return len(want), len(bad), f"{len(ids)} sampled byte-for-byte"


class Stream(Workload):
    NOT_RUN = ("preview.",)  # layers this workload never calls; reported as 0
    COLLECTED = Workload.COLLECTED + (
        "stream.batches", "stream.input_rows", "stream.add_batch_ms_p50",
        "state.rows_total", "state.rows_updated", "state.memory_bytes",
        "state.all_updates_ms", "sink.write_s", "sink.rows", "sink.bytes")

    def __init__(self, inp, work_dir: str, seed: int):
        super().__init__(inp, work_dir, seed)
        # warm-up source: the first file only
        self.warm_src = os.path.join(work_dir, "input", "stream_warmup")
        shutil.rmtree(self.warm_src, ignore_errors=True)
        os.makedirs(self.warm_src)
        first = sorted(os.listdir(inp.path))[0]
        shutil.copy(os.path.join(inp.path, first), self.warm_src)
        self.n_replays = 0
        self.last = None

    def _dirs(self) -> str:
        d = os.path.join(self.work, "stream", f"replay{self.n_replays}")
        self.n_replays += 1
        shutil.rmtree(d, ignore_errors=True)
        if self.last is not None:  # keep only the replay to be checked
            shutil.rmtree(self.last["dir"], ignore_errors=True)
        return d

    def _replay(self, src: str, sink_of) -> float:
        """Replay src into a fresh sink and checkpoint; its wall time."""
        d = self._dirs()
        sink = sink_of(os.path.join(d, "sink"))
        t0 = time.perf_counter()
        q = run_stream(self.spark, src, sink, os.path.join(d, "ckpt"),
                       budget=BUDGET, max_files_per_trigger=1)
        if not q.awaitTermination(150):
            q.stop()
            raise TimeoutError("stream replay did not finish in 150 s")
        dt = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.last = {"dir": d, "sink": sink, "query": q,
                     "progress": q.recentProgress}
        return dt

    def _pass(self, seconds: float) -> dict:
        return {"turns": self.inp.n_rows, "seconds": seconds,
                "batch_ms": [p.durationMs["triggerExecution"]
                             for p in self.last["progress"]]}

    def warmup(self) -> None:
        self._replay(self.warm_src, KeyedParquetSink)

    def run(self, tracer: tr.Tracer | None = None, run: str = "") -> dict:
        if tracer is None:
            return self._pass(self._replay(self.inp.path, KeyedParquetSink))
        rec = tr.ProgressRecorder()
        listener = rec.listener()
        self.spark.streams.addListener(listener)
        try:
            with tracer.span("replay", run) as root:
                res = self._pass(self._replay(
                    self.inp.path,
                    lambda p: tr.TracedSink(p, tracer, run, root)))
            batches = rec.wait(str(self.last["query"].runId))
        finally:
            self.spark.streams.removeListener(listener)
        res["layers"] = tr.stream_metrics(batches, self.last["sink"], tracer)
        return res

    def check(self) -> tuple[int, int, str]:
        """Exactly-once: the sink committed exactly the batches the query
        ran. Stream == batch: the sink's latest row per conversation has
        the batch operator's preview and n_turns on the same input."""
        sink, progress = self.last["sink"], self.last["progress"]
        ran = sorted(p.batchId for p in progress)
        once_ok = sorted(sink.committed()) == ran
        latest = {r.conv_id: (r.preview, r.n_turns)
                  for r in sink.read_latest(self.spark).collect()}
        batch = {r.conv_id: (r.preview, r.n_turns)
                 for r in preview.conversation_previews(
                     self.spark.read.parquet(self.inp.path),
                     budget=BUDGET).collect()}
        bad = {c for c in batch.keys() | latest.keys()
               if latest.get(c) != batch.get(c)}
        return (len(batch) + 1, len(bad) + (not once_ok),
                f"{len(ran)} batches committed exactly once: {once_ok}")


def make(name: str, inp, work_dir: str, seed: int) -> Workload:
    cls = Stream if name == "stream_replay" else Batch
    return cls(inp, work_dir, seed)
