"""Tracing for the benchmark's traced run, all from outside the program.

Spans wrap the benchmark's calls into each layer's public functions;
they are kept in memory and written out once, at exit. Counts come from
the same boundaries: Spark's status store for the preview operator, a
StreamingQueryListener and a wrapped sink for the streaming engine, and a
wrapped `render.render_top_k` for the kernel's budget search.
"""

from __future__ import annotations

import json
import random
import statistics
import threading
import time
from contextlib import contextmanager

from headson_spark.kernel import arena as ar
from headson_spark.kernel import render
from headson_spark.kernel.api import make_configs
from headson_spark.kernel.order import build_order
from headson_spark.streaming.engine import KeyedParquetSink


class Tracer:
    """In-memory spans: (name, start, end, parent, run id). Thread-safe,
    because sink spans are recorded on Spark's callback thread."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, run: str, parent: int | None = None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "run": run,
                               "parent": parent, "start": time.perf_counter(),
                               "end": None})
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def total(self, name: str, run: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and (run is None or s["run"] == run))

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, less the time its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], ())):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["name"]] = (out.get(s["name"], 0.0)
                              + s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextmanager
def wrapped(module, attr: str, wrapper):
    """Replace module.attr by wrapper(original) for the duration."""
    orig = getattr(module, attr)
    setattr(module, attr, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, attr, orig)


# ---------------------------------------------------------------- preview


def stage_metrics(sc, job_group: str) -> dict:
    """Task metrics of every stage the job group ran, from the driver's
    status store. Map stages write shuffle output; the rest run the
    mapInPandas kernel."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    m = {"shuffle_bytes": 0, "shuffle_records": 0, "map_stage_s": 0.0,
         "kernel_stage_s": 0.0, "gc_s": 0.0, "kernel_task_skew": 0.0}
    task_times = []
    for job in tracker.getJobIdsForGroup(job_group):
        for sid in tracker.getJobInfo(job).stageIds:
            st = store.lastStageAttempt(sid)
            if st.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            run_s = st.executorRunTime() / 1000
            m["gc_s"] += st.jvmGcTime() / 1000
            if st.shuffleWriteRecords() > 0:
                m["shuffle_bytes"] += st.shuffleWriteBytes()
                m["shuffle_records"] += st.shuffleWriteRecords()
                m["map_stage_s"] += run_s
                continue
            m["kernel_stage_s"] += run_s
            tasks = store.taskList(sid, st.attemptId(), st.numTasks())
            for i in range(tasks.length()):
                tm = tasks.apply(i).taskMetrics()
                if tm.isDefined():
                    task_times.append(tm.get().executorRunTime())
    if task_times and statistics.median(task_times) > 0:
        m["kernel_task_skew"] = max(task_times) / statistics.median(task_times)
    return m


# ----------------------------------------------------------------- kernel


def kernel_sample(tracer: Tracer, convs: list[tuple], budget: int,
                  reps: int = 3) -> dict:
    """Run conversations (roles, texts, tools) through the three kernel
    stages on the driver, in one thread. Stage times are the median over
    `reps` timed repetitions; the counts come from one more repetition
    with `render.render_top_k` wrapped."""
    cfg, prio, budget = make_configs(format="json", character_budget=budget)

    def one(roles, texts, tools, run):
        with tracer.span("kernel.arena", run):
            a = ar.build_conversation_arena(roles, texts, tools,
                                            prio["array_max_items"],
                                            prio["sampler"])
        with tracer.span("kernel.order", run):
            po = build_order(a, prio["max_string_graphemes"],
                             prefer_tail_arrays=prio["prefer_tail_arrays"],
                             max_pops=max(budget, 1), lazy=True)
        with tracer.span("kernel.search", run):
            out = render.find_largest_render_under_budget(po, cfg, budget)
        return po, out

    times = {"arena": [], "order": [], "search": []}
    for rep in range(reps):
        run = f"kernel{rep}"
        with tracer.span("kernel.sample", run):
            for roles, texts, tools in convs:
                one(roles, texts, tools, run)
        for stage in times:
            times[stage].append(tracer.total(f"kernel.{stage}", run))

    probes = [0, 0]  # calls, bytes

    def counting(orig):
        def render_top_k(*a, **kw):
            s = orig(*a, **kw)
            probes[0] += 1
            probes[1] += len(s.encode("utf-8"))
            return s
        return render_top_k

    pops = out_bytes = 0
    with wrapped(render, "render_top_k", counting):
        for roles, texts, tools in convs:
            po, out = one(roles, texts, tools, "kernel.count")
            pops += len(po.by_priority)
            out_bytes += len(out.encode("utf-8"))
    n_turns = sum(len(c[0]) for c in convs)
    m = {f"{k}_s": statistics.median(v) for k, v in times.items()}
    busy = m["arena_s"] + m["order_s"] + m["search_s"]
    m.update(convs=len(convs), turns=n_turns, heap_pops=pops,
             probes=probes[0], probe_bytes=probes[1], output_bytes=out_bytes,
             render_yield=out_bytes / probes[1] if probes[1] else 0.0,
             turns_per_s_1core=n_turns / busy if busy else 0.0)
    return m


def sample_conversations(table, n: int, seed: int) -> list[str]:
    ids = sorted(set(table.column("conv_id").to_pylist()))
    return sorted(random.Random(seed).sample(ids, min(n, len(ids))))


# -------------------------------------------------------------- streaming


class ProgressRecorder:
    """StreamingQueryListener keeping every batch's full durationMs map
    and state-operator metrics, per query run."""

    def __init__(self):
        self.batches: dict[str, list[dict]] = {}
        self.done: dict[str, threading.Event] = {}
        self._lock = threading.Lock()

    def _event(self, run: str) -> threading.Event:
        with self._lock:
            return self.done.setdefault(run, threading.Event())

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener
        rec = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = [{"rows_total": o.numRowsTotal,
                        "rows_updated": o.numRowsUpdated,
                        "memory_bytes": o.memoryUsedBytes,
                        "all_updates_ms": o.allUpdatesTimeMs,
                        "commit_ms": o.commitTimeMs}
                       for o in p.stateOperators]
                with rec._lock:
                    rec.batches.setdefault(str(p.runId), []).append(
                        {"batch_id": p.batchId, "input_rows": p.numInputRows,
                         "duration_ms": dict(p.durationMs), "state": ops})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                rec._event(str(event.runId)).set()

        return Listener()

    def wait(self, run: str, timeout: float = 60.0) -> list[dict]:
        if not self._event(run).wait(timeout):
            raise TimeoutError(f"no termination event for query {run}")
        with self._lock:
            return list(self.batches.get(run, []))


class TracedSink(KeyedParquetSink):
    """KeyedParquetSink whose foreachBatch call is recorded as a span."""

    def __init__(self, path: str, tracer: Tracer, run: str, parent: int):
        super().__init__(path)
        self.tracer, self.run, self.parent = tracer, run, parent

    def __call__(self, batch_df, batch_id: int):
        with self.tracer.span("sink.__call__", self.run, self.parent):
            super().__call__(batch_df, batch_id)


def stream_metrics(batches: list[dict], sink: TracedSink,
                   tracer: Tracer) -> dict:
    def p50(key):
        return statistics.median(b["duration_ms"].get(key, 0)
                                 for b in batches)

    last = batches[-1]["state"]
    sink_stats = sink.metrics().values()
    input_rows = sum(b["input_rows"] for b in batches)
    sink_rows = sum(s["rows"] for s in sink_stats)
    return {
        "stream.batches": len(batches),
        "stream.input_rows": input_rows,
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.query_planning_ms_p50": p50("queryPlanning"),
        "stream.wal_commit_ms_p50": p50("walCommit"),
        "stream.commit_offsets_ms_p50": p50("commitOffsets"),
        "state.rows_total": sum(o["rows_total"] for o in last),
        "state.rows_updated": sum(o["rows_updated"] for b in batches
                                  for o in b["state"]),
        "state.memory_bytes": sum(o["memory_bytes"] for o in last),
        "state.all_updates_ms": sum(o["all_updates_ms"] for b in batches
                                    for o in b["state"]),
        "state.commit_ms": sum(o["commit_ms"] for b in batches
                               for o in b["state"]),
        "sink.write_s": tracer.total("sink.__call__", sink.run),
        "sink.rows": sink_rows,
        "sink.bytes": sum(s["bytes"] for s in sink_stats),
        "sink.rows_per_input_row": sink_rows / input_rows if input_rows else 0,
    }
