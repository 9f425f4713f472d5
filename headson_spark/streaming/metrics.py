"""Per-batch lineage + throughput metrics via StreamingQueryListener
(north_rule: "resumable from checkpoint with per-partition lineage and
metrics")."""

from __future__ import annotations

import json
import os
import threading


class MetricsRecorder:
    """Appends one JSON line per finished micro-batch: batch id, input
    rows, processed rows/sec, state rows, watermark, every `durationMs`
    phase (`durations_ms`: addBatch, queryPlanning, walCommit, ...) and
    every field of every state operator (`state_operators`: numRowsTotal,
    numRowsUpdated, allUpdatesTimeMs, commitTimeMs, memoryUsedBytes,
    customMetrics, ...) — the stream's flight recorder. Partition-level
    lineage rides on the sink's _batch_id / _partition_id audit columns."""

    def __init__(self, path: str):
        self.path = path
        self._lock = threading.Lock()
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def attach(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                rec._write({"event": "started", "id": str(event.id)})

            def onQueryProgress(self, event):
                p = event.progress
                row = {
                    "event": "progress",
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "processed_rows_per_sec": p.processedRowsPerSecond,
                    "duration_ms": p.durationMs.get("triggerExecution")
                    if p.durationMs else None,
                    "watermark": p.eventTime.get("watermark")
                    if p.eventTime else None,
                    "state_rows": (p.stateOperators[0].numRowsTotal
                                   if p.stateOperators else None),
                    "durations_ms": dict(p.durationMs),
                    "state_operators": [dict(o) for o in p.stateOperators],
                }
                rec._write(row)

            def onQueryTerminated(self, event):
                rec._write({"event": "terminated", "id": str(event.id)})

            def onQueryIdle(self, event):
                pass

        listener = _L()
        spark.streams.addListener(listener)
        return listener

    def _write(self, row: dict):
        with self._lock:
            with open(self.path, "a") as f:
                f.write(json.dumps(row) + "\n")

    def read(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(ln) for ln in f if ln.strip()]
