"""Structured Streaming preview engine (north_rule core).

Pipeline:

    readStream (file/rate/Iceberg source)
      -> filter(counted_turns)     -- 0 <= turn_idx < KEPT_POSITIONS_MAX
      -> withWatermark("ts", late_gap)
      -> groupBy(pmod(xxhash64(conv_id), B) | conv_id)
           .applyInPandasWithState(merge+preview kernel)
      -> foreachBatch idempotent keyed sink (exactly-once)

Each group's state maps conv_id to that conversation's merged turns (the
"stateful join" on (conv_id, turn_idx): late/duplicate turns merge
last-write-wins by ts), with stable turn ordering enforced before budget
allocation. Conversation sessions close via event-time timeout
(session-window semantics hosted inside the stateful operator —
declarative session_window cannot hold arbitrary state). Checkpointed and resumable; replays are idempotent
because the sink MERGEs on conv_id and skips already-committed batch ids.

Row contract: the stream admits the rows `operators.sampling.counted_turns`
admits, in the same plan ahead of the state operator, as the batch plans
and the window previews do, so its final rows equal the batch rows on
every input. A NULL, negative or >= KEPT_POSITIONS_MAX turn_idx never
reaches the state function.

Turn numbering: turn_idx is the position, as on every preview path:
n_turns = max(turn_idx) + 1, a turn is shown iff
kernel.arena.KeepRule.shown(turn_idx, n_turns), and a position no row
delivered renders as omitted.

Scale notes:
- state per conversation is at most array_cap turn contents plus one
  position count, for every skew, and the watermark bounds how long
  state lives
- conv_id skew: the state shuffle hashes conv_id; a hot conversation
  ships every delivered row to one task, but its state and render stay
  O(array_cap) turns
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterator, Tuple

import pandas as pd

from ..kernel.api import make_configs, render_conversation
from ..kernel.arena import KeepRule

OUTPUT_SCHEMA = ("conv_id string, preview string, n_turns int, "
                 "last_ts timestamp, final boolean")


# --------------------------------------------------------------------------
# budget-bounded conversation state
#
# A turn's number is its position, turn_idx. A conversation's state holds
# its position count "len" (max turn_idx + 1, the n_turns every preview
# path reports), its latest event time "mx", and in "k" the contents of
# the turns kernel.arena.KeepRule shows at that count. Pruning the rest is
# exact: for balanced and head a turn's kept-ness does not depend on the
# count, and for tail a turn it no longer shows is never shown again as
# the count grows. A 50k-turn conversation holds ~250 turn contents and
# one integer in state instead of ~6 MB of turns re-serialized every
# micro-batch, for every skew.


def _prune(st: dict, rule: KeepRule) -> None:
    """Drop the turn contents the keep rule does not show."""
    import numpy as np
    kept = st["k"]
    keys = list(kept)
    idx = np.fromiter(map(int, keys), dtype=np.int64, count=len(keys))
    for j in np.flatnonzero(~rule.shown(idx, st["len"])).tolist():
        del kept[keys[j]]


def _render(st: dict, cfg, prio, budget) -> str:
    """The preview from pruned state: every content it holds, by
    position, as the pre-sampled arena (byte-equal to the batch kernel
    on the same delivered turns)."""
    picked = sorted((int(k), v) for k, v in st["k"].items())
    return render_conversation(
        [v[0] for _, v in picked], [v[1] for _, v in picked],
        [v[2] for _, v in picked], cfg, prio, budget,
        kept=[i for i, _ in picked], total=st["len"])


def _st_new() -> dict:
    return {"len": 0, "k": {}, "mx": 0}


def _st_merge_cols(st: dict, tidxs, roles, texts, tools, ts_list,
                   rule: KeepRule) -> bool:
    """LWW-merge pre-extracted column slices into state; True if the
    conversation's row can differ: its position count or its max ts grew,
    or a content it wrote is one the keep rule shows (and _prune keeps).
    A delivery on a position the rule does not show (a backfill of pruned
    tail positions, a re-delivery of a pruned turn) changes nothing the
    row shows. Every turn_idx is a counted_turns position
    (streaming_previews filters ahead of the state operator)."""
    import numpy as np
    kept = st["k"]
    n0, mx0 = st["len"], st["mx"]
    written = []
    for t_idx, role, text, tool, ts_us in zip(
            tidxs, roles, texts, tools, ts_list):
        if t_idx >= st["len"]:
            st["len"] = t_idx + 1
        key = str(t_idx)
        prev = kept.get(key)
        if prev is None or ts_us >= prev[3]:
            kept[key] = [role, text, tool, ts_us]
            written.append(t_idx)
        if ts_us > st["mx"]:
            st["mx"] = ts_us
    if st["len"] > n0 or st["mx"] > mx0:
        return True
    return bool(written) and bool(
        rule.shown(np.array(written), st["len"]).any())


BUCKET_STATE_SCHEMA = "blob binary, n_convs int"


def _bucket_encode(convs: dict) -> bytes:
    """Group state blob: pickle (protocol 5) of {conv_id: state dict}.
    State blobs never leave the state store, so pickle's python-only
    format is fine here (the SINK stays parquet).

    SECURITY: pickle.loads executes attacker-chosen code, so a tampered
    checkpoint/state directory compromises the executors on resume.
    Checkpoint dirs must be trusted (ACL'd to the job owner) — which
    Spark effectively requires anyway, since its own state/offset files
    are integrity-unprotected, but the blast radius here is code
    execution, not just wrong answers."""
    import pickle
    return pickle.dumps(convs, protocol=5)


def _bucket_decode(blob) -> dict:
    """Inverse of _bucket_encode. A state written by an earlier layout
    resumes in place: its seen-bitmap "b" (bit i set = turn i delivered)
    gives the position count as its highest set bit + 1, and its "n" and
    "v" fields are ignored."""
    import pickle
    convs = pickle.loads(bytes(blob))
    for st in convs.values():
        if "b" in st:
            st["len"] = int.from_bytes(st.pop("b"), "little").bit_length()
    return convs


def make_bucketed_preview_fn(budget: int = 500, style: str = "default",
                             skew: str = "balanced", fmt: str = "json",
                             session_gap_ms: int = 600_000,
                             emit_policy: str = "on_change"):
    """Build the applyInPandasWithState function. A group's state maps
    conv_id to that conversation's state, so one function serves both
    group keys: conv_id, and pmod(xxhash64(conv_id), B) — bucketed state
    coalescing, where one group invocation carries ~n_convs/B
    conversations and amortizes the per-group Python/Arrow/state-store
    machinery, at the price of rewriting the bucket's blob whenever any
    member changes. Every skew keeps budget-bounded state: at most cap
    turn contents + the position count, pruned through
    kernel.arena.KeepRule (see the module helpers).

    Each conversation's session closes by event-time timeout at its max
    ts + session_gap_ms: the group timeout is armed at the earliest open
    deadline, and a firing closes (final=True) the conversations the
    watermark has passed; the state is removed once none remain.

    emit_policy controls intermediate emissions: "on_change" (default)
    renders every changed conversation per micro-batch; "on_close"
    renders none (one render per conversation at close — the
    bulk-throughput mode). Both converge to identical final rows.
    """
    if emit_policy not in ("on_change", "on_close"):
        raise ValueError(f"unknown emit_policy: {emit_policy!r}")
    on_change = emit_policy == "on_change"
    cfg, prio, budget = make_configs(format=fmt, style=style,
                                     character_budget=budget, skew=skew)
    rule = KeepRule(prio["sampler"], prio["array_max_items"])

    def emit(rows):
        return pd.DataFrame({
            "conv_id": [r[0] for r in rows],
            "preview": [r[1] for r in rows],
            "n_turns": [r[2] for r in rows],
            "last_ts": pd.to_datetime([r[3] for r in rows], unit="us",
                                      utc=True),
            "final": [r[4] for r in rows]})

    def _arm_timeout(state, convs, wm_ms):
        # earliest session deadline in the bucket; EventTimeTimeout
        # requires a timestamp strictly beyond the current watermark
        deadline = min(c["mx"] // 1000 for c in convs.values()) \
            + session_gap_ms
        state.setTimeoutTimestamp(max(deadline, wm_ms + 1))

    def fn(key: Tuple[int], pdf_iter: Iterator[pd.DataFrame],
           state: Any) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            blob, _n = state.get
            convs = _bucket_decode(blob)
            closed, remaining = [], {}
            for cid, st in convs.items():
                if st["mx"] // 1000 + session_gap_ms <= wm_ms:
                    _prune(st, rule)  # a resumed state may hold more
                    closed.append((cid, _render(st, cfg, prio, budget),
                                   st["len"], st["mx"], True))
                else:
                    remaining[cid] = st
            if remaining:
                state.update((_bucket_encode(remaining), len(remaining)))
                _arm_timeout(state, remaining, wm_ms)
            else:
                state.remove()
            if closed:
                yield emit(closed)
            return

        convs = _bucket_decode(state.get[0]) if state.exists else {}
        touched: set[str] = set()
        changed: set[str] = set()
        import numpy as np
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            # merge per conversation WITHOUT pandas groupby: profiling
            # showed per-group DataFrame slicing + column boxing was
            # ~75% of the merge path at bench shape (64k convs / batch).
            # Extract columns once, stable-sort by conv_id (preserving
            # arrival order within each conversation — the LWW tie
            # contract), then hand list slices to _st_merge_cols.
            spdf = pdf.sort_values("conv_id", kind="stable")
            conv = spdf["conv_id"].to_numpy()
            tidxs = spdf["turn_idx"].tolist()
            roles = spdf["role"].tolist()
            texts = spdf["text"].tolist()
            tools = spdf["tool"].tolist()
            ts_list = (spdf["ts"].to_numpy("datetime64[ns]")
                       .astype("int64") // 1_000).tolist()
            bnd = np.flatnonzero(conv[1:] != conv[:-1]) + 1
            starts = np.concatenate(([0], bnd))
            ends = np.concatenate((bnd, [len(conv)]))
            for s, e in zip(starts.tolist(), ends.tolist()):
                cid = conv[s]
                st = convs.get(cid)
                if st is None:
                    st = convs[cid] = _st_new()
                touched.add(cid)
                if _st_merge_cols(st, tidxs[s:e], roles[s:e],
                                  texts[s:e], tools[s:e], ts_list[s:e],
                                  rule):
                    changed.add(cid)
        for cid in touched:
            _prune(convs[cid], rule)
        rows = []
        if on_change:
            # a NULL conv_id is one conversation too; it sorts first
            for cid in sorted(changed, key=lambda c: (c is not None, c)):
                st = convs[cid]
                rows.append((cid, _render(st, cfg, prio, budget),
                             st["len"], st["mx"], False))
        state.update((_bucket_encode(convs), len(convs)))
        _arm_timeout(state, convs, wm_ms)
        if rows:
            yield emit(rows)

    return fn


def streaming_previews(stream_df, *, budget: int = 500,
                       style: str = "default", skew: str = "balanced",
                       fmt: str = "json", watermark: str = "10 minutes",
                       session_gap_ms: int = 600_000,
                       n_buckets: int | None = 512,
                       emit_policy: str = "on_change"):
    """stream_df: streaming DataFrame with the transcript schema.

    n_buckets engages bucketed state coalescing: the stateful group key
    is pmod(xxhash64(conv_id), n_buckets), amortizing per-group
    applyInPandasWithState overhead across ~n_convs/n_buckets
    conversations per group (the throughput path); None groups by
    conv_id. Both run make_bucketed_preview_fn and produce identical
    final rows.

    emit_policy: "on_change" (default) / "on_close" — see
    make_bucketed_preview_fn. Both agree on final (final=True) rows;
    on_close trades intermediate visibility for throughput.

    Checkpoint compatibility: changing n_buckets, or upgrading across a
    state-format change, needs a NEW checkpoint dir (history in
    MIGRATION.md).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.sampling import counted_turns

    fn = make_bucketed_preview_fn(budget, style, skew, fmt, session_gap_ms,
                                  emit_policy=emit_policy)
    keyed = counted_turns(stream_df).withWatermark("ts", watermark)
    if n_buckets:
        keyed = (keyed.withColumn(
            "_bucket", F.pmod(F.xxhash64("conv_id"),
                              F.lit(n_buckets)).cast("long"))
            .groupBy("_bucket"))
    else:
        keyed = keyed.groupBy("conv_id")
    return keyed.applyInPandasWithState(
        fn, OUTPUT_SCHEMA, BUCKET_STATE_SCHEMA, "update",
        GroupStateTimeout.EventTimeTimeout)


# --------------------------------------------------------------------------
# idempotent keyed sink (exactly-once without an Iceberg catalog)


class KeyedParquetSink:
    """foreachBatch sink with exactly-once semantics: per-batch parquet
    delta + a committed-batch manifest. Replayed batch ids (post-restart
    re-execution) are skipped, making commits idempotent; reads
    reconstruct latest-per-key (MERGE semantics). With an Iceberg catalog
    this maps 1:1 onto MERGE INTO keyed by conv_id.

    Lineage + metrics: every row carries (_batch_id, _partition_id), and
    each commit records per-batch metrics (rows, files, bytes) in a
    sidecar manifest, read from the written parquet footers — no extra
    Spark action on the micro-batch hot path. The metrics sidecar is
    advisory (Iceberg snapshot-summary analog); the commit point remains
    the batch-id manifest, written last — a crash between the two leaves
    an uncommitted metrics row that the replay overwrites, so metrics
    stay consistent with committed batches and exactly-once is
    unaffected."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    @property
    def manifest(self) -> str:
        return os.path.join(self.path, "_committed_batches.json")

    @property
    def metrics_manifest(self) -> str:
        return os.path.join(self.path, "_batch_metrics.json")

    def committed(self) -> set[int]:
        if os.path.exists(self.manifest):
            with open(self.manifest) as f:
                return set(json.load(f))
        return set()

    def metrics(self) -> dict[int, dict]:
        """Per-committed-batch metrics {batch_id: {rows, files, bytes}}.
        Batches committed by a pre-metrics writer simply have no row."""
        if os.path.exists(self.metrics_manifest):
            with open(self.metrics_manifest) as f:
                return {int(k): v for k, v in json.load(f).items()}
        return {}

    @staticmethod
    def _dir_metrics(out: str) -> dict:
        """rows/files/bytes for one batch dir from parquet footers only."""
        import pyarrow.parquet as pq
        rows = files = nbytes = 0
        for name in os.listdir(out):
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(out, name)
            rows += pq.ParquetFile(p).metadata.num_rows
            files += 1
            nbytes += os.path.getsize(p)
        return {"rows": rows, "files": files, "bytes": nbytes}

    def __call__(self, batch_df, batch_id: int):
        if batch_id in self.committed():
            return  # replay after restart: already durable, skip
        from pyspark.sql import functions as F
        out = os.path.join(self.path, f"batch={batch_id}")
        (batch_df
         .withColumn("_batch_id", F.lit(batch_id))
         .withColumn("_partition_id", F.spark_partition_id())
         .write.mode("overwrite").parquet(out))
        done = self.committed()
        done.add(batch_id)
        stats = self.metrics()
        stats[batch_id] = self._dir_metrics(out)
        tmp = self.metrics_manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({str(k): v for k, v in sorted(stats.items())}, f)
        os.replace(tmp, self.metrics_manifest)
        tmp = self.manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(sorted(done), f)
        os.replace(tmp, self.manifest)  # atomic commit point

    def read_latest(self, spark):
        """Latest row per conv_id across committed batches (MERGE view):
        highest batch id first, then latest last_ts."""
        from pyspark.sql import Window, functions as F
        committed = self.committed()
        if not committed:
            return None
        paths = [os.path.join(self.path, f"batch={b}") for b in committed]
        paths = [p for p in paths if os.path.exists(p)]
        df = spark.read.parquet(*paths)
        w = Window.partitionBy("conv_id").orderBy(
            F.desc("_batch_id"), F.desc("last_ts"))
        return (df.withColumn("_rn", F.row_number().over(w))
                  .filter("_rn = 1").drop("_rn"))


def run_stream(spark, source_dir: str, sink: KeyedParquetSink,
               checkpoint_dir: str, *, budget: int = 500,
               style: str = "default", skew: str = "balanced",
               watermark: str = "10 minutes",
               session_gap_ms: int = 600_000, available_now: bool = True,
               max_files_per_trigger: int | None = None,
               n_buckets: int | None = 512,
               emit_policy: str = "on_change"):
    """File-source streaming job (swap readStream.format('iceberg') for an
    Iceberg catalog deployment — same plan otherwise).

    checkpoint_dir must be NEW when upgrading across a state format
    change or when changing n_buckets — see MIGRATION.md."""
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    reader = (spark.readStream.schema(schema))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(source_dir)
    out = streaming_previews(src, budget=budget, style=style, skew=skew,
                             watermark=watermark,
                             session_gap_ms=session_gap_ms,
                             n_buckets=n_buckets,
                             emit_policy=emit_policy)
    writer = (out.writeStream
              .foreachBatch(sink)
              .outputMode("update")
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = writer.trigger(availableNow=True).start()
    else:
        q = writer.start()
    return q
