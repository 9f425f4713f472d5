"""Streaming engine tests (FIXTURES.md §4):

1. late/duplicate turns replayed as a 2-chunk file stream merge
   last-write-wins and the final sink equals the batch pipeline run on
   the full input (exactly-once equivalence)
2. kill/restart mid-stream resumes from checkpoint with identical output
3. replayed batch ids are skipped by the idempotent sink
4. rolling tumbling-window previews aggregate per window
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import write_stream_file

from headson_spark.operators.preview import conversation_previews
from headson_spark.sources.transcripts import generate_rows, to_arrow
from headson_spark.streaming.engine import KeyedParquetSink, run_stream
from headson_spark.streaming.metrics import MetricsRecorder


def _late_chunks(tmp_path):
    """Split the `late` fixture into two out-of-order file chunks."""
    cols = generate_rows(0.01, tags=["late", "plain"])
    tbl = to_arrow(cols)
    pdf = tbl.to_pandas()
    # deterministic interleave: chunk by parity of row index
    a = pdf.iloc[::2].reset_index(drop=True)
    b = pdf.iloc[1::2].reset_index(drop=True)
    src = tmp_path / "stream_src"
    os.makedirs(src, exist_ok=True)
    return src, [a, b], pdf


def _write_chunk(src, i, pdf):
    write_stream_file(src / f"chunk_{i}.parquet", pdf)


@pytest.fixture()
def late_stream(tmp_path):
    return _late_chunks(tmp_path)


def _batch_expected(spark, pdf):
    sdf = spark.createDataFrame(pdf)
    rows = conversation_previews(sdf, budget=500).collect()
    return {r["conv_id"]: r["preview"] for r in rows}


@pytest.mark.parametrize("n_buckets", [None, 16],
                         ids=["per-conv", "bucketed16"])
def test_stream_matches_batch_exactly_once(spark, late_stream, tmp_path,
                                           n_buckets):
    src, chunks, full = late_stream
    for i, c in enumerate(chunks):
        _write_chunk(src, i, c)
    sink = KeyedParquetSink(str(tmp_path / "sink"))
    metrics = MetricsRecorder(str(tmp_path / "metrics.jsonl"))
    metrics.attach(spark)
    q = run_stream(spark, str(src), sink, str(tmp_path / "ckpt"),
                   budget=500, available_now=True, n_buckets=n_buckets)
    q.awaitTermination(300)
    got_df = sink.read_latest(spark)
    got = {r["conv_id"]: r["preview"] for r in got_df.collect()}
    exp = _batch_expected(spark, full)
    assert set(got) == set(exp)
    bad = [k for k in exp if got[k] != exp[k]]
    assert not bad, f"stream != batch for {bad[:5]}"
    # lineage audit columns present
    assert "_batch_id" in got_df.columns
    assert "_partition_id" in got_df.columns
    # metrics recorded progress: every durationMs phase and the state
    # operator's update and commit times on every line
    progress = [m for m in metrics.read() if m.get("event") == "progress"]
    assert progress
    for m in progress:
        assert "addBatch" in m["durations_ms"]
        assert m["durations_ms"]["triggerExecution"] == m["duration_ms"]
        assert m["state_operators"]
        for op in m["state_operators"]:
            for k in ("numRowsTotal", "numRowsUpdated", "allUpdatesTimeMs",
                      "commitTimeMs", "memoryUsedBytes", "customMetrics"):
                assert k in op, k


def test_stream_resume_from_checkpoint(spark, late_stream, tmp_path):
    src, chunks, full = late_stream
    sink = KeyedParquetSink(str(tmp_path / "sink2"))
    ckpt = str(tmp_path / "ckpt2")
    # session gap longer than the fixture's event-time span so sessions
    # stay open across the restart (otherwise the timeout legitimately
    # closes them between phases and phase-2 turns open a NEW session)
    week_ms = 7 * 24 * 3600 * 1000
    # phase 1: only first chunk available
    _write_chunk(src, 0, chunks[0])
    q = run_stream(spark, str(src), sink, ckpt, available_now=True,
                   session_gap_ms=week_ms, watermark="2 days")
    q.awaitTermination(300)
    committed_phase1 = sink.committed()
    assert committed_phase1, "phase 1 should commit at least one batch"
    # phase 2: add second chunk, restart from the same checkpoint
    _write_chunk(src, 1, chunks[1])
    # watermark wider than the fixture's event-time span: phase-2 chunks
    # carry turns that are "old" relative to phase-1's max event time, and
    # rows older than the checkpointed watermark are correctly dropped —
    # the equivalence claim only holds for in-watermark data
    q2 = run_stream(spark, str(src), sink, ckpt, available_now=True,
                    session_gap_ms=week_ms, watermark="2 days")
    q2.awaitTermination(300)
    got = {r["conv_id"]: r["preview"]
           for r in sink.read_latest(spark).collect()}
    exp = _batch_expected(spark, full)
    assert got == exp, "resumed run must equal uninterrupted run"


def test_sink_skips_replayed_batch(spark, tmp_path):
    sink = KeyedParquetSink(str(tmp_path / "sink3"))
    pdf = pd.DataFrame({
        "conv_id": ["a"], "preview": ["p1"], "n_turns": [1],
        "last_ts": [pd.Timestamp("2026-01-01", tz="UTC")],
        "final": [False]})
    df = spark.createDataFrame(pdf)
    sink(df, 0)
    # replay same batch id with different content: must be ignored
    pdf2 = pdf.assign(preview=["p2"])
    sink(spark.createDataFrame(pdf2), 0)
    rows = sink.read_latest(spark).collect()
    assert len(rows) == 1 and rows[0]["preview"] == "p1"


def test_sink_batch_metrics(spark, tmp_path):
    """Metrics sidecar: one row per committed batch, rows/files/bytes
    consistent with the parquet actually written; replays leave it
    untouched; metrics survive a pre-metrics (ids-only) manifest."""
    import json
    sink = KeyedParquetSink(str(tmp_path / "msink"))
    ts = pd.Timestamp("2026-01-01", tz="UTC")
    pdf = pd.DataFrame({
        "conv_id": ["a", "b", "c"], "preview": ["p"] * 3,
        "n_turns": [1] * 3, "last_ts": [ts] * 3, "final": [False] * 3})
    sink(spark.createDataFrame(pdf), 0)
    sink(spark.createDataFrame(pdf.iloc[:1]), 1)
    m = sink.metrics()
    assert set(m) == {0, 1}
    assert m[0]["rows"] == 3 and m[1]["rows"] == 1
    assert m[0]["files"] >= 1 and m[0]["bytes"] > 0
    # replay with different content: metrics row must not change
    before = m[0]
    sink(spark.createDataFrame(pdf.iloc[:2]), 0)
    assert sink.metrics()[0] == before
    # a committed batch with no metrics row (pre-metrics writer) is fine
    manifest = sink.manifest
    with open(manifest) as f:
        ids = json.load(f)
    ids.append(7)  # simulate an old commit that never wrote metrics
    with open(manifest, "w") as f:
        json.dump(ids, f)
    assert 7 in sink.committed() and 7 not in sink.metrics()


def test_bucketed_session_close_partial_bucket(spark, tmp_path):
    """Bucketed engine: one conversation in a shared bucket times out
    (session gap elapsed under the advancing watermark) and emits
    final=True, while the other conversation in the SAME bucket stays
    open — the bucket re-arms its timeout for the survivors."""
    import pandas as pd

    day = 24 * 3600 * 1000
    t0 = pd.Timestamp("2026-01-01")  # tz-naive to match the source schema

    def rows(conv, idxs, ts):
        return pd.DataFrame({
            "conv_id": [conv] * len(idxs),
            "turn_idx": pd.array(idxs, dtype="int32"),
            "role": ["user" if i % 2 == 0 else "assistant" for i in idxs],
            "text": [f"{conv} turn {i}" for i in idxs],
            "tool": [""] * len(idxs),
            "ts": pd.Series([ts] * len(idxs),
                            dtype="datetime64[us]")})

    src = tmp_path / "close_src"
    os.makedirs(src, exist_ok=True)
    _write_chunk(src, 0, pd.concat([rows("conv_a", [0, 1], t0),
                                    rows("conv_b", [0], t0)]))
    _write_chunk(src, 1, rows("conv_b", [1], t0 + pd.Timedelta(days=20)))
    _write_chunk(src, 2, rows("conv_b", [2], t0 + pd.Timedelta(days=40)))

    sink = KeyedParquetSink(str(tmp_path / "close_sink"))
    q = run_stream(spark, str(src), sink, str(tmp_path / "close_ckpt"),
                   budget=500, available_now=True,
                   watermark="1 hour", session_gap_ms=day,
                   max_files_per_trigger=1, n_buckets=1)
    q.awaitTermination(300)

    latest = {r["conv_id"]: r for r in sink.read_latest(spark).collect()}
    assert latest["conv_a"]["final"] is True
    assert latest["conv_b"]["final"] is False
    assert latest["conv_b"]["n_turns"] == 3
    # the closed conversation's preview equals the batch pipeline's
    batch = _batch_expected(spark, pd.concat([rows("conv_a", [0, 1], t0)]))
    assert latest["conv_a"]["preview"] == batch["conv_a"]


def test_sink_merge_out_of_order_replay_idempotent(spark, tmp_path):
    """MERGE-semantics equivalence: overlapping keyed batches delivered
    out of order, with replays interleaved, must converge to the same
    final state as an in-order single delivery — the exactly-once
    contract an Iceberg `MERGE INTO sink USING batch ON conv_id` gives.
    Swap-in for a real catalog: KeyedParquetSink.__call__ becomes that
    MERGE (batch_id dedup via Iceberg's write.wap / snapshot summary
    props), read_latest becomes a plain table scan."""

    def mk(batch_rows):
        pdf = pd.DataFrame({
            "conv_id": [r[0] for r in batch_rows],
            "preview": [r[1] for r in batch_rows],
            "n_turns": [1] * len(batch_rows),
            "last_ts": [pd.Timestamp(r[2], tz="UTC") for r in batch_rows],
            "final": [False] * len(batch_rows)})
        return spark.createDataFrame(pdf)

    batches = {
        0: [("a", "a@0", "2026-01-01"), ("b", "b@0", "2026-01-01")],
        1: [("a", "a@1", "2026-01-02"), ("c", "c@1", "2026-01-02")],
        2: [("b", "b@2", "2026-01-03"), ("c", "c@2", "2026-01-01")],
        3: [("a", "a@3", "2026-01-01"), ("d", "d@3", "2026-01-04")],
    }
    expected = {"a": "a@3", "b": "b@2", "c": "c@2", "d": "d@3"}

    # in-order reference run
    ref = KeyedParquetSink(str(tmp_path / "sink_ref"))
    for b in sorted(batches):
        ref(mk(batches[b]), b)
    got_ref = {r["conv_id"]: r["preview"]
               for r in ref.read_latest(spark).collect()}
    assert got_ref == expected

    # out-of-order delivery with replays sprinkled in (2 arrives before
    # 1; 0 and 2 replayed with MUTATED content — must be ignored)
    sink = KeyedParquetSink(str(tmp_path / "sink_ooo"))
    sink(mk(batches[0]), 0)
    sink(mk(batches[2]), 2)
    sink(mk([("z", "poison", "2026-02-01")]), 0)   # replay, mutated
    sink(mk(batches[3]), 3)
    sink(mk(batches[1]), 1)
    sink(mk([("z", "poison2", "2026-02-01")]), 2)  # replay, mutated
    got = {r["conv_id"]: r["preview"]
           for r in sink.read_latest(spark).collect()}
    assert got == expected

    # full second replay of everything: state must not change
    for b in [3, 1, 0, 2]:
        sink(mk([("z", "poison3", "2026-03-01")]), b)
    got2 = {r["conv_id"]: r["preview"]
            for r in sink.read_latest(spark).collect()}
    assert got2 == expected


def test_skewhot_conversation_streams_bounded(spark, tmp_path):
    """The 50k-turn hot conversation streams through the stateful kernel
    without blowing up: state is capped, the preview stays budgeted."""
    cols = generate_rows(0.01, tags=["skewhot"])
    tbl = to_arrow(cols)
    src = tmp_path / "hot_src"
    os.makedirs(src, exist_ok=True)
    pq.write_table(tbl, str(src / "hot.parquet"))
    sink = KeyedParquetSink(str(tmp_path / "hot_sink"))
    q = run_stream(spark, str(src), sink, str(tmp_path / "hot_ckpt"),
                   budget=500, available_now=True,
                   session_gap_ms=7 * 24 * 3600 * 1000)
    q.awaitTermination(600)
    rows = sink.read_latest(spark).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_turns"] == 50_000
    assert len(r["preview"].encode("utf-8")) <= 500
    # batch pipeline agrees on the hot conversation
    batch = conversation_previews(
        spark.read.parquet(str(src)), budget=500).collect()
    assert batch[0]["preview"] == r["preview"]


def test_rolling_window_previews(spark, tmp_path):
    from headson_spark.streaming.windows import rolling_previews
    cols = generate_rows(0.01, tags=["plain"])
    tbl = to_arrow(cols)
    src = tmp_path / "roll_src"
    os.makedirs(src, exist_ok=True)
    pq.write_table(tbl, str(src / "all.parquet"))
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = rolling_previews(stream, window="1 minute",
                           watermark="0 seconds", budget=300)
    q = (out.writeStream.format("memory").queryName("rolls")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows = spark.sql("select * from rolls").collect()
    assert rows, "windowed previews should be emitted"
    for r in rows:
        assert r["preview"].startswith("{")
        assert r["n_turns"] > 0


def _policy_rows(conv, idxs, ts):
    return pd.DataFrame({
        "conv_id": [conv] * len(idxs),
        "turn_idx": pd.array(idxs, dtype="int32"),
        "role": ["user" if i % 2 == 0 else "assistant" for i in idxs],
        "text": [f"{conv} turn {i}" for i in idxs],
        "tool": [""] * len(idxs),
        "ts": pd.Series([ts] * len(idxs), dtype="datetime64[us]")})


@pytest.mark.parametrize("n_buckets", [None, 2],
                         ids=["per-conv", "bucketed2"])
def test_emit_policies_agree_on_final_states(spark, tmp_path, n_buckets):
    """on_change / on_close must converge to identical final
    (final=True) rows; on_close must emit NOTHING before close."""
    day = 24 * 3600 * 1000
    t0 = pd.Timestamp("2026-01-01")

    src = tmp_path / f"pol_src_{n_buckets}"
    os.makedirs(src, exist_ok=True)
    # conv_a and conv_b grow over 3 micro-batches, then a far-future
    # turn for conv_c advances the watermark past their session gap
    _write_chunk(src, 0, pd.concat([_policy_rows("conv_a", [0, 1], t0),
                                    _policy_rows("conv_b", [0], t0)]))
    _write_chunk(src, 1, pd.concat([
        _policy_rows("conv_a", [2], t0 + pd.Timedelta(minutes=1)),
        _policy_rows("conv_b", [1], t0 + pd.Timedelta(minutes=1))]))
    _write_chunk(src, 2, _policy_rows("conv_a", [3],
                                      t0 + pd.Timedelta(minutes=2)))
    _write_chunk(src, 3, _policy_rows("conv_c", [0],
                                      t0 + pd.Timedelta(days=30)))

    finals, intermediates = {}, {}
    for policy in ("on_change", "on_close"):
        sink = KeyedParquetSink(
            str(tmp_path / f"pol_sink_{n_buckets}_{policy}"))
        q = run_stream(
            spark, str(src), sink,
            str(tmp_path / f"pol_ckpt_{n_buckets}_{policy}"),
            budget=500, available_now=True, watermark="1 hour",
            session_gap_ms=day, max_files_per_trigger=1,
            n_buckets=n_buckets, emit_policy=policy)
        q.awaitTermination(300)
        all_rows = spark.read.parquet(
            *[os.path.join(sink.path, f"batch={b}")
              for b in sink.committed()
              if os.path.exists(os.path.join(sink.path, f"batch={b}"))]
        ).collect()
        finals[policy] = {r["conv_id"]: (r["preview"], r["n_turns"])
                          for r in all_rows if r["final"]}
        intermediates[policy] = [r for r in all_rows if not r["final"]]

    assert finals["on_change"] == finals["on_close"]
    assert set(finals["on_change"]) == {"conv_a", "conv_b"}
    assert not intermediates["on_close"], \
        "on_close must skip all intermediate emissions"
    assert intermediates["on_change"]


def test_null_conv_id_streams_like_batch(spark, tmp_path):
    """With one bucket every conversation shares it, the NULL conv_id
    one included: the stream's final rows equal the batch plan's, which
    previews the NULL conv_id rows as one conversation."""
    t0 = pd.Timestamp("2026-01-01")
    pdf = pd.concat([_policy_rows(c, [0, 1, 2], t0)
                     for c in ("a", None, "b")], ignore_index=True)
    src = tmp_path / "null_src"
    os.makedirs(src, exist_ok=True)
    _write_chunk(src, 0, pdf)
    sink = KeyedParquetSink(str(tmp_path / "null_sink"))
    q = run_stream(spark, str(src), sink, str(tmp_path / "null_ckpt"),
                   budget=500, available_now=True, n_buckets=1)
    q.awaitTermination(300)
    got = {r["conv_id"]: (r["preview"], r["n_turns"])
           for r in sink.read_latest(spark).collect()}
    exp = {r["conv_id"]: (r["preview"], r["n_turns"])
           for r in conversation_previews(spark.createDataFrame(pdf),
                                          budget=500).collect()}
    assert set(exp) == {"a", None, "b"}
    assert got == exp


def test_merge_rows_rejects_contract_violating_turn_idx(spark):
    """The stream's row filter: counted_turns, which streaming_previews
    applies ahead of the state operator, drops NULL, negative and
    out-of-range turn_idx rows, so the state never sees one (a NULL
    would crash the merge, a negative or huge one would corrupt the
    position count); the admitted rows still merge last-write-wins."""
    from headson_spark.kernel.arena import KEPT_POSITIONS_MAX, KeepRule
    from headson_spark.operators.sampling import counted_turns
    from headson_spark.streaming.engine import _st_merge_cols, _st_new
    day_us = 86_400_000_000
    rows = [(0, "ok0", day_us), (-5, "poison-neg", day_us),
            (1, "ok1", day_us), (2 ** 31 - 1, "poison-huge", day_us),
            (None, "poison-null", day_us),
            (KEPT_POSITIONS_MAX, "poison-bound", day_us),
            (KEPT_POSITIONS_MAX - 1, "ok-last", day_us),
            (1, "ok1-v2", 2 * day_us)]
    df = spark.createDataFrame(rows, "turn_idx int, text string, ts long")
    kept = counted_turns(df).collect()  # in input order
    st = _st_new()
    assert _st_merge_cols(
        st, [r["turn_idx"] for r in kept], ["user"] * len(kept),
        [r["text"] for r in kept], [""] * len(kept),
        [r["ts"] for r in kept], KeepRule("balanced", 250))
    # positions 0, 1 and KEPT_POSITIONS_MAX - 1 delivered
    assert st["len"] == KEPT_POSITIONS_MAX
    assert set(st["k"]) == {"0", "1", str(KEPT_POSITIONS_MAX - 1)}
    assert st["k"]["1"][1] == "ok1-v2"  # LWW still applied


def test_on_close_policy_resumes_from_checkpoint(spark, tmp_path):
    """The on_close policy across a kill/restart: phase 1 merges turns
    (emitting nothing), the restarted query closes the session and emits
    the final row — equal to an uninterrupted run's final."""
    day = 24 * 3600 * 1000
    t0 = pd.Timestamp("2026-01-01")
    src = tmp_path / "ocr_src"
    os.makedirs(src, exist_ok=True)
    week_ms = 7 * 24 * 3600 * 1000

    def run(src_dir, sink_name, ckpt_name):
        sink = KeyedParquetSink(str(tmp_path / sink_name))
        q = run_stream(spark, str(src_dir), sink,
                       str(tmp_path / ckpt_name), budget=500,
                       available_now=True, watermark="1 hour",
                       session_gap_ms=day, max_files_per_trigger=1,
                       emit_policy="on_close")
        q.awaitTermination(300)
        return sink

    _write_chunk(src, 0, _policy_rows("conv_r", [0, 1], t0))
    sink = run(src, "ocr_sink", "ocr_ckpt")
    assert sink.read_latest(spark) is None or \
        not sink.read_latest(spark).collect(), \
        "on_close must emit nothing while the session is open"
    # restart with more turns + a watermark-advancing far-future row
    _write_chunk(src, 1, _policy_rows("conv_r", [2], t0
                                      + pd.Timedelta(minutes=1)))
    _write_chunk(src, 2, _policy_rows("conv_far", [0],
                                      t0 + pd.Timedelta(days=30)))
    sink = run(src, "ocr_sink", "ocr_ckpt")
    got = {r["conv_id"]: (r["preview"], r["n_turns"])
           for r in sink.read_latest(spark).collect()
           if r["final"]}
    # uninterrupted reference run over the same files
    ref = run(src, "ocr_sink_ref", "ocr_ckpt_ref")
    exp = {r["conv_id"]: (r["preview"], r["n_turns"])
           for r in ref.read_latest(spark).collect()
           if r["final"]}
    assert got == exp and "conv_r" in got
    assert got["conv_r"][1] == 3


def test_changed_rounds_emit_identically_across_engines(spark, tmp_path):
    """Under both group keys (conv_id and bucketed) on_change emits once
    per CHANGED merge round: a duplicate-only delivery (older ts, LWW
    loser -> changed=False) emits nothing, so the intermediate rows are
    n_turns 1, 2, 3, identical across the keys."""
    day = 24 * 3600 * 1000
    t0 = pd.Timestamp("2026-01-01")

    src = tmp_path / "ek_src"
    os.makedirs(src, exist_ok=True)
    _write_chunk(src, 0, _policy_rows("conv_a", [0], t0))
    # duplicate of turn 0 with an OLDER ts: merged away (LWW loser),
    # changed=False -> must not emit
    _write_chunk(src, 1, _policy_rows("conv_a", [0],
                                      t0 - pd.Timedelta(minutes=5)))
    _write_chunk(src, 2, _policy_rows("conv_a", [1],
                                      t0 + pd.Timedelta(minutes=1)))
    _write_chunk(src, 3, _policy_rows("conv_a", [2],
                                      t0 + pd.Timedelta(minutes=2)))
    _write_chunk(src, 4, _policy_rows("conv_c", [0],
                                      t0 + pd.Timedelta(days=30)))

    inter = {}
    for label, nb in (("per-conv", None), ("bucketed", 2)):
        sink = KeyedParquetSink(str(tmp_path / f"ek_sink_{label}"))
        q = run_stream(
            spark, str(src), sink, str(tmp_path / f"ek_ckpt_{label}"),
            budget=500, available_now=True, watermark="1 hour",
            session_gap_ms=day, max_files_per_trigger=1,
            n_buckets=nb)
        q.awaitTermination(300)
        rows = spark.read.parquet(
            *[os.path.join(sink.path, f"batch={b}")
              for b in sink.committed()
              if os.path.exists(os.path.join(sink.path, f"batch={b}"))]
        ).collect()
        inter[label] = sorted(
            (r["conv_id"], r["n_turns"], r["preview"])
            for r in rows if not r["final"])
    assert inter["per-conv"] == inter["bucketed"]
    assert [(c, n) for c, n, _ in inter["per-conv"]] == [
        ("conv_a", 1), ("conv_a", 2), ("conv_a", 3), ("conv_c", 1)]


def test_rolling_window_hot_conv_bounded_and_batch_equal(spark, tmp_path):
    """Bounded-state rolling previews: a mega-conversation delivering
    5000 turns into ONE window must (a) keep the keep-set predicate
    BELOW the window aggregation (only kept turns enter the
    collect_list buffer), (b) report the exact delivered count, and
    (c) render byte-identically to the batch pipeline on the same turns
    (the window contains the conversation's dense prefix, where the
    conversation-position pushdown is exact)."""
    from headson_spark.streaming.windows import rolling_previews

    n = 5000
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    pdf = pd.DataFrame({
        "conv_id": ["hot"] * n,
        "turn_idx": pd.array(range(n), dtype="int32"),
        "role": ["user" if i % 2 == 0 else "assistant" for i in range(n)],
        "text": [f"hot turn {i} payload" for i in range(n)],
        "tool": [""] * n,
        # all inside one 1-minute window
        "ts": pd.Series([t0 + pd.Timedelta(microseconds=i)
                         for i in range(n)], dtype="datetime64[us]"),
    })
    # a far-future turn advances the watermark past the hot window's end
    # (append mode only emits closed windows)
    closer = pd.DataFrame({
        "conv_id": ["closer"], "turn_idx": pd.array([0], dtype="int32"),
        "role": ["user"], "text": ["bye"], "tool": [""],
        "ts": pd.Series([t0 + pd.Timedelta(minutes=10)],
                        dtype="datetime64[us]")})
    pdf = pd.concat([pdf, closer], ignore_index=True)
    src = tmp_path / "hotroll_src"
    os.makedirs(src, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf), str(src / "hot.parquet"))

    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = rolling_previews(stream, window="1 minute",
                           watermark="0 seconds", budget=400)

    # (a) plan: the keep-set CASE sits under the streaming aggregate's
    # partial phase — the buffer holds kept turns only (analyzed plan:
    # optimizedPlan() would trigger the no-execution streaming check)
    plan_str = out._jdf.queryExecution().analyzed().toString()
    assert "CASE WHEN" in plan_str and "turn_idx" in plan_str
    assert "collect_list" in plan_str

    q = (out.writeStream.format("memory").queryName("hotrolls")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows = [r for r in spark.sql("select * from hotrolls").collect()
            if r["conv_id"] == "hot"]
    assert len(rows) == 1
    r = rows[0]
    # (b) exact delivered count
    assert r["n_turns"] == n
    # (c) byte-equal to the batch pipeline at the same budget
    batch = {b["conv_id"]: b for b in conversation_previews(
        spark.read.schema(schema).parquet(str(src)), budget=400).collect()}
    assert r["preview"] == batch["hot"]["preview"]


def test_rolling_window_tail_skew_rejected(spark, tmp_path):
    from headson_spark.streaming.windows import rolling_previews
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    src = tmp_path / "tailroll_src"
    os.makedirs(src, exist_ok=True)
    stream = spark.readStream.schema(schema).parquet(str(src))
    with pytest.raises(ValueError, match="tail"):
        rolling_previews(stream, skew="tail")


def test_render_udfs_agree_on_dense_prefix(spark):
    """make_presampled_render_udf (keep-set array + total) must render
    exactly what kernel.summarize_value renders from the full turn list
    when the kept set is the sampler keep-set over that list — the
    pushdown exactness contract at UDF granularity."""
    from headson_spark.kernel import summarize_value
    from headson_spark.operators.sampling import default_kept_positions
    from headson_spark.streaming.windows import make_presampled_render_udf

    budget = 300
    cap = budget // 2
    n = 40
    t0 = pd.Timestamp("2026-01-01", tz="UTC")
    turns = [{"turn_idx": i, "role": "user" if i % 2 == 0 else "assistant",
              "text": f"turn {i} text", "tool": "",
              "ts": (t0 + pd.Timedelta(seconds=i)).to_pydatetime()}
             for i in range(n)]
    kept_pos = set(default_kept_positions(cap))
    kept = [t for t in turns if t["turn_idx"] in kept_pos]

    struct_t = ("array<struct<turn_idx:int,role:string,text:string,"
                "tool:string,ts:timestamp>>")
    df = spark.createDataFrame([(kept, n)], f"kept {struct_t}, total int")
    pre_udf = make_presampled_render_udf(budget=budget)
    got = df.select(pre_udf("kept", "total").alias("b")).first()["b"]
    doc = {"turns": [{"role": t["role"], "text": t["text"], "tool": ""}
                     for t in turns]}
    assert got == summarize_value(doc, format="json",
                                  character_budget=budget)
    assert got.startswith("{")


def test_rolling_sliding_windows_consistent_keepset(spark, tmp_path):
    """Sliding windows: a turn lands in MULTIPLE windows; the
    conversation-position keep-set must make the same keep decision in
    each (the pushdown's cross-window consistency property), and each
    closed window reports the conversation's position count so far, its
    max turn_idx + 1."""
    from headson_spark.streaming.windows import rolling_previews

    t0 = pd.Timestamp("2026-01-01 00:00:30")  # straddles slide boundaries
    n = 30
    pdf = pd.DataFrame({
        "conv_id": ["s"] * n,
        "turn_idx": pd.array(range(n), dtype="int32"),
        "role": ["user" if i % 2 == 0 else "assistant" for i in range(n)],
        "text": [f"sliding turn {i}" for i in range(n)],
        "tool": [""] * n,
        "ts": pd.Series([t0 + pd.Timedelta(seconds=2 * i)
                         for i in range(n)], dtype="datetime64[us]"),
    })
    closer = pd.DataFrame({
        "conv_id": ["closer"], "turn_idx": pd.array([0], dtype="int32"),
        "role": ["user"], "text": ["bye"], "tool": [""],
        "ts": pd.Series([t0 + pd.Timedelta(minutes=30)],
                        dtype="datetime64[us]")})
    src = tmp_path / "slide_src"
    os.makedirs(src, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(
        pd.concat([pdf, closer], ignore_index=True)), str(src / "s.parquet"))

    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = rolling_previews(stream, window="1 minute", slide="30 seconds",
                           watermark="0 seconds", budget=300)
    q = (out.writeStream.format("memory").queryName("slides")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows = [r for r in spark.sql("select * from slides").collect()
            if r["conv_id"] == "s"]
    # 60s of data, 1-minute windows sliding by 30s -> >= 2 closed windows
    assert len(rows) >= 2, rows
    for r in rows:
        inside = [i for i, t in enumerate(pdf["ts"])
                  if r["window_start"] <= t < r["window_end"]]
        assert r["n_turns"] == max(inside) + 1, r
    for r in rows:
        assert r["preview"].startswith("{")
        assert len(r["preview"].encode()) <= 300
