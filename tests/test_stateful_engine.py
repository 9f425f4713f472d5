"""The streaming engine's stateful function (make_bucketed_preview_fn),
driven without Spark through a fake GroupState with key = conv_id: the
same function streaming_previews(n_buckets=None) runs per conversation.
Every emitted preview is checked against the batch kernel
(operators.preview.make_preview_fn) on the rows delivered so far, and,
when their positions are dense, against kernel.summarize_value on the
turns merged so far (last-write-wins by ts per turn_idx), including
late-turn overwrites, stale duplicates, out-of-order backfill, the
session close and state removal. A Hypothesis gate runs random gapped,
duplicated, micro-batched conversations through both.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from headson_spark.kernel import summarize_value
from headson_spark.kernel.api import array_cap
from headson_spark.kernel.arena import KeepRule
from headson_spark.operators.preview import make_preview_fn
from headson_spark.streaming.engine import (_bucket_decode,
                                            make_bucketed_preview_fn)

GAP_MS = 600_000
T0 = pd.Timestamp("2026-01-01")


class FakeGroupState:
    """Minimal applyInPandasWithState GroupState stand-in."""

    def __init__(self):
        self.get = None
        self.hasTimedOut = False
        self.watermark_ms = 0
        self.timeout_ts = None
        self.removed = False

    @property
    def exists(self):
        return self.get is not None

    def update(self, v):
        self.get = v

    def remove(self):
        self.get = None
        self.removed = True

    def getCurrentWatermarkMs(self):
        return self.watermark_ms

    def setTimeoutTimestamp(self, ts):
        self.timeout_ts = ts


def _batch(rows):
    """rows: (turn_idx, text, seconds after T0); even turns are user."""
    return pd.DataFrame({
        "conv_id": ["conv"] * len(rows),
        "turn_idx": pd.array([r[0] for r in rows], dtype="int32"),
        "role": ["user" if r[0] % 2 == 0 else "assistant" for r in rows],
        "text": [r[1] for r in rows],
        "tool": [""] * len(rows),
        "ts": pd.Series([T0 + pd.Timedelta(seconds=r[2]) for r in rows],
                        dtype="datetime64[ns]")})


def _deadline(seconds):
    return (T0 + pd.Timedelta(seconds=seconds)).value // 1_000_000 + GAP_MS


def _close(fn, state):
    """Fire the event-time timeout the way Spark does: once the watermark
    passes the armed timeout timestamp."""
    state.watermark_ms = state.timeout_ts + 1
    state.hasTimedOut = True
    out = list(fn(("conv",), iter([]), state))
    state.hasTimedOut = False
    return out


def run(batches, skew="balanced", expire=True, **fn_kwargs):
    """Drive one conversation's group. Returns ([(n_batches_seen, row)],
    state) with one entry per emitted row."""
    fn = make_bucketed_preview_fn(budget=500, skew=skew,
                                  session_gap_ms=GAP_MS, **fn_kwargs)
    state = FakeGroupState()
    out = []
    for i, b in enumerate(batches):
        for pdf in fn(("conv",), iter([b]), state):
            out.extend((i + 1, r) for _, r in pdf.iterrows())
    if expire:
        for pdf in _close(fn, state):
            out.extend((len(batches), r) for _, r in pdf.iterrows())
    return out, state


def _kernel(delivered, skew, budget=500):
    """The batch kernel on the delivered rows (arrival order breaks ts
    ties, the later delivery winning), fed every row: {conv_id:
    (preview, n_turns)}."""
    rows = (delivered.assign(_seq=range(len(delivered)))
            .sort_values(["conv_id", "turn_idx", "ts", "_seq"])
            .drop(columns="_seq"))
    fn = make_preview_fn(budget=budget, skew=skew)
    out = pd.concat(list(fn(iter([rows.reset_index(drop=True)]))))
    return {c: (p, n) for c, p, n in
            zip(out["conv_id"], out["preview"], out["n_turns"])}


def _assert_matches_kernel(out, batches, skew="balanced"):
    """Every emission equals the batch kernel on the batches seen so far:
    n_turns is max(turn_idx) + 1 and a missing position is omitted. On
    dense positions it also equals summarize_value on the LWW merge (in
    arrival order; a later delivery wins a ts tie)."""
    for seen, row in out:
        delivered = pd.concat(batches[:seen], ignore_index=True)
        assert (row["preview"], row["n_turns"]) == _kernel(
            delivered, skew)["conv"]
        turns = {}
        for t, role, text, ts in zip(delivered["turn_idx"],
                                     delivered["role"], delivered["text"],
                                     delivered["ts"]):
            if t not in turns or ts >= turns[t][2]:
                turns[t] = (role, text, ts)
        if sorted(turns) == list(range(len(turns))):
            doc = {"turns": [{"role": turns[t][0], "text": turns[t][1],
                              "tool": ""} for t in sorted(turns)]}
            assert row["preview"] == summarize_value(
                doc, format="json", character_budget=500, skew=skew)


def _finals(out):
    return [bool(r["final"]) for _, r in out]


def test_simple_growth_and_close():
    batches = [_batch([(0, "hello", 0), (1, "hi there", 1)]),
               _batch([(2, "more text", 2), (3, "done", 3)])]
    out, _ = run(batches)
    # 2 intermediate + 1 final emission
    assert _finals(out) == [False, False, True]
    assert out[-1][1]["n_turns"] == 4
    assert out[-1][1]["last_ts"] == (T0 + pd.Timedelta(seconds=3)
                                     ).tz_localize("UTC")
    _assert_matches_kernel(out, batches)


def test_late_turn_lww_overwrites():
    """A re-delivered turn with a LATER ts replaces the content."""
    batches = [_batch([(0, "v1 of turn zero", 0), (1, "turn one", 1)]),
               _batch([(0, "V2-REWRITE of turn zero", 300)])]
    out, _ = run(batches)
    assert "V2-REWRITE" in out[-1][1]["preview"]
    _assert_matches_kernel(out, batches)


def test_stale_duplicate_is_dropped():
    """A re-delivered turn with an EARLIER ts must NOT overwrite."""
    batches = [_batch([(0, "CANONICAL", 300)]),
               _batch([(0, "STALE-REPLAY", 0), (1, "next", 301)])]
    out, _ = run(batches)
    final = out[-1][1]["preview"]
    assert "CANONICAL" in final and "STALE-REPLAY" not in final
    _assert_matches_kernel(out, batches)


def test_out_of_order_backfill():
    """Gap turns arriving after their successors fill omitted positions:
    the first emission already counts 5 positions (turn_idx 4 + 1) and
    omits 1 and 3; every emission equals the kernel on the turns
    delivered so far."""
    batches = [_batch([(0, "first", 0), (2, "third", 2), (4, "fifth", 4)]),
               _batch([(1, "second (late)", 1), (3, "fourth (late)", 3)])]
    out, _ = run(batches)
    assert [r["n_turns"] for _, r in out] == [5, 5, 5]
    assert "…" in out[0][1]["preview"]
    assert "…" not in out[-1][1]["preview"]
    _assert_matches_kernel(out, batches)


def _held(state):
    """Turn contents held in the conversation's state."""
    return len(_bucket_decode(state.get[0])["conv"]["k"])


@pytest.mark.parametrize("skew", ["balanced", "head", "tail"])
def test_long_conversation_bounded_vs_full_state(skew):
    """600 turns at budget 500: every skew holds bounded state (the
    contents the keep rule shows + the position count), at most the cap
    of 250 contents, and previews equal the kernel on all turns."""
    turns = [(i, f"turn {i} says something number {i * 7}", i)
             for i in range(600)]
    batches = [_batch(turns[:250]), _batch(turns[250:])]
    out, state = run(batches, skew=skew, expire=False)
    _assert_matches_kernel(out, batches, skew=skew)
    assert _held(state) <= 250


def test_tail_bounded_state_backfill_redelivery_close():
    """Tail skew on bounded state: 590 turns (10..599) prune the early
    ones; a late low-index backfill (0..9) fills positions tail does not
    show and emits nothing (its ts are older, so the row cannot change);
    a pruned turn re-delivered with a newer ts is merged and pruned
    again; a shown turn's rewrite replaces it; the close renders the
    rest. Every emission equals the kernel on the rows delivered so
    far."""
    batches = [_batch([(i, f"tail turn {i}", 100 + i)
                       for i in range(10, 600)]),
               _batch([(i, f"late turn {i}", i) for i in range(10)]),
               _batch([(20, "REWRITE-PRUNED", 900)]),
               _batch([(599, "REWRITE-SHOWN", 901)])]
    fn = make_bucketed_preview_fn(budget=500, skew="tail",
                                  session_gap_ms=GAP_MS)
    state = FakeGroupState()
    out = []
    last_250 = {str(i) for i in range(350, 600)}
    for i, b in enumerate(batches):
        for pdf in fn(("conv",), iter([b]), state):
            out.extend((i + 1, r) for _, r in pdf.iterrows())
        assert set(_bucket_decode(state.get[0])["conv"]["k"]) == last_250
    for pdf in _close(fn, state):
        out.extend((len(batches), r) for _, r in pdf.iterrows())
    assert [seen for seen, _ in out] == [1, 3, 4, 4]
    assert _finals(out) == [False] * 3 + [True]
    assert [r["n_turns"] for _, r in out] == [600] * 4
    assert "REWRITE-PRUNED" not in out[1][1]["preview"]
    assert "REWRITE-SHOWN" in out[-1][1]["preview"]
    _assert_matches_kernel(out, batches, skew="tail")
    assert not state.exists


@pytest.mark.parametrize("skew", ["balanced", "head", "tail"])
def test_delivery_on_unshown_positions_emits_no_row(skew):
    """A batch that only lands on positions the keep rule does not show,
    with no newer ts and no new position, leaves the row as it was, so
    the stream emits nothing for it: tail, budget 500, turns 10..599 then
    turns 0..9 with older ts; balanced and head the same shape on
    positions past their keep-set."""
    cap = array_cap(500)
    unshown = ([i for i in range(600) if i not in
                KeepRule(skew, cap).positions] if skew != "tail"
               else list(range(10)))[:10]
    first = [i for i in range(600) if i not in unshown]
    batches = [_batch([(i, f"turn {i}", 100 + i) for i in first]),
               _batch([(i, f"late turn {i}", i) for i in unshown])]
    fn = make_bucketed_preview_fn(budget=500, skew=skew,
                                  session_gap_ms=GAP_MS)
    state = FakeGroupState()
    emitted = [list(fn(("conv",), iter([b]), state)) for b in batches]
    assert len(emitted[0]) == 1 and emitted[1] == []
    held = {int(k) for k in _bucket_decode(state.get[0])["conv"]["k"]}
    assert held.isdisjoint(unshown) and len(held) <= cap
    out = [(2, r) for pdf in _close(fn, state) for _, r in pdf.iterrows()]
    assert out[0][1]["preview"] == emitted[0][0]["preview"][0]
    _assert_matches_kernel(out, batches, skew=skew)


def test_tail_state_from_full_turn_map_resumes():
    """A tail state written by earlier layouts (same blob schema) resumes
    in place: the full turn map, the `"n"` and `"v"` fields, and the
    seen-bitmap `"b"` (bit i set = turn i delivered) in place of the
    position count. The close renders from it directly, and a new batch
    prunes it to the cap; both count and render like the kernel."""
    from headson_spark.streaming.engine import _bucket_encode
    turns = [(i, f"old turn {i}", i) for i in range(300)]
    ts_us = [(T0 + pd.Timedelta(seconds=t[2])).value // 1000 for t in turns]
    bits = bytearray(((1 << 300) - 1).to_bytes(38, "little"))
    st = {"b": bits, "k": {}, "mx": max(ts_us), "n": 0, "v": 1}
    for (i, text, _), us in zip(turns, ts_us):
        st["k"][str(i)] = ["user" if i % 2 == 0 else "assistant", text,
                           "", us]
    blob = (_bucket_encode({"conv": st}), 1)
    fn = make_bucketed_preview_fn(budget=500, skew="tail",
                                  session_gap_ms=GAP_MS)

    closing = FakeGroupState()
    closing.update(blob)
    closing.timeout_ts = _deadline(299)
    final = _close(fn, closing)
    out = [(1, r) for _, r in final[0].iterrows()]
    assert _finals(out) == [True] and out[0][1]["n_turns"] == 300
    _assert_matches_kernel(out, [_batch(turns)], skew="tail")

    resumed = FakeGroupState()
    resumed.update(blob)
    new = _batch([(300, "new turn 300", 300)])
    out = [(2, r) for pdf in fn(("conv",), iter([new]), resumed)
           for _, r in pdf.iterrows()]
    assert _held(resumed) <= 250
    out += [(2, r) for pdf in _close(fn, resumed)
            for _, r in pdf.iterrows()]
    assert _finals(out) == [False, True]
    assert [r["n_turns"] for _, r in out] == [301, 301]
    _assert_matches_kernel(out, [_batch(turns), new], skew="tail")


def test_timer_expiry_clears_state():
    fn = make_bucketed_preview_fn(budget=500, session_gap_ms=GAP_MS)
    state = FakeGroupState()
    list(fn(("conv",), iter([_batch([(0, "x", 0)])]), state))
    assert state.exists
    # the session deadline was armed at max event time + gap
    assert state.timeout_ts == _deadline(0)
    final = _close(fn, state)
    assert len(final) == 1 and bool(final[0].iloc[0]["final"])
    assert not state.exists, "state must be cleared on timer expiry"


def test_state_removed_on_close():
    out, state = run([_batch([(0, "x", 0)])])
    assert _finals(out) == [False, True]
    assert state.removed and not state.exists


def test_emit_policies_agree_on_final_state():
    """on_change / on_close: identical final render, the documented
    intermediate-emission counts (3 changed rounds)."""
    batches = [_batch([(0, "a", 0)]), _batch([(1, "b", 1)]),
               _batch([(2, "c", 2)])]
    finals = {}
    for policy, expect_inter in (("on_change", 3), ("on_close", 0)):
        out, _ = run(batches, emit_policy=policy)
        assert _finals(out).count(False) == expect_inter, policy
        assert _finals(out)[-1]
        finals[policy] = out[-1][1]["preview"]
        _assert_matches_kernel(out, batches)
    assert len(set(finals.values())) == 1


def test_rejects_unknown_policy():
    for policy in ("sometimes", "every_k"):
        with pytest.raises(ValueError):
            make_bucketed_preview_fn(emit_policy=policy)


def test_no_emission_on_unchanged_batch():
    """A batch that changes nothing (pure stale replay) must not emit."""
    out, _ = run([_batch([(0, "x", 300)]), _batch([(0, "ignored", 0)])],
                 expire=False)
    assert [seen for seen, _ in out] == [1]


def test_timeout_monotone_under_late_turns():
    """The session timeout is re-armed on EVERY data round at
    max_event_ts + gap; a late (older-ts) turn must keep the SAME
    deadline, never move it backward."""
    fn = make_bucketed_preview_fn(budget=500, session_gap_ms=GAP_MS)
    state = FakeGroupState()
    list(fn(("conv",), iter([_batch([(0, "x", 600)])]), state))
    assert state.timeout_ts == _deadline(600)
    # late turn, 9 minutes older: deadline unchanged
    list(fn(("conv",), iter([_batch([(1, "late", 60)])]), state))
    assert state.timeout_ts == _deadline(600)
    # newer turn: deadline advances
    list(fn(("conv",), iter([_batch([(2, "y", 720)])]), state))
    assert state.timeout_ts == _deadline(720)


def test_new_delivery_after_close_restarts_conversation():
    """After the close removes the state, a later delivery for the same
    key rebuilds the conversation from scratch (fresh rounds counter,
    fresh turns) and arms a fresh timeout."""
    fn = make_bucketed_preview_fn(budget=500, session_gap_ms=GAP_MS)
    state = FakeGroupState()
    list(fn(("conv",), iter([_batch([(0, "first session", 0)])]), state))
    final = _close(fn, state)
    assert len(final) == 1 and bool(final[0].iloc[0]["final"])
    assert not state.exists
    # same key delivers again, a day later: a NEW session
    out = list(fn(("conv",), iter([_batch([(0, "second session", 86400)])]),
                  state))
    assert len(out) == 1 and len(out[0]) == 1
    row = out[0].iloc[0]
    assert row["n_turns"] == 1 and "second session" in row["preview"]
    assert "first session" not in row["preview"]
    assert row["last_ts"] == (T0 + pd.Timedelta(days=1)).tz_localize("UTC")
    assert state.timeout_ts == _deadline(86400)



def test_null_conv_id_shares_a_bucket():
    """xxhash64(NULL) is the seed, so a NULL conv_id always lands in one
    fixed bucket, next to whatever conversations hash there. It is one
    conversation too: both are rendered, and both close."""
    fn = make_bucketed_preview_fn(budget=500, session_gap_ms=GAP_MS)
    state = FakeGroupState()
    pdf = pd.concat([_batch([(0, "named", 0)]),
                     _batch([(0, "nameless", 0), (1, "more", 0)])],
                    ignore_index=True)
    pdf["conv_id"] = ["a", None, None]
    out = pd.concat(list(fn((7,), iter([pdf]), state)))
    got = {cid: (n, p) for cid, n, p in
           zip(out["conv_id"], out["n_turns"], out["preview"])}
    assert set(got) == {"a", None}
    assert got["a"][0] == 1 and "named" in got["a"][1]
    assert got[None][0] == 2 and "nameless" in got[None][1]
    final = pd.concat(_close(fn, state))
    assert sorted(final["conv_id"], key=lambda c: c is not None) == [None,
                                                                      "a"]
    assert not state.exists


# -- Hypothesis gate: the stream equals the batch kernel after every batch

_TEXTS = [None, "", "short", "line one\r\nline two", "astral 𝔘𝔫𝔦 😀 end",
          "a longer turn text that the small budgets must truncate " * 2]


@st.composite
def _deliveries(draw):
    """Random rows of conversations `a` and `b` (gapped turn_idx,
    duplicate deliveries, equal ts, NULL role/text/tool, non-BMP text and
    CRLF) split into random micro-batches."""
    rows = draw(st.lists(st.tuples(
        st.sampled_from(["a", "b"]), st.integers(0, 15) | st.integers(0, 60),
        st.sampled_from([None, "user", "assistant"]),
        st.sampled_from(_TEXTS), st.sampled_from([None, "", "tool_1"]),
        st.integers(0, 6)), min_size=1, max_size=60))
    cuts = sorted(draw(st.lists(st.integers(1, len(rows)), max_size=4)))
    bounds = [0, *cuts, len(rows)]
    return [rows[a:b] for a, b in zip(bounds, bounds[1:]) if a < b]


def _frame(rows):
    return pd.DataFrame({
        "conv_id": [r[0] for r in rows],
        "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
        "role": [r[2] for r in rows], "text": [r[3] for r in rows],
        "tool": [r[4] for r in rows],
        "ts": pd.Series([T0 + pd.Timedelta(seconds=r[5]) for r in rows],
                        dtype="datetime64[ns]")})


def _pushdown_form(delivered, skew, budget):
    """The delivered rows as the pushdown plan ships them: one sentinel
    per conversation (turn_idx -1, `_total` = max + 1, `_chars` over
    every delivery) plus every delivery of a position the keep rule
    shows."""
    rule = KeepRule(skew, array_cap(budget))
    g = delivered.groupby("conv_id")
    total = g["turn_idx"].transform("max").astype("int64") + 1
    kept = delivered[rule.shown(delivered["turn_idx"].to_numpy(),
                                total.to_numpy())]
    sent = pd.DataFrame({
        "conv_id": list(g.groups), "turn_idx": -1, "role": None,
        "text": None, "tool": None, "ts": pd.NaT,
        "_total": (g["turn_idx"].max() + 1).to_numpy(),
        "_chars": g["text"].apply(
            lambda t: sum(len(x) for x in t if x is not None)).to_numpy()})
    sent["ts"] = sent["ts"].astype("datetime64[ns]")
    return pd.concat([sent, kept], ignore_index=True)


@pytest.mark.parametrize("skew", ["balanced", "head", "tail"])
@settings(derandomize=True, max_examples=60, deadline=None)
@given(batches=_deliveries(), budget=st.sampled_from([6, 12, 40, 200]))
def test_stream_equals_batch_kernel_after_every_batch(skew, batches,
                                                      budget):
    """After every micro-batch the stream's latest row per conversation
    equals the batch kernel on the rows delivered so far, fed every row
    (full plan) or the sentinel plus keep-set rows (pushdown plan), and
    the state holds exactly the delivered positions the keep rule shows,
    at most cap contents per conversation."""
    rule = KeepRule(skew, array_cap(budget))
    fn = make_bucketed_preview_fn(budget=budget, skew=skew,
                                  session_gap_ms=GAP_MS)
    state = FakeGroupState()
    latest, delivered = {}, []
    for rows in batches:
        delivered += rows
        for pdf in fn((0,), iter([_frame(rows)]), state):
            latest.update({c: (p, n) for c, p, n in zip(
                pdf["conv_id"], pdf["preview"], pdf["n_turns"])})
        seen = _frame(delivered)
        assert latest == _kernel(seen, skew, budget)
        assert latest == _kernel(_pushdown_form(seen, skew, budget), skew,
                                 budget)
        for cid, c in _bucket_decode(state.get[0]).items():
            mine = {r[1] for r in delivered if r[0] == cid}
            held = {int(k) for k in c["k"]}
            assert held == {i for i in mine if rule.shown(i, max(mine) + 1)}
            assert len(held) <= rule.cap
