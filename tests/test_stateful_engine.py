"""The streaming engine's stateful function (make_bucketed_preview_fn),
driven without Spark through a fake GroupState with key = conv_id: the
same function streaming_previews(n_buckets=None) runs per conversation.
Every emitted preview is checked against kernel.summarize_value on the
turns merged so far (last-write-wins by ts per turn_idx), including
late-turn overwrites, stale duplicates, out-of-order backfill, the
session close and state removal.
"""

from __future__ import annotations

import pandas as pd
import pytest

from headson_spark.kernel import summarize_value
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


def _assert_matches_kernel(out, batches, skew="balanced"):
    """Every emission equals the kernel on the LWW merge (in arrival
    order; a later delivery wins a ts tie) of the batches seen so far."""
    for seen, row in out:
        turns = {}
        for b in batches[:seen]:
            for t, role, text, ts in zip(b["turn_idx"], b["role"],
                                         b["text"], b["ts"]):
                if t not in turns or ts >= turns[t][2]:
                    turns[t] = (role, text, ts)
        doc = {"turns": [{"role": turns[t][0], "text": turns[t][1],
                          "tool": ""} for t in sorted(turns)]}
        assert row["preview"] == summarize_value(
            doc, format="json", character_budget=500, skew=skew)
        assert row["n_turns"] == len(turns)


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
    """A gap turn arriving after its successors shifts ranks in the
    bounded state; every emission still equals the kernel on the turns
    delivered so far."""
    batches = [_batch([(0, "first", 0), (2, "third", 2), (4, "fifth", 4)]),
               _batch([(1, "second (late)", 1), (3, "fourth (late)", 3)])]
    out, _ = run(batches)
    assert out[-1][1]["n_turns"] == 5
    _assert_matches_kernel(out, batches)


@pytest.mark.parametrize("skew", ["balanced", "head", "tail"])
def test_long_conversation_bounded_vs_full_state(skew):
    """600 turns at budget 500: balanced/head hold bounded state (keep-set
    contents + seen-bitmap), tail holds the full turn map; previews equal
    the kernel either way."""
    turns = [(i, f"turn {i} says something number {i * 7}", i)
             for i in range(600)]
    batches = [_batch(turns[:250]), _batch(turns[250:])]
    out, state = run(batches, skew=skew, expire=False)
    _assert_matches_kernel(out, batches, skew=skew)
    held = len(_bucket_decode(state.get[0])["conv"]["k"])
    assert held == 600 if skew == "tail" else held <= 250


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
    """on_change / on_close / every_k: identical final render, the
    documented intermediate-emission counts (3 changed rounds; every_k
    with k=2 emits on round 2 only)."""
    batches = [_batch([(0, "a", 0)]), _batch([(1, "b", 1)]),
               _batch([(2, "c", 2)])]
    finals = {}
    for policy, expect_inter in (("on_change", 3), ("on_close", 0),
                                 ("every_k", 1)):
        out, _ = run(batches, emit_policy=policy, emit_every=2)
        assert _finals(out).count(False) == expect_inter, policy
        assert _finals(out)[-1]
        finals[policy] = out[-1][1]["preview"]
        _assert_matches_kernel(out, batches)
    assert len(set(finals.values())) == 1


def test_rejects_unknown_policy():
    with pytest.raises(ValueError):
        make_bucketed_preview_fn(emit_policy="sometimes")


def test_no_emission_on_unchanged_batch():
    """A batch that changes nothing (pure stale replay) must not emit."""
    out, _ = run([_batch([(0, "x", 300)]), _batch([(0, "ignored", 0)])],
                 expire=False)
    assert [seen for seen, _ in out] == [1]


def test_every_k_cadence_skips_unchanged_rounds():
    """every_k counts CHANGED merge rounds only: a stale-replay round
    (LWW loser) must not advance the cadence. Changed rounds here are
    1,2,3,4 with a stale round between 2 and 3; emit_every=2 =>
    intermediates on changed rounds 2 and 4 exactly."""
    batches = [_batch([(0, "a", 300)]), _batch([(1, "b", 301)]),
               _batch([(0, "stale", 0)]), _batch([(2, "c", 302)]),
               _batch([(3, "d", 303)])]
    out, _ = run(batches, emit_policy="every_k", emit_every=2,
                 expire=False)
    assert [r["n_turns"] for _, r in out] == [2, 4]
    _assert_matches_kernel(out, batches)


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

