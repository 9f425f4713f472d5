"""Batch conversation-preview operator (the engine's flagship query).

Spark plan (scale-first, one shuffle total):

    filter(counted_turns)                 -- the row contract: 0 <= turn_idx
                                          -- < KEPT_POSITIONS_MAX
    repartition(N, xxhash64(conv_id))     -- single hash shuffle with an
                                          -- explicit width (REPARTITION_BY_NUM:
                                          -- AQE neither coalesces nor splits it)
    sortWithinPartitions(conv_id,
                         turn_idx, ts)
    mapInPandas(kernel)                   -- Arrow batches; one Python call
                                          -- per ~10k rows, NOT per group

N is defaultParallelism, one kernel task per task slot: every
Python-UDF task pays a fixed start-up cost before its first row, so the
stage runs in one wave (PLANS.md §1b).

Compared to groupBy().applyInPandas this avoids one Python invocation per
conversation (millions of tiny groups at 100 TB) while computing the exact
same per-conversation result: rows of one conversation are contiguous after
the sort, and the mapInPandas generator carries the trailing partial
conversation across Arrow batch boundaries.

Every plan here (full, pushdown, and the statistic that chooses between
them) reads the rows `sampling.counted_turns` admits and no others, as the
stream and the window previews do: a row at a NULL, negative or
>= KEPT_POSITIONS_MAX turn_idx is neither shown nor counted in n_turns or
n_chars. Every plan numbers turns by position, as every other preview
path does: n_turns = max(turn_idx) + 1, a turn is shown iff
kernel.arena.KeepRule.shown(turn_idx, n_turns), and a position with no
row renders as omitted. This module decides only the plan and runs the
kernel: which rows the pushdown plan ships (the keep filter and one
totals sentinel per conversation) is `sampling.pushdown_rows`, the
selection `corpus_digest` collects too.

Inside the kernel:
- duplicate (conv_id, turn_idx) turns merge last-write-wins by ts (the
  north_rule stateful-join semantics, batch form)
- stable turn ordering by turn_idx before budget allocation
- each conversation renders via the headson kernel at `budget` bytes

Reference semantics: conversation = document {"turns":[{role,text,tool}..]}
(FIXTURES.md §2), preview per /root/reference/python/src/lib.rs:95-124.
"""

from __future__ import annotations

import logging
from typing import Iterator

import pandas as pd

from ..kernel.api import array_cap, make_configs, render_conversation
from ..kernel.arena import KeepRule
from .sampling import counted_turns, kept_position_filter, pushdown_rows

log = logging.getLogger("headson_spark.preview")

PREVIEW_SCHEMA = ("conv_id string, preview string, n_turns int, "
                  "n_chars bigint, preview_bytes int")


def make_preview_fn(budget: int = 500, style: str = "default",
                    skew: str = "balanced", fmt: str = "json"):
    """Build the mapInPandas kernel closure (pickled to executors), shared
    by the full and the pushdown plans.

    Rows arrive sorted by (conv_id, turn_idx, ts). A conversation's
    turn_idx is its position: n_turns is max(turn_idx) + 1, a turn is
    shown iff KeepRule.shown(turn_idx, n_turns), and a missing position
    renders as omitted. The pushdown plans add one sentinel row per
    conversation that sorts first (turn_idx = -1, which counted_turns
    admits for no data row); its `_total` / `_chars` carry the position
    count and the sum of text lengths over ALL delivered rows, and the
    other rows are only the keep-set. Without a sentinel the rows are
    the whole delivered conversation and n_turns is its last turn_idx
    + 1. Both forms take the shown rows through one mask per flush and
    render them through the same pre-sampled call.

    n_chars is the text length over the LWW-winning turns, NULL text
    counting 0 (as Spark's sum(length(text)) does). With a sentinel it is
    `_chars` minus the lengths of duplicate-loser deliveries. Losers on
    KEPT positions are visible here (the keep-set filter passes every
    delivery of a kept turn_idx) and are subtracted exactly; a duplicate
    delivery of a NON-kept turn is invisible post-filter, so its loser
    length stays counted — exact whenever duplicate deliveries land on
    keep-set positions (or nowhere) and an upper bound otherwise."""
    import numpy as np
    cfg, prio, budget = make_configs(format=fmt, style=style,
                                     character_budget=budget, skew=skew)
    rule = KeepRule(prio["sampler"], prio["array_max_items"])

    def flush(pdf: pd.DataFrame) -> pd.DataFrame:
        conv = pdf["conv_id"].to_numpy()
        tidx = pdf["turn_idx"].to_numpy()
        # vectorized last-write-wins: rows are ts-ascending within
        # (conv_id, turn_idx), so keep each run's last row
        keep = np.empty(len(conv), dtype=bool)
        keep[-1] = True
        keep[:-1] = (conv[:-1] != conv[1:]) | (tidx[:-1] != tidx[1:])
        loser_chars: dict = {}
        if not keep.all():
            for c, t in zip(conv[~keep], pdf["text"].to_numpy()[~keep]):
                if t is not None:
                    loser_chars[c] = loser_chars.get(c, 0) + len(t)
            pdf = pdf[keep]
            conv = conv[keep]
            tidx = tidx[keep]
        # conversation boundaries on the sorted conv_id column
        bounds = np.flatnonzero(conv[1:] != conv[:-1]) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(conv)]))
        total = tidx[ends - 1].astype(np.int64) + 1
        chars = np.add.reduceat(np.fromiter(
            (len(t) if isinstance(t, str) else 0 for t in pdf["text"]),
            dtype=np.int64, count=len(pdf)), starts)
        sent = tidx[starts] < 0
        if sent.any():
            at = starts[sent]
            total[sent] = pdf["_total"].to_numpy()[at]
            chars[sent] = np.nan_to_num(
                pdf["_chars"].to_numpy(np.float64)[at])
            for k in np.flatnonzero(sent):
                chars[k] -= loser_chars.get(conv[starts[k]], 0)
        rows = np.flatnonzero(
            (tidx >= 0) & rule.shown(tidx, np.repeat(total, ends - starts)))
        lo = np.searchsorted(rows, starts).tolist()
        hi = np.searchsorted(rows, ends).tolist()
        kept = tidx[rows].tolist()
        roles = pdf["role"].to_numpy()[rows].tolist()
        texts = pdf["text"].to_numpy()[rows].tolist()
        tools = pdf["tool"].to_numpy()[rows].tolist()
        previews = [render_conversation(roles[a:b], texts[a:b], tools[a:b],
                                        cfg, prio, budget, kept=kept[a:b],
                                        total=n)
                    for a, b, n in zip(lo, hi, total.tolist())]
        return pd.DataFrame({
            "conv_id": conv[starts], "preview": previews,
            "n_turns": total, "n_chars": chars,
            "preview_bytes": [len(p.encode("utf-8")) for p in previews]})

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # concat(carry, batch) preserves the (conv_id, turn_idx, ts) order
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            last = pdf["conv_id"].iloc[-1]
            # hold back the (possibly incomplete) trailing conversation:
            # the rows are sorted by conv_id, so it starts after the last
            # row of another conversation (an elementwise compare, since
            # a NULL conv_id does not order against strings in numpy)
            other = np.flatnonzero(pdf["conv_id"].to_numpy() != last)
            cut = int(other[-1]) + 1 if len(other) else 0
            carry = pdf.iloc[cut:]
            ready = pdf.iloc[:cut]
            if len(ready):
                yield flush(ready)
        if carry is not None and len(carry):
            yield flush(carry)

    return fn


def _kernel_step(rows, budget: int, style: str, skew: str, fmt: str):
    """The one exchange + sort + kernel step every plan ends in.

    The exchange hashes xxhash64(conv_id), not conv_id: Spark drops a
    repartition whose child is already hash-partitioned on the same key
    and width, and the tail plan's union (the totals join plus the
    sentinel aggregate) is exactly that when the width equals
    spark.sql.shuffle.partitions. AQE then re-plans the join as a
    broadcast with a local shuffle read, which splits a conversation's
    sentinel from its rows, and the kernel renders it twice."""
    from pyspark.sql import functions as F
    dist = (rows.repartition(_kernel_width(rows), F.xxhash64("conv_id"))
                .sortWithinPartitions("conv_id", "turn_idx", "ts"))
    return dist.mapInPandas(make_preview_fn(budget, style, skew, fmt),
                            schema=PREVIEW_SCHEMA)


def _kernel_width(df) -> int:
    """Kernel-stage task count: one task per task slot. Explicit, so AQE
    cannot coalesce the exchange toward ~64MB partitions (a few tasks for
    a CPU-bound Python stage whose bytes are small and work is not). One
    wave, not several, because each Python-UDF task pays a fixed set-up
    cost before its first row (PLANS.md §1b). Most of it was the worker's per-task
    `importlib.invalidate_caches()` re-reading the pyspark and py4j zip
    directories once per zipimporter, 16 times a task on CPython 3.11;
    `headson_spark._zipcache` now skips the re-read of an unchanged
    archive, which leaves about 0.1 s a task."""
    return df.sparkSession.sparkContext.defaultParallelism


def conversation_previews_pushdown(df, *, budget: int = 500,
                                   style: str = "default",
                                   skew: str = "balanced",
                                   fmt: str = "json"):
    """Shuffle-volume-optimized preview pipeline: the sampler keep-set is
    applied BEFORE the conv_id shuffle, so each conversation ships at most
    O(budget/2) turns instead of all of them — the Spark analogue of the
    reference's parse-time limit pushdown, at the shuffle boundary.

    The keep-sets are functions of the position turn_idx and the cap
    (KeepRule.shown), so the filter keeps exactly the rows the kernel
    would show. Balanced (mix64 keep-set) and head (prefix) filter the
    scan directly. Tail kept-ness depends on the conversation's position
    count, so tail joins the per-conversation totals back and keeps
    `turn_idx >= _total - cap`; the join strategy is left to AQE (no
    forced broadcast of a per-conversation table; the observed plans are
    in PLANS.md §1a).

    The rows are sampling.pushdown_rows: per-conversation totals
    (position count + char count) travel as one sentinel row per
    conversation through the same exchange as the kept rows. The
    rejected totals designs (a distinct count, a totals join) and their
    measurements are in PLANS.md §1a.
    """
    rows = pushdown_rows(counted_turns(df), skew, array_cap(budget))
    return _kernel_step(rows, budget, style, skew, fmt)


# auto-dispatch threshold: the pushdown plan pays a totals pre-scan (one
# map-side aggregate; balanced/head) or a totals join (tail), and wins by
# pruning the kernel exchange to O(cap) turns per conversation. Measured
# A/B (PLANS.md §1a): ~16-turn conversations leave nothing to
# prune and the pre-scan is pure overhead (+10-19%); 2000-turn
# conversations win 1.4x. Require at least this fraction of shuffled rows
# pruned before choosing the pushdown plan.
PUSHDOWN_MIN_PRUNE = 0.5

# decision memo keyed by (analyzed-plan semantic hash, cap, keep-shape):
# a resident pipeline re-previews the same table many times and the
# decision is a pure function of the input plan — don't re-pay the stats
# scan per call. Bounded (decisions are tiny); cleared via
# clear_plan_cache(). Caveat: files appended to a source dir between
# calls are invisible to the memo until it is cleared — acceptable for a
# dispatch heuristic (both plans are byte-equal).
_PLAN_DECISIONS: dict = {}


def clear_plan_cache() -> None:
    _PLAN_DECISIONS.clear()


class PlanChoice(str):
    """choose_preview_plan's answer, 'pushdown' or 'full', carrying the
    statistic that decided it: `kept_frac` (None for an empty input)
    and `memo` (True when the decision memo answered)."""

    def __new__(cls, plan: str, kept_frac: float | None,
                memo: bool = False):
        self = super().__new__(cls, plan)
        self.kept_frac = kept_frac
        self.memo = memo
        return self


def choose_preview_plan(df, *, budget: int = 500, skew: str = "balanced",
                        use_cache: bool = True) -> PlanChoice:
    """Pick 'pushdown' or 'full' from input statistics: the EXACT
    fraction of rows the keep-set filter would prune — the quantity the
    pushdown plan's benefit is proportional to. One map-side-combined
    avg() over a boolean of the single turn_idx column (column-pruned at
    the scan — far cheaper than the pipeline it steers); correctly
    row-weighted, so one mega-conversation is enough to tip the decision
    while a short-conversation bulk keeps the full plan. The average
    runs over the counted_turns rows, the rows either plan shuffles.
    For tail skew, `turn_idx < cap` counts exactly min(cap, len) rows
    per conversation — the same count the last-cap keep-set retains —
    so the statistic is exact for all three skews. Pushdown is chosen
    when more than PUSHDOWN_MIN_PRUNE of the rows would be pruned. At
    deployment scale this comes from a maintained table-stats aggregate
    rather than a per-query scan."""
    from pyspark.sql import functions as F
    cap = array_cap(budget)
    shape = "head" if skew.lower() in ("head", "tail") else "balanced"
    key = None
    if use_cache:
        try:
            key = (df._jdf.queryExecution().analyzed().semanticHash(),
                   cap, shape)
        except Exception:
            key = None
        if key is not None and key in _PLAN_DECISIONS:
            hit = _PLAN_DECISIONS[key]
            return PlanChoice(hit, hit.kept_frac, memo=True)
    keep = kept_position_filter(shape, cap)
    kept_frac = counted_turns(df).agg(
        F.avg(keep.cast("double"))).first()[0]
    if kept_frac is None:
        plan = PlanChoice("full", None)
    else:
        kept_frac = float(kept_frac)
        pruned = 1.0 - kept_frac
        plan = PlanChoice("pushdown" if pruned > PUSHDOWN_MIN_PRUNE
                          else "full", kept_frac)
    if key is not None:
        if len(_PLAN_DECISIONS) >= 1024:  # long-lived-service backstop
            _PLAN_DECISIONS.clear()
        _PLAN_DECISIONS[key] = plan
    return plan


def conversation_previews(df, *, budget: int = 500, style: str = "default",
                          skew: str = "balanced", fmt: str = "json",
                          pushdown: str = "auto"):
    """DataFrame[conv_id, turn_idx, role, text, tool, ts] ->
    DataFrame[conv_id, preview, n_turns, n_chars, preview_bytes].

    Default entry point. pushdown="auto" (default) chooses the plan from
    input statistics (choose_preview_plan): the limit-pushdown pipeline
    (sampler keep-set filtered BEFORE the conv_id shuffle — the
    reference's parse-time limit pushdown, headson
    src/samplers/default.rs:131-217, realized at the shuffle boundary)
    when conversations are long enough that pruning pays for its totals
    pre-scan, else the single-exchange full pipeline. At 100x scale the
    full pipeline ships every turn of every conversation through the
    exchange, the pushdown one ships O(budget/2) turns per conversation
    and structurally bounds the mapInPandas carry buffer.
    pushdown="pushdown" forces the pushdown plan (all skews; tail joins
    the totals back before filtering); pushdown="full" forces the
    full-shuffle pipeline.

    n_chars exactness caveat under auto dispatch: the pushdown plan's
    n_chars is an upper bound when a NON-kept position receives
    duplicate deliveries (see make_preview_fn); the full plan is always
    exact, and preview/n_turns never differ by plan: both number turns by
    position (make_preview_fn). Pin pushdown="full"
    where exact n_chars matters more than the pruned shuffle."""
    if pushdown == "auto":
        plan = choose_preview_plan(df, budget=budget, skew=skew)
        why = (f"kept_frac={plan.kept_frac}"
               + (" from the plan memo" if plan.memo else ""))
    elif pushdown in ("pushdown", "full"):
        plan = pushdown
        why = f"forced by pushdown={pushdown!r}"
    else:
        raise ValueError(
            f"pushdown must be 'auto', 'full' or 'pushdown', "
            f"got {pushdown!r}")
    log.info("conversation_previews: plan=%s (%s), kernel stage width=%d",
             plan, why, _kernel_width(df))
    build = (conversation_previews_pushdown if plan == "pushdown"
             else conversation_previews_full)
    return build(df, budget=budget, style=style, skew=skew, fmt=fmt)


def conversation_previews_full(df, *, budget: int = 500,
                               style: str = "default",
                               skew: str = "balanced", fmt: str = "json"):
    """Full-shuffle preview pipeline: one exchange carrying every turn,
    sampling inside the kernel. The plan conversation_previews picks when
    pruning would not pay for the pushdown plan's totals pre-scan."""
    return _kernel_step(counted_turns(df), budget, style, skew, fmt)
