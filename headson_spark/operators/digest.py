"""Corpus digest: ONE budgeted preview across many conversations — the
reference's multi-input fileset (`headson_many`, -N global budget) lifted
to cluster scale.

Two-stage plan (the "global budget across conversations = second-level
group" mapping from SURVEY §2.1 S7):

  1. distributed: each conversation is reduced to its sampler keep-set
     by the skew's window sampler (operators/sampling.py) at the
     per-conversation cap the fileset renderer uses, plus its
     distinct-turn total
  2. driver-side final assembly: the surviving sample (bounded by
     max_conversations x cap rows — small by construction) is rendered
     as pre-sampled conversation arenas by the kernel's fileset
     renderer, which allocates the global budget across conversations
     with `==> conv <==` section headers

Stage 2 is deliberately driver-side: after stage 1 the data is O(budget),
not O(input) — collecting it is the correct plan at any scale. The
result equals summarize_many over the merged full conversations.

The digest reads the rows sampling.counted_turns admits, as every other
preview path does. A NULL conv_id is one conversation, as in the preview
engine: it sorts first when the conversations are picked, and its
section is `null`, rendered first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..kernel.api import array_cap, summarize_many
from ..kernel.arena import build_conversation_arena
from .sampling import counted_turns, default_cap, head_cap, tail_cap

_REDUCERS = {"balanced": default_cap, "head": head_cap, "tail": tail_cap}

# conversations in one digest: the first ones by conv_id
MAX_CONVERSATIONS = 8


def corpus_digest(df: DataFrame, *, character_budget: int = 4000,
                  style: str = "default", skew: str = "balanced") -> str:
    """DataFrame[transcript schema] -> one budgeted digest string."""
    reduce = _REDUCERS.get(skew.lower())
    if reduce is None:
        raise ValueError(
            f"unknown skew: {skew} (expected 'balanced' | 'head' | 'tail')")
    df = counted_turns(df)
    n_conv = df.select("conv_id").distinct().limit(
        MAX_CONVERSATIONS + 1).count()
    take = min(n_conv, MAX_CONVERSATIONS)
    if take == 0:
        return ""
    conv_ids = [r["conv_id"] for r in
                df.select("conv_id").distinct().orderBy("conv_id")
                  .limit(take).collect()]
    # summarize_many's per-input cap for `take` inputs
    cap = array_cap(character_budget // take)
    # null-safe: isin never matches the NULL conversation
    match = F.col("conv_id").isin([c for c in conv_ids if c is not None])
    if None in conv_ids:
        match = match | F.col("conv_id").isNull()
    picked = df.where(match)
    totals = dict(picked.groupBy("conv_id")
                  .agg(F.countDistinct("turn_idx")).collect())
    rows = (reduce(picked, cap)
            .select("conv_id", "turn_ord", "role", "text", "tool")
            .orderBy("conv_id", "turn_ord").collect())
    by_conv: dict[str, list] = {}
    for r in rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    inputs = []
    for cid in conv_ids:
        kept = by_conv.get(cid, [])
        inputs.append((cid, build_conversation_arena(
            [r["role"] for r in kept], [r["text"] for r in kept],
            [r["tool"] for r in kept], cap,
            pre_sampled_indices=[r["turn_ord"] for r in kept],
            pre_sampled_total=totals.get(cid, 0))))
    return summarize_many(inputs, format="json", style=style, skew=skew,
                          character_budget=character_budget)
