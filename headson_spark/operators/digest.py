"""Corpus digest: ONE budgeted preview across many conversations — the
reference's multi-input fileset (`headson_many`, -N global budget) lifted
to cluster scale.

Two-stage plan (the "global budget across conversations = second-level
group" mapping from SURVEY §2.1 S7):

  1. distributed: each conversation is reduced to the turns the skew's
     keep rule shows at the per-conversation cap the fileset renderer
     uses, by position, plus one sentinel row carrying its position
     count max(turn_idx) + 1: the pushdown preview plan's own rows
     (sampling.pushdown_rows), collected in one job
  2. driver-side final assembly: the surviving sample (bounded by
     MAX_CONVERSATIONS x (cap + 1) rows — small by construction) is merged
     last-write-wins and rendered as pre-sampled conversation arenas by
     the kernel's fileset renderer, which allocates the global budget
     across conversations with `==> conv <==` section headers

Stage 2 is deliberately driver-side: after stage 1 the data is O(budget),
not O(input) — collecting it is the correct plan at any scale. The
result equals summarize_many over the merged full conversations when
every conversation's turn_idx is dense; a missing position renders as
omitted, as in every other preview path.

The digest reads the rows sampling.counted_turns admits, as every other
preview path does. A NULL conv_id is one conversation, as in the preview
engine: it sorts first when the conversations are picked, and its
section is `null`, rendered first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..kernel.api import array_cap, summarize_many
from ..kernel.arena import build_conversation_arena
from ..streaming.windows import merged_turns
from .sampling import counted_turns, pushdown_rows

# conversations in one digest: the first ones by conv_id
MAX_CONVERSATIONS = 8


def corpus_digest(df: DataFrame, *, character_budget: int = 4000,
                  style: str = "default", skew: str = "balanced") -> str:
    """DataFrame[transcript schema] -> one budgeted digest string."""
    df = counted_turns(df)
    conv_ids = [r["conv_id"] for r in
                df.select("conv_id").distinct().orderBy("conv_id")
                  .limit(MAX_CONVERSATIONS).collect()]
    if not conv_ids:
        return ""
    # summarize_many's per-input cap for len(conv_ids) inputs
    cap = array_cap(character_budget // len(conv_ids))
    # null-safe: isin never matches the NULL conversation
    match = F.col("conv_id").isin([c for c in conv_ids if c is not None])
    if None in conv_ids:
        match = match | F.col("conv_id").isNull()
    by_conv: dict = {}
    n_turns: dict = {}
    for r in pushdown_rows(df.where(match), skew, cap).collect():
        if r["turn_idx"] < 0:  # the conversation's sentinel
            n_turns[r["conv_id"]] = r["_total"]
        else:
            by_conv.setdefault(r["conv_id"], []).append(r)
    inputs = []
    for cid in conv_ids:
        idxs, roles, texts, tools = merged_turns(by_conv.get(cid))
        inputs.append((cid, build_conversation_arena(
            roles, texts, tools, cap, pre_sampled_indices=idxs,
            pre_sampled_total=n_turns[cid])))
    return summarize_many(inputs, format="json", style=style, skew=skew,
                          character_budget=character_budget)
