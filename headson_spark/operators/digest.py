"""Corpus digest: ONE budgeted preview across many conversations — the
reference's multi-input fileset (`headson_many`, -N global budget) lifted
to cluster scale.

Two-stage plan (the "global budget across conversations = second-level
group" mapping from SURVEY §2.1 S7):

  1. distributed: per-conversation turn-cap reduction (the same
     budget-derived sampler pushdown as the preview pipeline) shrinks
     each conversation to O(per_conv_budget) turns
  2. driver-side final assembly: the surviving sample (bounded by
     max_conversations x cap rows — small by construction) feeds the
     kernel's fileset renderer, which allocates the global budget across
     conversations with `==> conv <==` section headers

Stage 2 is deliberately driver-side: after stage 1 the data is O(budget),
not O(input) — collecting it is the correct plan at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..kernel.api import array_cap, summarize_many
from .sampling import head_cap


def corpus_digest(df: DataFrame, *, global_budget: int = 4000,
                  per_conv_budget: int | None = None,
                  max_conversations: int = 64,
                  style: str = "default", skew: str = "balanced") -> str:
    """DataFrame[transcript schema] -> one budgeted digest string."""
    n_conv = df.select("conv_id").distinct().limit(
        max_conversations + 1).count()
    take = min(n_conv, max_conversations)
    if take == 0:
        return ""
    per_conv = per_conv_budget or max(global_budget // max(take, 1), 1)
    conv_ids = [r["conv_id"] for r in
                df.select("conv_id").distinct().orderBy("conv_id")
                  .limit(take).collect()]
    cap = array_cap(per_conv)
    reduced = head_cap(df.where(F.col("conv_id").isin(conv_ids)), cap)
    rows = (reduced.select("conv_id", "turn_idx", "role", "text", "tool")
            .orderBy("conv_id", "turn_idx").collect())
    by_conv: dict[str, list] = {}
    for r in rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    inputs = []
    for cid in conv_ids:
        turns = [{"role": r["role"], "text": r["text"], "tool": r["tool"]}
                 for r in by_conv.get(cid, [])]
        inputs.append((cid, {"turns": turns}))
    return summarize_many(inputs, format="json", style=style, skew=skew,
                          character_budget=global_budget)
