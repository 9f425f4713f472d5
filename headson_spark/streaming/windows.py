"""Declarative windowed rolling previews (tumbling / sliding variants).

Where the session-window previews live inside applyInPandasWithState
(engine.py), the rolling variants are pure declarative streaming
aggregations: row filter -> watermark -> window() groupBy -> collect
turns -> one Arrow-vectorized render UDF over the aggregated struct
array. Works in append mode (window closes at watermark), so any sink
supports it.

Bounded-state design (the batch pipeline's limit pushdown, rolling
form): the sampler keep-set predicate is evaluated BELOW the window
aggregation — `collect_list(CASE WHEN keep THEN struct END)` buffers
only keep-set turns (collect_list skips NULL inputs during the partial,
map-side aggregation), so a mega-conversation delivering 50k turns into
one window holds O(cap) structs in the aggregation buffer instead of
50k. The position count, max(turn_idx) + 1, aggregates over every
admitted row in the same groupBy (a keep-set Filter below the agg would
lose it), and is the window's `n_turns`: as on every preview path, a
turn's number is its position, so a re-delivered turn counts once.

Row contract (the batch plans' and the session engine's): only the rows
`operators.sampling.counted_turns` admits, 0 <= turn_idx <
KEPT_POSITIONS_MAX, enter the window aggregate, so a NULL, negative or
out-of-range turn_idx is neither rendered nor counted in n_turns.

Turn numbering (every preview path's, operators/preview.py): turn_idx
is the 0-based CONVERSATION position, a turn is shown iff
kernel.arena.KeepRule.shown(turn_idx, n_turns), and a position no row
delivered renders as omitted — the same turns of a conversation are
kept in every window they land in. A window holding all of a
conversation's rows (the common tumbling case) renders exactly the
batch preview; for a window that starts mid-conversation, n_turns and
the omission counts run over the conversation positions up to the
window's max delivered turn, i.e. the preview reads "conversation so
far, this window's kept turns".
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernel.api import array_cap, make_configs, render_conversation


def merged_turns(arr) -> tuple[list[int], list, list, list]:
    """Turn structs -> (turn_idxs, roles, texts, tools), last-write-wins
    by ts per turn_idx (a NULL ts first, as Spark sorts it), ascending
    turn_idx."""
    items = sorted((r for r in (arr if arr is not None else [])
                    if r is not None),
                   key=lambda r: (r["turn_idx"], r["ts"] is not None,
                                  r["ts"]))
    merged: dict[int, tuple] = {}
    for r in items:
        merged[r["turn_idx"]] = (r["role"], r["text"], r["tool"])
    idxs = sorted(merged)
    return (idxs, [merged[i][0] for i in idxs], [merged[i][1] for i in idxs],
            [merged[i][2] for i in idxs])


def make_presampled_render_udf(budget: int = 500, style: str = "default",
                               skew: str = "balanced", fmt: str = "json"):
    """Render UDF for pushed-down windowed input: `turns` holds only the
    keep-set structs; `total` is the conversation position count the
    omission accounting runs against (max delivered turn_idx + 1). Uses
    the kernel's pre-sampled arena path, so the render is byte-identical
    to sampling the full list whenever the kept positions are exactly
    the sampler's keep-set over [0, total)."""
    cfg, prio, budget_ = make_configs(format=fmt, style=style,
                                      character_budget=budget, skew=skew)

    @pandas_udf("string")
    def render_kept(turns: pd.Series, total: pd.Series) -> pd.Series:
        out = []
        for arr, tot in zip(turns, total):
            idxs, roles, texts, tools = merged_turns(arr)
            out.append(render_conversation(
                roles, texts, tools, cfg, prio, budget_, kept=idxs,
                total=int(tot)))
        return pd.Series(out)

    return render_kept


def rolling_previews(stream_df, *, window: str = "5 minutes",
                     slide: str | None = None,
                     watermark: str = "10 minutes", budget: int = 500,
                     style: str = "default", skew: str = "balanced"):
    """Tumbling (slide=None) or sliding rolling previews per conversation
    per event-time window, with the sampler keep-set pushed below the
    window aggregation (bounded state; see module docstring).

    skew="balanced" (default 3-phase sampler) and "head" support the
    pushdown; "tail" kept-ness depends on the conversation length, which
    a single declarative streaming aggregation cannot know pre-agg — use
    the stateful session engine (streaming/engine.py) for tail skew.

    Mid-conversation window caveat: kept-ness is a function of ABSOLUTE
    turn position, so a window that only delivers turns past the keep-
    set range (routine for sliding windows that open mid-conversation)
    renders a (near-)empty preview while its n_turns, the conversation's
    position count so far, stays > 0 — by
    design, the preview shows the sampler's keep-set, nothing else.
    Where whole-conversation previews per window matter, use the
    stateful session engine instead.
    """
    from ..operators.sampling import counted_turns, kept_position_filter

    cap = array_cap(budget)
    keep = kept_position_filter(skew, cap)
    if keep is None:
        raise ValueError(
            f"rolling_previews supports skew='balanced'|'head', got "
            f"{skew!r}; tail kept-ness needs the conversation length — "
            f"use the stateful session engine for tail skew")
    win = (F.window("ts", window, slide) if slide
           else F.window("ts", window))
    render = make_presampled_render_udf(budget=budget, style=style,
                                        skew=skew)
    turn_struct = F.struct("turn_idx", "role", "text", "tool", "ts")
    return (counted_turns(stream_df)
            .withWatermark("ts", watermark)
            .groupBy(F.col("conv_id"), win.alias("win"))
            .agg(
                # keep-set evaluated map-side, below the exchange: only
                # kept turns enter the aggregation buffer
                F.collect_list(F.when(keep, turn_struct)).alias("turns"),
                (F.max("turn_idx") + 1).cast("int").alias("_total"))
            .select("conv_id",
                    F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    F.col("_total").alias("n_turns"),
                    render(F.col("turns"), F.col("_total"))
                    .alias("preview")))
