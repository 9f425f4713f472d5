"""Spark-side turn selection: which rows every plan reads.

The reference applies its samplers during deserialization, a limit
pushdown into the parse (SURVEY.md §4). Every sampler keeps a set of
positions: head a prefix, balanced the fixed prefix-closed sequence
K(cap), tail the last cap positions of the conversation. So the keep
decision is a column filter on the position `turn_idx`, evaluated
BEFORE the conv_id shuffle, which cuts the shuffle to O(cap) turns per
conversation. Only tail needs the conversation's position count, which
it joins back.

`counted_turns` is the row contract of every preview path;
`kept_position_filter` and `kept_turns` are the keep rule
(kernel.arena.KeepRule.shown) in column form; `pushdown_rows` adds
each conversation's totals as one sentinel row. The pushdown preview
plan, `corpus_digest` and the registry's `head_cap`, `tail_cap` and
`default_sample` queries all select their turns here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..kernel.arena import KEPT_POSITIONS_MAX, default_sample_indices


def default_kept_positions(cap: int) -> list[int]:
    """The default sampler's kept-position sequence K(cap): for any stream
    of length L the kept set is {i in K(cap) : i < L} (prefix-closed), so
    one precomputed list serves every conversation."""
    return default_sample_indices(cap, KEPT_POSITIONS_MAX)


def counted_turns(df: DataFrame) -> DataFrame:
    """The row contract every preview path reads: the rows at
    0 <= turn_idx < KEPT_POSITIONS_MAX, the positions the keep rule can
    show. A NULL turn_idx fails the test too. Batch, stream and window
    previews and the digest apply it before anything else reads the
    rows, so n_turns (max(turn_idx) + 1 on every path), n_chars and the
    turns shown leave the same rows out on every path."""
    t = F.col("turn_idx")
    return df.filter((t >= 0) & (t < KEPT_POSITIONS_MAX))


def kept_position_filter(skew: str, cap: int):
    """The sampler keep-set as a column predicate on the position
    `turn_idx`: a prefix for head, K(cap) for balanced. None for tail,
    whose keep-set depends on the conversation's position count. The
    Spark form of kernel.arena.KeepRule.shown, evaluated before any
    shuffle."""
    skew = skew.lower()
    if skew == "tail":
        return None
    if skew == "head":
        return F.col("turn_idx") < cap
    if skew == "balanced":
        return F.col("turn_idx").isin(default_kept_positions(cap))
    raise ValueError(
        f"unknown skew: {skew} (expected 'balanced' | 'head' | 'tail')")


def kept_turns(df: DataFrame, totals: DataFrame, skew: str,
               cap: int) -> DataFrame:
    """The rows of `df` the skew's keep rule shows at `cap`, by position
    (KeepRule.shown): a column filter for balanced and head; for tail,
    a join with `totals` (conv_totals of df) and
    `turn_idx >= _total - cap`, the kept rows carrying both totals."""
    keep = kept_position_filter(skew, cap)
    if keep is not None:
        return df.filter(keep)
    # The join and the sentinels read one totals plan, so Spark
    # aggregates the input once and reuses that exchange: the null-safe
    # key infers no isnotnull(conv_id) filter into it, and the kept rows
    # keep both totals, so column pruning leaves it whole.
    tot = totals.withColumnRenamed("conv_id", "_tc")
    return (df.join(tot, df["conv_id"].eqNullSafe(tot["_tc"]))
              .filter(F.col("turn_idx") >= F.col("_total") - cap)
              .drop("_tc"))


def conv_totals(df: DataFrame) -> DataFrame:
    """Per-conversation totals: the position count max(turn_idx) + 1 (the
    n_turns of every preview path) and the char count over all delivered
    rows. Both aggregate map-side — one narrow row per conversation per
    task through the exchange."""
    return df.groupBy("conv_id").agg(
        (F.max("turn_idx") + 1).cast("int").alias("_total"),
        F.sum(F.length("text")).cast("bigint").alias("_chars"))


def pushdown_rows(df: DataFrame, skew: str, cap: int) -> DataFrame:
    """The kept rows of `df` (counted_turns rows) unioned with one
    sentinel row per conversation: turn_idx = -1, ts NULL and NULL
    content, carrying the conversation's conv_totals `_total` and
    `_chars`. No data row sits at a negative turn_idx, so the sentinel
    sorts first in its conversation. Kept rows carry NULL totals, or
    both totals under tail, whose keep filter joins them in."""
    totals = conv_totals(df)
    kept = kept_turns(df, totals, skew, cap)
    carried = ("_total", "_chars") if "_total" in kept.columns else (
        F.lit(None).cast("int").alias("_total"),
        F.lit(None).cast("bigint").alias("_chars"))
    kept = kept.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", *carried)
    return kept.unionByName(totals.select(
        "conv_id",
        F.lit(-1).cast("int").alias("turn_idx"),
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
        "_total", "_chars"))


def stratified_sample(df: DataFrame, fractions: dict[str, float],
                      default_frac: float = 0.0) -> DataFrame:
    """Deterministic per-stratum downsampling — the standard
    training-data mixture-rebalancing step (e.g. cap English at 10%,
    keep low-resource languages at 100%). The stratum is the `lang`
    column and the id the `doc_id` column.

    Keep decision: u(id) < fraction(stratum), with u(id) a uniform
    [0,1) value derived from md5(id) (first 15 hex nibbles = 60 bits).
    Fully deterministic and engine-independent (the same arithmetic runs
    in the DuckDB oracle), unlike DataFrame.sampleBy which is seeded RNG
    per partition. Pure column expressions, zero shuffle: at 100 TB this
    is a scan-side filter.
    """
    u = ("cast(conv(substring(md5(cast(doc_id as string)), 1, 15), "
         "16, 10) as bigint) / 1152921504606846976.0")  # / 2^60
    frac = "CASE"
    for k in sorted(fractions):
        frac += f" WHEN lang = '{k}' THEN cast({fractions[k]!r} as double)"
    frac += f" ELSE cast({default_frac!r} as double) END"
    return (df.withColumn("_u", F.expr(u))
              .filter(F.expr(f"_u < {frac}"))
              .drop("_u"))
