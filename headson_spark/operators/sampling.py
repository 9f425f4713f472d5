"""Sampler pushdown — the Spark analogue of the reference's
"limit pushdown into the parse" (samplers applied during deserialization,
SURVEY.md §4). Because all three samplers keep a set of ORIGINAL indices
that is a deterministic function of the cap alone (head: prefix; tail:
suffix; default: fixed 3-phase prefix-closed sequence), the keep-decision
can be evaluated as a vectorized column filter BEFORE the conv_id shuffle,
cutting shuffle volume to O(cap) turns per conversation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..kernel.arena import KEPT_POSITIONS_MAX, default_sample_indices


def default_kept_positions(cap: int,
                           max_len: int = KEPT_POSITIONS_MAX) -> list[int]:
    """The default sampler's kept-position sequence K(cap): for any stream
    of length L the kept set is {i in K(cap) : i < L} (prefix-closed), so
    one precomputed list serves every conversation."""
    return default_sample_indices(cap, max_len)


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


def with_turn_ordinal(df: DataFrame) -> DataFrame:
    """Dense 0-based position per conversation in stable turn order
    (dedupes (conv_id, turn_idx) last-write-wins by ts first).

    Single-sort plan: one window sorted (conv_id, turn_idx, ts DESC)
    serves BOTH steps — the LWW winner is the first row of each turn_idx
    run (lag(turn_idx) != turn_idx), and after the winners-only filter
    the ordinal window's required ordering (conv_id, turn_idx) is a
    prefix of the ordering the data already has, so EnsureRequirements
    elides its sort. Net: one exchange + one sort for dedup+ordinal
    (previously two window sorts — the round-3 default_sample
    regression)."""
    w_full = Window.partitionBy("conv_id").orderBy("turn_idx",
                                                   F.desc("ts"))
    w_ord = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (df.withColumn("_prev_idx", F.lag("turn_idx").over(w_full))
              .filter(F.col("_prev_idx").isNull()
                      | (F.col("_prev_idx") != F.col("turn_idx")))
              .drop("_prev_idx")
              .withColumn("turn_ord",
                          (F.row_number().over(w_ord) - 1).cast("int")))


def head_cap(df: DataFrame, cap: int) -> DataFrame:
    """Head sampler as a window filter (samplers/head.rs:33-79)."""
    return with_turn_ordinal(df).filter(F.col("turn_ord") < cap)


def tail_cap(df: DataFrame, cap: int) -> DataFrame:
    """Tail sampler (samplers/tail.rs:5-80): last `cap` turns.

    Uses an unordered count window over the same conv_id partitioning
    (turn_ord >= n - cap) instead of a descending row_number — no third
    sort; the data is already clustered by conv_id from
    with_turn_ordinal's single window sort."""
    w_all = Window.partitionBy("conv_id")
    base = with_turn_ordinal(df)
    return (base.withColumn("_n", F.count("*").over(w_all))
                .filter(F.col("turn_ord") >= F.col("_n") - cap)
                .drop("_n"))


def default_cap(df: DataFrame, cap: int) -> DataFrame:
    """Default 3-phase sampler as a broadcast IN-set filter — bit-exact
    with the kernel's mix64 acceptance (samplers/default.rs:131-217)."""
    return (with_turn_ordinal(df)
            .filter(F.col("turn_ord").isin(default_kept_positions(cap))))


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
