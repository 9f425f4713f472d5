"""Training-example assembly: token-window chunking.

chunk_text splits each document into fixed-size token windows with a
stride (overlap) — the standard context-window / RAG chunker. Pure
JVM-side column expressions (split / sequence / slice / array_join
inside whole-stage codegen): no Python in the hot path, no shuffle — a
per-row narrow transform that scales to any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# NOTE: Java \s+ (Spark) and RE2 \s+ (the DuckDB oracle) differ on
# exotic whitespace (U+000B, Unicode spaces). The driver fixtures are
# ASCII-space-only, so both engines tokenize identically there; pin an
# explicit class like [ \t\n\r\f]+ on BOTH sides before feeding text
# that may contain such characters (the oracle SQL text is frozen for
# this round, so the fixture guarantee is the operative contract).
WS_TOKEN_PATTERN = "\\s+"


def chunk_text(df: DataFrame, size: int = 64, stride: int | None = None
               ) -> DataFrame:
    """Token-window chunker: whitespace tokens, windows of `size` tokens
    every `stride` tokens (stride defaults to size = no overlap).

    Output: (doc_id, chunk_idx, start_tok, n_tokens, chunk) — one row
    per window, windows starting at 0, stride, 2*stride, ... up to the
    last start < n_tokens (empty/whitespace-only docs yield one empty
    chunk row, keeping every input doc represented).

    Plan (verified via explain): Scan -> Project (split/filter) ->
    Generate (posexplode of the start sequence) -> Project (slice +
    array_join). Narrow, ZERO Exchange; column pruning reaches the scan
    (ReadSchema carries only id+text). The Generate bounds codegen
    spans, but every expression stays JVM-side.
    """
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    stride = size if stride is None else stride
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    toks = F.filter(F.split(F.col("text"), WS_TOKEN_PATTERN),
                    lambda t: t != "")
    base = df.select(
        F.col("doc_id"),
        toks.alias("_toks"),
    ).withColumn("_n", F.size("_toks"))
    # window starts: 0..max(n-1, 0) step stride (n=0 -> single start 0)
    starts = F.sequence(F.lit(0),
                        F.greatest(F.col("_n") - 1, F.lit(0)),
                        F.lit(stride))
    return (base
            .select("doc_id", "_toks", "_n",
                    F.posexplode(starts).alias("chunk_idx", "start_tok"))
            .select(
                F.col("doc_id"),
                F.col("chunk_idx").cast("int"),
                F.col("start_tok").cast("int"),
                F.least(F.col("_n") - F.col("start_tok"),
                        F.lit(size)).cast("int").alias("n_tokens"),
                F.array_join(
                    F.slice("_toks", F.col("start_tok") + 1, size),
                    " ").alias("chunk")))
