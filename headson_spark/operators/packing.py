"""Training-example assembly: token-window chunking and sequence packing.

Two operators a large-scale training-data pipeline needs between
"documents" and "model batches":

- chunk_text: split each document into fixed-size token windows with a
  stride (overlap) — the standard context-window / RAG chunker. Pure
  JVM-side column expressions (split / sequence / slice / array_join
  inside whole-stage codegen): no Python in the hot path, no shuffle —
  a per-row narrow transform that scales to any corpus size.

- pack_sequences: greedy-fill documents into fixed-capacity training
  sequences (minimize padding). Exact global first-fit is inherently
  sequential, so the scale design is the standard partition-local
  packing: documents are bucketed (doc_id // bucket_width), each bucket
  packs independently in doc_id order (deterministic), one shuffle on
  the bucket key. At 100 TB each bucket holds thousands of docs, so the
  padding overhead vs a global pack is negligible while the parallelism
  is unbounded. Oversized documents (tok_count > capacity) become
  singleton packs (flagged) rather than being silently dropped.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

# NOTE: Java \s+ (Spark) and RE2 \s+ (the DuckDB oracle) differ on
# exotic whitespace (U+000B, Unicode spaces). The driver fixtures are
# ASCII-space-only, so both engines tokenize identically there; pin an
# explicit class like [ \t\n\r\f]+ on BOTH sides before feeding text
# that may contain such characters (the oracle SQL text is frozen for
# this round, so the fixture guarantee is the operative contract).
WS_TOKEN_PATTERN = "\\s+"


def chunk_text(df: DataFrame, size: int = 64, stride: int | None = None,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
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
    toks = F.filter(F.split(F.col(text_col), WS_TOKEN_PATTERN),
                    lambda t: t != "")
    base = df.select(
        F.col(id_col),
        toks.alias("_toks"),
    ).withColumn("_n", F.size("_toks"))
    # window starts: 0..max(n-1, 0) step stride (n=0 -> single start 0)
    starts = F.sequence(F.lit(0),
                        F.greatest(F.col("_n") - 1, F.lit(0)),
                        F.lit(stride))
    return (base
            .select(id_col, "_toks", "_n",
                    F.posexplode(starts).alias("chunk_idx", "start_tok"))
            .select(
                F.col(id_col),
                F.col("chunk_idx").cast("int"),
                F.col("start_tok").cast("int"),
                F.least(F.col("_n") - F.col("start_tok"),
                        F.lit(size)).cast("int").alias("n_tokens"),
                F.array_join(
                    F.slice("_toks", F.col("start_tok") + 1, size),
                    " ").alias("chunk")))


PACK_SCHEMA = ("bucket bigint, pack_id bigint, doc_id bigint, "
               "tok_count int, pack_pos int, pack_total int, "
               "oversize boolean")


def _pack_bucket(pdf: pd.DataFrame, capacity: int, id_col: str,
                 tok_col: str) -> pd.DataFrame:
    """Next-fit packing of one bucket's rows (see pack_sequences)."""
    if len(pdf) > (1 << 20):
        raise ValueError(
            f"bucket holds {len(pdf)} rows > 2^20; pack_id ordinals "
            f"would overflow into the next bucket (duplicate doc_ids?)")
    pdf = (pdf.sort_values([id_col, tok_col], kind="stable")
              .reset_index(drop=True))
    ids = pdf[id_col].to_numpy()
    toks = pdf[tok_col].to_numpy()
    bucket = int(pdf["_bucket"].iloc[0]) if len(ids) else 0
    pack_local = []
    pos = []
    fill = 0
    cur = 0
    p = 0
    for t in toks:
        t = int(t)
        if fill > 0 and fill + t > capacity:
            p += 1
            fill = 0
            cur = 0
        pack_local.append(p)
        pos.append(cur)
        fill += t
        cur += 1
        if fill >= capacity:  # full (or oversize singleton): close
            p += 1
            fill = 0
            cur = 0
    out = pd.DataFrame({
        "bucket": bucket,
        "pack_id": [bucket * (1 << 20) + pl for pl in pack_local],
        "doc_id": ids,
        "tok_count": toks,
        "pack_pos": pos,
    })
    totals = out.groupby("pack_id")["tok_count"].transform("sum")
    out["pack_total"] = totals
    out["oversize"] = out["tok_count"] > capacity
    return out


def pack_sequences(df: DataFrame, capacity: int = 2048,
                   bucket_width: int = 4096,
                   id_col: str = "doc_id",
                   tok_col: str = "tok_count") -> DataFrame:
    """Greedy next-fit packing of documents into training sequences.

    Within each bucket (doc_id // bucket_width), documents are scanned
    in ascending doc_id order and appended to the current pack until the
    next document would overflow `capacity`, which starts a new pack —
    deterministic for a given bucket_width, independent of partitioning.
    Output: one row per document with its (bucket, pack_id) assignment,
    position in the pack, the pack's total tokens, and an `oversize`
    flag for documents larger than the capacity (singleton packs; the
    caller decides whether to split or drop them).

    Pack ids are globally unique: bucket * 2^20 + local pack ordinal
    (a bucket of width w holds at most w packs when doc_ids are unique,
    so 2^20 >= any sane bucket_width). Duplicate doc_ids are tolerated:
    ties sort by (doc_id, tok_count) so the scan order stays independent
    of partitioning, and a bucket whose row count exceeds 2^20 (only
    possible with massive id duplication) raises rather than silently
    bleeding pack ordinals into the next bucket's id space.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    if bucket_width < 1 or bucket_width > (1 << 20):
        raise ValueError(
            f"bucket_width must be in [1, 2^20], got {bucket_width}")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        return _pack_bucket(pdf, capacity, id_col, tok_col)

    return (df.select(F.col(id_col), F.col(tok_col))
              .withColumn("_bucket",
                          F.expr(f"CAST({id_col} DIV {bucket_width} "
                                 f"AS BIGINT)"))
              .groupBy("_bucket")
              .applyInPandas(pack, schema=PACK_SCHEMA))
