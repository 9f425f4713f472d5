"""streaming_dedup_exact: ingestion-time exact dedup with bounded state
(dropDuplicatesWithinWatermark composition)."""

from __future__ import annotations

import os

import pandas as pd
from conftest import write_stream_file

from headson_spark.streaming.dedup import streaming_dedup_exact

SCHEMA = "doc_id long, text string, ts timestamp"


def _docs(ids, texts, ts):
    return pd.DataFrame({
        "doc_id": pd.array(ids, dtype="int64"),
        "text": texts,
        "ts": pd.Series(ts, dtype="datetime64[us]")})


def test_streaming_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    t0 = pd.Timestamp("2026-01-01")
    src = tmp_path / "dd_src"
    os.makedirs(src, exist_ok=True)
    # chunk 0: three distinct docs (one with messy formatting)
    c0 = _docs([1, 2, 3],
               ["hello world", "Hello,   WORLD!!", "something else"],
               [t0, t0, t0])
    # chunk 1: a later exact duplicate of doc 3 + one new doc
    c1 = _docs([4, 5],
               ["Something ELSE?", "genuinely new"],
               [t0 + pd.Timedelta(minutes=1)] * 2)
    for i, c in enumerate((c0, c1)):
        write_stream_file(src / f"c{i}.parquet", c)

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = streaming_dedup_exact(stream, watermark="1 hour",
                                keep_hash=True)
    q = (out.writeStream.format("memory").queryName("dd")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows = spark.sql("select * from dd").collect()
    by_hash = {}
    for r in rows:
        by_hash.setdefault(r["content_hash"], []).append(r["doc_id"])
    # normalized "hello world" == "Hello,   WORLD!!" -> one survivor;
    # doc 4 normalizes to doc 3's content -> dropped (cross-batch);
    # doc 5 survives
    assert all(len(v) == 1 for v in by_hash.values()), by_hash
    ids = {r["doc_id"] for r in rows}
    assert 3 in ids and 5 in ids and 4 not in ids
    assert len(ids & {1, 2}) == 1  # same-batch dup: exactly one survives
    assert len(rows) == 3


def test_streaming_dedup_matches_batch_distinct(spark, tmp_path):
    """Survivor hash set == batch DISTINCT on the same data (the
    correctness envelope that doesn't depend on arrival order)."""
    from pyspark.sql import functions as F
    from headson_spark.operators.dedup import normalized

    t0 = pd.Timestamp("2026-02-01")
    src = tmp_path / "dd2_src"
    os.makedirs(src, exist_ok=True)
    texts = [f"doc number {i % 7}" for i in range(40)]  # 7 distinct
    c = _docs(list(range(40)), texts, [t0] * 40)
    write_stream_file(src / "all.parquet", c)
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    out = streaming_dedup_exact(stream, keep_hash=True)
    q = (out.writeStream.format("memory").queryName("dd2")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {r["content_hash"]
           for r in spark.sql("select * from dd2").collect()}
    exp = {r["h"] for r in spark.read.parquet(str(src))
           .select(F.md5(normalized("text")).alias("h"))
           .distinct().collect()}
    assert got == exp and len(got) == 7


def test_streaming_dedup_horizon_expiry_readmits(spark, tmp_path):
    """The bounded-state trade-off: a duplicate arriving AFTER the
    watermark passes the first arrival's ts + horizon is treated as new
    (its state row was expired). This is the documented memory/recall
    knob, asserted so the semantics stay visible."""
    t0 = pd.Timestamp("2026-03-01")
    src = tmp_path / "dd3_src"
    os.makedirs(src, exist_ok=True)
    # chunk 0: the original
    c0 = _docs([1], ["expire me"], [t0])
    # chunk 1: watermark pusher (advances wm past t0 + horizon)
    c1 = _docs([2], ["unrelated"], [t0 + pd.Timedelta(hours=5)])
    # chunk 2: duplicate of doc 1, long after the 1-hour horizon.
    # NOTE eviction timing: Spark evicts expired dedup state at the END
    # of a micro-batch, after that batch's rows were deduped — so the
    # FIRST post-horizon duplicate (doc 3, processed in the same batch
    # that evicts doc 1's row) is still dropped, and re-admission starts
    # one batch later (doc 4).
    c2 = _docs([3], ["Expire, ME!"], [t0 + pd.Timedelta(hours=6)])
    c3 = _docs([4], ["EXPIRE me??"], [t0 + pd.Timedelta(hours=7)])
    for i, c in enumerate((c0, c1, c2, c3)):
        write_stream_file(src / f"c{i}.parquet", c)
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = streaming_dedup_exact(stream, watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("dd3")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    ids = {r["doc_id"] for r in spark.sql("select * from dd3").collect()}
    # doc 4 re-admitted (doc 1's state row evicted at the end of doc 3's
    # batch); doc 3 itself was still deduped — see NOTE above
    assert ids == {1, 2, 4}, ids
