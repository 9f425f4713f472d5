"""Corpus digest operator: one budgeted preview across conversations."""

from __future__ import annotations

import pytest

from headson_spark.operators.digest import corpus_digest


def test_corpus_digest_budget_and_sections(spark, transcripts_path):
    df = spark.read.parquet(transcripts_path).filter(
        "conv_id like 'cplain%' or conv_id like 'cesc%'")
    out = corpus_digest(df, global_budget=1500, max_conversations=6)
    assert len(out.encode("utf-8")) <= 1500
    assert out.count("==> ") >= 2, out[:200]


def test_corpus_digest_omitted_conversations_marker(spark,
                                                    transcripts_path):
    df = spark.read.parquet(transcripts_path).filter(
        "conv_id like 'cplain%'")
    n = df.select("conv_id").distinct().count()
    out = corpus_digest(df, global_budget=800, max_conversations=3,
                        style="default")
    assert len(out.encode("utf-8")) <= 800
    if n > 3:
        # conversations beyond max_conversations aren't in the fileset:
        # sections only for the included ones
        assert out.count("==> ") <= 3 + 1


def test_corpus_digest_empty(spark):
    df = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp")
    assert corpus_digest(df) == ""


@pytest.mark.parametrize("skew", ["balanced", "head", "tail"])
def test_corpus_digest_equals_summarize_many(spark, skew):
    """The digest of conversations longer than the per-conversation cap
    equals summarize_many over the merged full conversations: the skew's
    own window sampler, omission counts against the full length, and a
    late duplicate delivery merged last-write-wins."""
    from headson_spark.kernel import summarize_many
    lens = {"a": 200, "b": 200, "c": 5}
    rows = [(cid, i, "user" if i % 2 == 0 else "assistant",
             f"{cid} turn {i}", "", 1_000 + i)
            for cid, n in lens.items() for i in range(n)]
    rows.append(("a", 7, "user", "a turn 7 v2", "", 5_000))
    df = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_s long")
        .selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                    "timestamp_seconds(ts_s) as ts"))
    merged = {r[0]: {} for r in rows}
    for cid, i, role, text, tool, _ in rows:  # rows are ts-ascending
        merged[cid][i] = {"role": role, "text": text, "tool": tool}
    inputs = [(cid, {"turns": [merged[cid][i] for i in sorted(merged[cid])]})
              for cid in sorted(merged)]
    want = summarize_many(inputs, format="json", style="detailed",
                          skew=skew, character_budget=600)
    got = corpus_digest(df, global_budget=600, style="detailed", skew=skew)
    assert got == want
