"""Corpus digest operator: one budgeted preview across conversations."""

from __future__ import annotations

import pytest

from headson_spark.operators import digest
from headson_spark.operators.digest import corpus_digest


def test_corpus_digest_budget_and_sections(spark, transcripts_path,
                                           monkeypatch):
    monkeypatch.setattr(digest, "MAX_CONVERSATIONS", 6)
    df = spark.read.parquet(transcripts_path).filter(
        "conv_id like 'cplain%' or conv_id like 'cesc%'")
    out = corpus_digest(df, character_budget=1500)
    assert len(out.encode("utf-8")) <= 1500
    assert out.count("==> ") >= 2, out[:200]


def test_corpus_digest_omitted_conversations_marker(spark,
                                                    transcripts_path,
                                                    monkeypatch):
    monkeypatch.setattr(digest, "MAX_CONVERSATIONS", 3)
    df = spark.read.parquet(transcripts_path).filter(
        "conv_id like 'cplain%'")
    n = df.select("conv_id").distinct().count()
    out = corpus_digest(df, character_budget=800, style="default")
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
    got = corpus_digest(df, character_budget=600, style="detailed", skew=skew)
    assert got == want


def test_corpus_digest_null_conv_id(spark):
    """A NULL conv_id is one conversation: it is picked (a plain isin
    drops it), its section is `null`, sorted first, and the digest
    equals summarize_many over the merged conversations."""
    from headson_spark.kernel import summarize_many
    rows = [(None, 0, "user", "null turn 0", "", 1_000),
            (None, 1, "assistant", "null turn 1", "", 1_001),
            ("a", 0, "user", "a turn 0", "", 1_002),
            ("zed", 0, "user", "zed turn 0", "", 1_003)]
    df = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_s long")
        .selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                    "timestamp_seconds(ts_s) as ts"))
    got = corpus_digest(df, character_budget=600)
    assert got.startswith("==> null <=="), got
    assert got.index("==> a <==") < got.index("==> zed <==")
    turns = {}
    for cid, _, role, text, tool, _ in rows:
        turns.setdefault(cid, []).append(
            {"role": role, "text": text, "tool": tool})
    want = summarize_many(
        [(cid, {"turns": t}) for cid, t in turns.items()], format="json",
        style="default", skew="balanced", character_budget=600)
    assert got == want
