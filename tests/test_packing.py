"""chunk_text: the training-example chunker, cross-checked against a
DuckDB oracle (the same generate_series/list-slice construction the
driver-style harness uses).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from headson_spark.operators.packing import chunk_text

pytestmark = pytest.mark.usefixtures("spark")


DOCS = pd.DataFrame({
    "doc_id": [0, 1, 2, 3, 4, 5],
    "text": [
        "the quick brown fox jumps over the lazy dog",
        "a b c d e f g h i j k l m n o p",
        "single",
        "",
        "   ",                       # whitespace-only
        "x " * 100,                  # 100 tokens
    ],
})


def _spark_chunks(spark, size, stride):
    df = spark.createDataFrame(DOCS)
    out = chunk_text(df, size=size, stride=stride).toPandas()
    return out.sort_values(["doc_id", "chunk_idx"]).reset_index(drop=True)


def _oracle_chunks(size, stride):
    con = duckdb.connect()
    con.register("documents", DOCS)
    q = f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               t -> t != '') AS tk
            FROM documents),
        starts AS (
            SELECT doc_id, tk, len(tk) AS n,
                   unnest(range(0, greatest(len(tk), 1), {stride}))
                       AS start_tok
            FROM toks)
        SELECT doc_id,
               CAST(start_tok / {stride} AS INT) AS chunk_idx,
               CAST(start_tok AS INT) AS start_tok,
               CAST(least(n - start_tok, {size}) AS INT) AS n_tokens,
               list_aggregate(tk[start_tok + 1 : start_tok + {size}],
                              'string_agg', ' ') AS chunk
        FROM starts
        ORDER BY doc_id, chunk_idx
    """
    out = con.execute(q).df()
    out["chunk"] = out["chunk"].fillna("")
    return out.reset_index(drop=True)


@pytest.mark.parametrize("size,stride", [(4, 4), (4, 2), (8, 8), (3, 1),
                                         (64, 64)])
def test_chunk_text_matches_duckdb_oracle(spark, size, stride):
    got = _spark_chunks(spark, size, stride)
    exp = _oracle_chunks(size, stride)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_chunk_text_no_overlap_reconstructs(spark):
    got = _spark_chunks(spark, 4, 4)
    for doc_id, grp in got.groupby("doc_id"):
        joined = " ".join(c for c in grp.sort_values("chunk_idx")["chunk"]
                          if c)
        norm = " ".join(DOCS.loc[DOCS.doc_id == doc_id, "text"]
                        .iloc[0].split())
        assert joined == norm


def test_chunk_text_overlap_counts(spark):
    # stride 2, size 4 over 16 tokens -> starts 0,2,...,14 = 8 chunks
    got = _spark_chunks(spark, 4, 2)
    d1 = got[got.doc_id == 1]
    assert len(d1) == 8
    assert list(d1["start_tok"]) == list(range(0, 16, 2))
    # last chunk is a partial window
    assert d1.iloc[-1]["n_tokens"] == 2


def test_chunk_text_empty_doc_single_row(spark):
    got = _spark_chunks(spark, 4, 4)
    for did in (3, 4):
        rows = got[got.doc_id == did]
        assert len(rows) == 1
        assert rows.iloc[0]["chunk"] == ""
        assert rows.iloc[0]["n_tokens"] == 0


def test_chunk_text_validates_params(spark):
    df = DOCS.head(1)
    sdf = pytest.importorskip("pyspark").sql.SparkSession.getActiveSession()\
        .createDataFrame(df)
    with pytest.raises(ValueError):
        chunk_text(sdf, size=0)
    with pytest.raises(ValueError):
        chunk_text(sdf, size=4, stride=0)
