"""Mimics the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB over the same parquet, compare
row count + schema + order-insensitive values."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"  # keep the local gate fast; driver uses 0.01
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            # dtype-tagged so a float 79.0 from one engine never silently
            # equals an int 79 from the other (the driver's value-hash is
            # dtype-sensitive; round-1 missed two fails because of this)
            if isinstance(v, bool):
                v = ("b", v)
            elif isinstance(v, float):
                v = ("f", "nan" if math.isnan(v) else round(v, 6))
            elif isinstance(v, int):
                v = ("i", v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


def test_every_oracle_has_query():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracle without query: {missing}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    res = ddb.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), (
        f"{name}: column mismatch {scols} vs {dcols}")
    assert len(srows) == len(drows), (
        f"{name}: row count {len(srows)} vs {len(drows)}")
    a = normalize(srows, scols)
    b = normalize(drows, dcols)
    diffs = [(x, y) for x, y in zip(a, b) if x != y]
    assert not diffs, f"{name}: first diffs {diffs[:3]}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    rows = sdf.collect()
    assert rows is not None
    assert len(sdf.columns) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "conv_id" in df.columns and "preview" in df.columns


def test_price_percentiles_keeps_null_flag_group(spark, tmp_path):
    """The split price_percentiles plan joins its two aggregates on
    l_returnflag; a NULL flag group must survive that join, exactly as
    one unsplit groupBy aggregate of the same three values keeps it."""
    from pyspark.sql import functions as F
    li = spark.createDataFrame(
        [("A", 10.0), ("A", 30.0), ("R", 5.0), (None, 7.0), (None, 9.0)],
        "l_returnflag string, l_extendedprice double")
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    got = QUERIES["price_percentiles"](spark, str(tmp_path)).collect()
    want = (li.groupBy("l_returnflag")
            .agg(F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4)
                 .alias("p50"),
                 F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4)
                 .alias("p95"),
                 F.round(F.stddev_pop("l_extendedprice"), 4)
                 .alias("stddev"))
            .collect())
    assert len(want) == 3
    assert sorted(map(tuple, got), key=repr) == \
        sorted(map(tuple, want), key=repr)
