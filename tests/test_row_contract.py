"""The row contract every preview path shares: only rows at
0 <= turn_idx < KEPT_POSITIONS_MAX count as turns (operators.sampling.
counted_turns), and a turn's number is its position: n_turns is
max(turn_idx) + 1 and a missing position renders as omitted. Hostile
rows (NULL, negative, 2^20 and 2^31 - 1 turn_idx) mixed into valid
conversations, one conversation longer than 100,000 turns, and a
`gappy` one (turns 0, 1 and 5, turn 0 re-delivered later, turn 3
backfilled from a second file) must give the same preview and n_turns
under the full and pushdown plans, the stream's final rows, the window
previews and the digest, with no crash and no excluded row shown or
counted.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from headson_spark.kernel.api import array_cap, summarize_many
from headson_spark.kernel.arena import (KEPT_POSITIONS_MAX, KeepRule,
                                        build_conversation_arena)
from headson_spark.operators.preview import (choose_preview_plan,
                                             conversation_previews)
from headson_spark.operators.sampling import (counted_turns,
                                              default_kept_positions)
from headson_spark.streaming.engine import KeyedParquetSink, run_stream

SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
          "tool string, ts timestamp")
LONG = 100_050
HOSTILE = [None, -1, KEPT_POSITIONS_MAX, 2 ** 31 - 1]
BUDGET = 500
T0 = pd.Timestamp("2026-01-01")
# every path's n_turns: max(turn_idx) + 1 over the contract's rows
N_TURNS = {"a": 10, "b": 3, "long": LONG, "gappy": 6, "closer": 1}


def _frame(convs, idxs, ts, tag="") -> pd.DataFrame:
    text = [f"{c} turn {i}{tag}"
            if i is not None and 0 <= i < KEPT_POSITIONS_MAX
            else f"POISON {i}" for c, i in zip(convs, idxs)]
    return pd.DataFrame({
        "conv_id": convs,
        "turn_idx": pd.array(idxs, dtype="Int32"),
        "role": ["user" if (i or 0) % 2 == 0 else "assistant"
                 for i in idxs],
        "text": text,
        "tool": [""] * len(convs),
        "ts": pd.Series(ts, dtype="datetime64[us]")})


def _rows() -> pd.DataFrame:
    """The first file: valid conversations `a` (10 turns), `b` (3 turns)
    and `long` (LONG turns), each also delivered the HOSTILE rows;
    `ghost` has hostile rows only; `gappy` has turns 0, 1 and 5 and
    turn 0 again, later; `closer`, ten minutes later, closes the window
    the others share."""
    convs, idxs = [], []
    for cid, n in (("a", 10), ("b", 3), ("long", LONG)):
        convs += [cid] * (n + len(HOSTILE))
        idxs += list(range(n)) + HOSTILE
    convs += ["ghost"] * len(HOSTILE) + ["gappy"] * 3
    idxs += HOSTILE + [0, 1, 5]
    n = len(convs)
    ts = [T0 + pd.Timedelta(microseconds=i) for i in range(n)]
    first = _frame(convs, idxs, ts)
    again = _frame(["gappy"], [0], [T0 + pd.Timedelta(seconds=2)],
                   tag=" re-delivered")
    closer = _frame(["closer"], [0], [T0 + pd.Timedelta(minutes=10)])
    return pd.concat([first, again, closer], ignore_index=True)


def _late_rows() -> pd.DataFrame:
    """The second file: `gappy`'s turn 3, backfilled."""
    return _frame(["gappy"], [3], [T0 + pd.Timedelta(seconds=1)],
                  tag=" backfilled")


def _all_rows() -> pd.DataFrame:
    return pd.concat([_rows(), _late_rows()], ignore_index=True)


@pytest.fixture(scope="module")
def source(tmp_path_factory):
    src = tmp_path_factory.mktemp("row_contract") / "src"
    os.makedirs(src)
    for name, rows in (("rows", _rows()), ("late", _late_rows())):
        pq.write_table(pa.Table.from_pandas(rows, preserve_index=False),
                       str(src / f"{name}.parquet"))
    return str(src)


_BATCH: dict = {}


def _batch(spark, source, skew, plan):
    key = (skew, plan)
    if key not in _BATCH:
        df = spark.read.schema(SCHEMA).parquet(source)
        _BATCH[key] = {r["conv_id"]: (r["preview"], r["n_turns"])
                       for r in conversation_previews(
                           df, budget=BUDGET, skew=skew,
                           pushdown=plan).collect()}
    return _BATCH[key]


def test_counted_turns_admits_only_the_contract(spark):
    df = spark.createDataFrame(
        [(i,) for i in [0, 1, KEPT_POSITIONS_MAX - 1, *HOSTILE]],
        "turn_idx int")
    got = sorted(r["turn_idx"] for r in counted_turns(df).collect())
    assert got == [0, 1, KEPT_POSITIONS_MAX - 1]


@pytest.mark.parametrize("skew", ["balanced", "head", "tail"])
def test_batch_plans_agree_on_hostile_rows(spark, source, skew):
    full = _batch(spark, source, skew, "full")
    assert full == _batch(spark, source, skew, "pushdown")
    assert full == _batch(spark, source, skew, "auto")
    assert {c: n for c, (_, n) in full.items()} == N_TURNS
    assert not any("POISON" in p for p, _ in full.values())
    gappy = full["gappy"][0]
    # positions 2 and 4 are omitted: a marker in each gap and the
    # omitted-count marker; the later delivery of turn 0 wins
    assert gappy.count("…") == 3 and "gappy turn 3 backfilled" in gappy
    assert "gappy turn 0 re-delivered" in gappy


@pytest.mark.parametrize("skew", ["balanced", "head", "tail"])
def test_plan_statistic_reads_counted_rows(spark, source, skew):
    """kept_frac is the keep-set's share of the rows the plans shuffle,
    so a hostile row is in neither count."""
    plan = choose_preview_plan(spark.read.schema(SCHEMA).parquet(source),
                               budget=BUDGET, skew=skew, use_cache=False)
    cap = array_cap(BUDGET)
    shape = "head" if skew in ("head", "tail") else "balanced"
    keep = set(default_kept_positions(cap) if shape == "balanced"
               else range(cap))
    idxs = [i for i in _all_rows()["turn_idx"].dropna().astype(int)
            if 0 <= i < KEPT_POSITIONS_MAX]
    assert plan.kept_frac == pytest.approx(
        sum(i in keep for i in idxs) / len(idxs))


@pytest.mark.parametrize("n_buckets", [None, 2],
                         ids=["per-conv", "bucketed2"])
@pytest.mark.parametrize("skew", ["balanced", "head", "tail"])
def test_stream_equals_batch_on_hostile_rows(spark, source, tmp_path,
                                             skew, n_buckets):
    """One file per micro-batch, so `gappy`'s turn 3 lands in state
    after its later turns."""
    sink = KeyedParquetSink(str(tmp_path / "sink"))
    q = run_stream(spark, source, sink, str(tmp_path / "ckpt"),
                   budget=BUDGET, skew=skew, n_buckets=n_buckets,
                   max_files_per_trigger=1)
    q.awaitTermination(600)
    got = {r["conv_id"]: (r["preview"], r["n_turns"])
           for r in sink.read_latest(spark).collect()}
    assert {c: n for c, (_, n) in got.items()} == N_TURNS
    assert got == _batch(spark, source, skew, "full")


@pytest.mark.parametrize("skew", ["balanced", "head"])
def test_window_previews_leave_hostile_rows_out(spark, source, skew):
    """Every conversation but `closer` lands in one window, holding all
    its rows, so each window preview equals the batch preview and
    n_turns is the position count: neither a hostile row nor `gappy`'s
    re-delivered turn 0 counts."""
    from headson_spark.streaming.windows import rolling_previews
    stream = spark.readStream.schema(SCHEMA).parquet(source)
    out = rolling_previews(stream, window="1 minute",
                           watermark="0 seconds", budget=BUDGET, skew=skew)
    name = f"contract_windows_{skew}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(600)
    got = {r["conv_id"]: (r["preview"], r["n_turns"])
           for r in spark.sql(f"select * from {name}").collect()}
    # every window but closer's has closed
    assert got == {c: v for c, v in _batch(spark, source, skew,
                                            "full").items()
                   if c != "closer"}


@pytest.mark.parametrize("skew", ["balanced", "head", "tail"])
def test_digest_numbers_turns_by_position(spark, source, skew):
    """The digest renders each conversation as the other paths do:
    the shown positions of the contract's rows, merged last-write-wins,
    against max(turn_idx) + 1 positions. Computed here without Spark
    from the same rows."""
    from headson_spark.operators.digest import corpus_digest
    budget = 4000
    rows = _all_rows().dropna(subset=["turn_idx"])
    rows = rows[(rows["turn_idx"] >= 0)
                & (rows["turn_idx"] < KEPT_POSITIONS_MAX)]
    convs = sorted(rows["conv_id"].unique())
    cap = array_cap(budget // len(convs))
    rule = KeepRule(skew, cap)
    inputs = []
    for cid in convs:
        turns = (rows[rows["conv_id"] == cid].sort_values(["turn_idx", "ts"])
                 .drop_duplicates("turn_idx", keep="last"))
        n = int(turns["turn_idx"].max()) + 1
        shown = turns[[bool(rule.shown(int(i), n))
                       for i in turns["turn_idx"]]]
        inputs.append((cid, build_conversation_arena(
            shown["role"].tolist(), shown["text"].tolist(),
            shown["tool"].tolist(), cap,
            pre_sampled_indices=shown["turn_idx"].tolist(),
            pre_sampled_total=n)))
    want = summarize_many(inputs, format="json", skew=skew,
                          character_budget=budget)
    df = spark.read.schema(SCHEMA).parquet(source)
    assert corpus_digest(df, character_budget=budget, skew=skew) == want
