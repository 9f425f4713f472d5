"""Pushdown preview pipelines == full-shuffle pipeline on EVERY output
column (preview bytes, n_turns, whole-conversation n_chars,
preview_bytes), while shipping only the sampler keep-set through the
shuffle. The fixture's "late" conversations carry duplicate deliveries on
kept positions, so the full-row equality exercises the sentinel-chars
LWW-loser subtraction, not just the rendered bytes."""

from __future__ import annotations

import pytest

from headson_spark.operators.preview import (
    choose_preview_plan, conversation_previews, conversation_previews_full,
    conversation_previews_pushdown, conversation_previews_tail_pushdown)


@pytest.fixture(scope="module")
def tdf(spark, transcripts_path):
    return spark.read.parquet(transcripts_path)


def _rows(df):
    return {r["conv_id"]: (r["preview"], r["n_turns"], r["n_chars"],
                           r["preview_bytes"]) for r in df.collect()}


@pytest.mark.parametrize("skew", ["balanced", "head"])
@pytest.mark.parametrize("budget", [120, 500])
def test_pushdown_equals_full(spark, tdf, skew, budget):
    a = _rows(conversation_previews_full(tdf, budget=budget, skew=skew))
    b = _rows(conversation_previews_pushdown(tdf, budget=budget,
                                             skew=skew))
    assert set(a) == set(b)
    diffs = [k for k in a if a[k] != b[k]]
    assert not diffs, (diffs[:3], a[diffs[0]], b[diffs[0]]) if diffs else ""


def test_forced_dispatch_is_pushdown(spark, tdf):
    """pushdown=True must produce the pushdown result (and the same bytes
    as the full pipeline)."""
    a = _rows(conversation_previews(tdf, budget=300, pushdown=True))
    b = _rows(conversation_previews_pushdown(tdf, budget=300))
    assert a == b


@pytest.mark.parametrize("budget", [120, 500])
def test_tail_pushdown_equals_full(spark, tdf, budget):
    """Two-pass tail pushdown: byte-equal to the full pipeline on the
    whole fixture matrix incl. the 50k-turn hot conversation."""
    a = _rows(conversation_previews_full(tdf, budget=budget, skew="tail"))
    b = _rows(conversation_previews_tail_pushdown(tdf, budget=budget))
    assert set(a) == set(b)
    diffs = [k for k in a if a[k] != b[k]]
    assert not diffs, (diffs[:3], a[diffs[0]], b[diffs[0]]) if diffs else ""


def _long_conv_df(spark, n_convs=3, n_turns=1200):
    rows = []
    for c in range(n_convs):
        for t in range(n_turns):
            rows.append((f"clong_{c:03d}", t, "user", f"turn {t} text",
                         "", None))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")


def test_auto_dispatch_decision(spark, tdf):
    """The adaptive dispatcher must pick the full plan where nothing
    prunes (short conversations — the totals pre-scan would be pure
    overhead) and the pushdown plan where pruning dominates: long
    conversations, and ALSO a short-conversation bulk with one
    mega-conversation (row-weighted prune fraction — most shuffled rows
    belong to the hot conversation)."""
    short = tdf.filter("conv_id not like 'cskewhot%' "
                       "and conv_id not like 'cbig%'")
    assert choose_preview_plan(short, budget=500) == "full"
    assert choose_preview_plan(short, budget=500, skew="tail") == "full"
    # fixture incl. the 50k-turn hot conversation: 98% of rows prune
    assert choose_preview_plan(tdf, budget=500) == "pushdown"
    long_df = _long_conv_df(spark)
    assert choose_preview_plan(long_df, budget=500) == "pushdown"
    assert choose_preview_plan(long_df, budget=500,
                               skew="tail") == "pushdown"
    # both dispatch targets agree on the long shape too
    a = _rows(conversation_previews(long_df, budget=500))  # auto->pushdown
    b = _rows(conversation_previews_full(long_df, budget=500))
    assert a == b


def test_dispatch_decision_is_memoized(spark, tdf):
    """Same analyzed plan + cap -> the stats scan runs once; a
    semantically different input gets its own decision."""
    from headson_spark.operators.preview import (_PLAN_DECISIONS,
                                                 clear_plan_cache)
    clear_plan_cache()
    try:
        p1 = choose_preview_plan(tdf, budget=500)
        assert len(_PLAN_DECISIONS) == 1
        assert choose_preview_plan(tdf, budget=500) == p1
        assert len(_PLAN_DECISIONS) == 1
        choose_preview_plan(tdf.filter("conv_id like 'cplain%'"),
                            budget=500)
        assert len(_PLAN_DECISIONS) == 2
        # different cap = different keep-set = separate decision
        choose_preview_plan(tdf, budget=120)
        assert len(_PLAN_DECISIONS) == 3
    finally:
        clear_plan_cache()


def test_pushdown_nchars_upper_bound_on_unkept_dup(spark):
    """Documented exactness contract: a duplicate delivery on a NON-kept
    position is invisible to the pushdown kernel post-filter, so n_chars
    counts it (upper bound); duplicates on kept positions subtract
    exactly."""
    from headson_spark.operators.sampling import default_kept_positions
    budget = 500
    cap = max(budget // 2, 1)
    kept = set(default_kept_positions(cap))
    n = 600
    unkept = min(i for i in range(n) if i not in kept)
    in_kept = min(i for i in kept)
    rows = []
    for t in range(n):
        rows.append(("cdup_0", t, "user", f"turn {t}", "", 1_000_000 + t))
    # later-ts duplicate deliveries: these are the LWW WINNERS, making
    # the original deliveries at those positions the losers
    rows.append(("cdup_0", unkept, "user", "V2-UNKEPT", "", 2_000_000))
    rows.append(("cdup_0", in_kept, "user", "V2-KEPT-XYZ", "", 2_000_001))
    df = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_us long")
        .selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                    "timestamp_micros(ts_us) as ts"))
    full = _rows(conversation_previews_full(df, budget=budget))
    push = _rows(conversation_previews_pushdown(df, budget=budget))
    # the original delivery of the duplicated UNKEPT turn is the LWW
    # loser; its length stays counted in the pushdown n_chars
    loser_len = len(f"turn {unkept}")
    assert push["cdup_0"][2] == full["cdup_0"][2] + loser_len
    # everything else (preview bytes, n_turns) still matches exactly
    assert push["cdup_0"][0] == full["cdup_0"][0]
    assert push["cdup_0"][1] == full["cdup_0"][1]


def test_pushdown_reduces_shuffle_rows(spark, tdf):
    # the hot conversation (50k turns) must ship at most cap + dup rows
    from pyspark.sql import functions as F
    budget = 500
    cap = max(budget // 2, 1)
    hot = tdf.filter("conv_id = 'cskewhot_000000'")
    n_full = hot.count()
    from headson_spark.operators.sampling import default_kept_positions
    kept = hot.filter(F.col("turn_idx").isin(
        default_kept_positions(cap))).count()
    assert n_full == 50_000
    assert kept <= cap


def test_mega_conversation_spans_arrow_batches(spark, tdf):
    """A conversation larger than one Arrow batch must round-trip both
    pipelines identically: the full path's carry buffer has to stitch the
    conversation across batches, the pushdown path must bound what ever
    reaches pandas. Forces tiny batches so 50k turns span ~50 of them."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, "10000")
    spark.conf.set(key, "1024")
    try:
        hot = tdf.filter(
            "conv_id in ('cskewhot_000000', 'cplain_000001')")
        a = {r["conv_id"]: (r["preview"], r["n_turns"])
             for r in conversation_previews_full(
                 hot, budget=500).collect()}
        b = {r["conv_id"]: (r["preview"], r["n_turns"])
             for r in conversation_previews_pushdown(
                 hot, budget=500).collect()}
    finally:
        spark.conf.set(key, old)
    assert a == b
    assert a["cskewhot_000000"][1] == 50_000


@pytest.mark.parametrize("budget", [60, 500])
@pytest.mark.parametrize("skew", ["balanced", "head", "tail"])
def test_edge_shape_matrix_pushdown_equals_full(spark, budget, skew):
    """Crafted edge shapes, one union table, full-row equality across all
    three plans: single-turn, empty-text, NULL text (on some turns, and
    on every turn), length exactly cap / cap±1, fully-duplicated
    conversation (every turn redelivered later), ts-tie duplicates, and
    a conversation whose turns all arrive with equal ts."""
    from headson_spark.operators.preview import (
        conversation_previews_pushdown, conversation_previews_tail_pushdown)
    cap = max(budget // 2, 1)
    rows = []

    def conv(cid, n, dup_every=None, ts_tie=False, empty=False,
             null_every=None):
        for t in range(n):
            ts = 1_000_000 if ts_tie else 1_000_000 + t
            text = "" if empty else f"{cid} turn {t} xyz"
            if null_every and t % null_every == 0:
                text = None
            rows.append((cid, t, "user", text, "", ts))
            if dup_every and t % dup_every == 0:
                rows.append((cid, t, "user", f"{cid} V2 {t}", "",
                             ts + 500))

    conv("one_turn", 1)
    conv("empty_text", 3, empty=True)
    conv("null_text", 5, null_every=2)
    conv("all_null_text", 3, null_every=1)
    conv("exact_cap", cap)
    conv("cap_plus1", cap + 1)
    conv("cap_minus1", max(cap - 1, 1))
    conv("all_dup", 7, dup_every=1)
    conv("ts_tie", 5, ts_tie=True)
    conv("longer", 3 * cap + 5, dup_every=None)
    df = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_us long")
        .selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                    "timestamp_micros(ts_us) as ts"))
    full = _rows(conversation_previews_full(df, budget=budget, skew=skew))
    if skew == "tail":
        push = _rows(conversation_previews_tail_pushdown(df, budget=budget))
    else:
        push = _rows(conversation_previews_pushdown(df, budget=budget,
                                                    skew=skew))
    assert set(full) == set(push)
    diffs = {k: (full[k], push[k]) for k in full if full[k] != push[k]}
    assert not diffs, diffs


@pytest.mark.parametrize("skew", ["tail", "balanced"])
def test_pushdown_survives_negative_turn_idx(spark, skew):
    """A contract-violating row at turn_idx = -1 must not collide with the
    pushdown plans' per-conversation sentinel: every run finishes with
    one row per conversation."""
    rows = [("neg", -1, "user", "poison", "", 1_000_000)]
    rows += [("neg", t, "user", f"neg turn {t}", "", 1_000_001 + t)
             for t in range(3)]
    rows += [("ok", t, "user", f"ok turn {t}", "", 1_000_000 + t)
             for t in range(4)]
    df = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_us long")
        .selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                    "timestamp_micros(ts_us) as ts"))
    got = conversation_previews(df, budget=500, skew=skew,
                                pushdown=True).collect()
    assert sorted(r["conv_id"] for r in got) == ["neg", "ok"]


def test_pushdown_arg_validated(spark, transcripts_df=None):
    import pytest
    from headson_spark.operators.preview import conversation_previews
    df = spark.createDataFrame(
        [("c1", 0, "user", "hi", "", None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    with pytest.raises(ValueError, match="pushdown"):
        conversation_previews(df, pushdown="Auto")
    with pytest.raises(ValueError, match="pushdown"):
        conversation_previews(df, pushdown="fulll")
    # the literal strings are accepted as forced plans
    conversation_previews(df, pushdown="full")
    conversation_previews(df, pushdown="pushdown")
