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
    conversation_previews_pushdown)


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
    """pushdown="pushdown" must produce the pushdown result (and the same
    bytes as the full pipeline)."""
    a = _rows(conversation_previews(tdf, budget=300, pushdown="pushdown"))
    b = _rows(conversation_previews_pushdown(tdf, budget=300))
    assert a == b


@pytest.mark.parametrize("budget", [120, 500])
def test_tail_pushdown_equals_full(spark, tdf, budget):
    """Tail pushdown (totals joined back before the filter): byte-equal
    to the full pipeline on the whole fixture matrix incl. the 50k-turn
    hot conversation."""
    a = _rows(conversation_previews_full(tdf, budget=budget, skew="tail"))
    b = _rows(conversation_previews_pushdown(tdf, budget=budget,
                                             skew="tail"))
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


def test_plan_decision_is_logged(spark, tdf, caplog):
    """conversation_previews logs one INFO line per call: the chosen
    plan, the statistic that decided it (kept_frac, or that the memo
    or the caller answered) and the kernel-stage width."""
    from headson_spark.operators.preview import clear_plan_cache
    width = spark.sparkContext.defaultParallelism
    clear_plan_cache()
    try:
        lines = []
        for kw in ({}, {}, {"pushdown": "full"}):
            caplog.clear()
            with caplog.at_level("INFO", logger="headson_spark.preview"):
                conversation_previews(tdf, budget=500, **kw)
            got = [r for r in caplog.records
                   if r.name == "headson_spark.preview"]
            assert len(got) == 1 and got[0].levelname == "INFO"
            lines.append(got[0].getMessage())
    finally:
        clear_plan_cache()
    fresh, memo, forced = lines
    kept = choose_preview_plan(tdf, budget=500, use_cache=False).kept_frac
    assert kept is not None and kept < 0.5
    assert "plan=pushdown" in fresh and f"kept_frac={kept}" in fresh
    assert "memo" not in fresh and f"width={width}" in fresh
    assert "plan=pushdown" in memo and f"kept_frac={kept}" in memo
    assert "memo" in memo and f"width={width}" in memo
    assert "plan=full" in forced and "pushdown='full'" in forced
    assert "kept_frac" not in forced and f"width={width}" in forced


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
    push = _rows(conversation_previews_pushdown(df, budget=budget,
                                                skew=skew))
    assert set(full) == set(push)
    diffs = {k: (full[k], push[k]) for k in full if full[k] != push[k]}
    assert not diffs, diffs
    # NULL text renders as the kernel renders a JSON null
    from headson_spark.kernel import summarize_value
    for cid in ("null_text", "all_null_text"):
        doc = {"turns": [{"role": r[2], "text": r[3], "tool": r[4]}
                         for r in rows if r[0] == cid]}
        assert full[cid][0] == summarize_value(
            doc, format="json", character_budget=budget, skew=skew), cid


@pytest.mark.parametrize("skew", ["tail", "balanced", "head"])
def test_pushdown_survives_negative_turn_idx(spark, skew):
    """Rows at a negative or NULL turn_idx break the dense-position
    contract. Both plans drop them before counting, so a row at
    turn_idx = -1 cannot collide with the pushdown plans' sentinel, and
    the plans agree on preview, n_turns and n_chars."""
    rows = [("neg", -1, "user", "poison", "", 1_000_000),
            ("neg", None, "user", "null poison", "", 1_000_000)]
    rows += [("neg", t, "user", f"neg turn {t}", "", 1_000_001 + t)
             for t in range(3)]
    rows += [("ok", t, "user", f"ok turn {t}", "", 1_000_000 + t)
             for t in range(4)]
    df = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_us long")
        .selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                    "timestamp_micros(ts_us) as ts"))
    full = _rows(conversation_previews(df, budget=500, skew=skew,
                                       pushdown="full"))
    push = _rows(conversation_previews(df, budget=500, skew=skew,
                                       pushdown="pushdown"))
    assert sorted(full) == ["neg", "ok"]
    assert push == full
    assert full["neg"][1:3] == (3, 3 * len("neg turn 0"))
    assert "poison" not in full["neg"][0]


def test_tail_pushdown_keeps_null_conv_id(spark):
    """Rows with a NULL conv_id are one conversation: the kernel's batch
    carry tells it from the others, and the tail plan's totals join is
    null-safe, so it keeps that conversation's tail turns too and both
    plans give the same row."""
    rows = [(None, t, "user", f"null turn {t}", "", 1_000_000 + t)
            for t in range(300)]  # more than the cap of 250
    rows += [("a", t, "user", f"a turn {t}", "", 1_000_000 + t)
             for t in range(3)]
    df = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_us long")
        .selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                    "timestamp_micros(ts_us) as ts"))
    full = _rows(conversation_previews_full(df, budget=500, skew="tail"))
    push = _rows(conversation_previews_pushdown(df, budget=500,
                                                skew="tail"))
    assert set(full) == {None, "a"}
    assert push == full
    assert "null turn 299" in push[None][0] and push[None][1] == 300


def test_pushdown_arg_validated(spark, transcripts_df=None):
    import pytest
    from headson_spark.operators.preview import conversation_previews
    df = spark.createDataFrame(
        [("c1", 0, "user", "hi", "", None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    # a bool is not a second spelling of a plan
    for bad in ("Auto", "fulll", True, False):
        with pytest.raises(ValueError,
                           match="'auto', 'full' or 'pushdown'"):
            conversation_previews(df, pushdown=bad)
    # the literal strings are accepted as forced plans
    conversation_previews(df, pushdown="full")
    conversation_previews(df, pushdown="pushdown")
