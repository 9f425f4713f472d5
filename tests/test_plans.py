"""Physical-plan shape assertions: the scale properties we designed for
must be visible in the plan, not just hoped for."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from headson_spark.operators.preview import conversation_previews
from headson_spark.plans.inspect import (count_exchanges,
                                         formatted_plan,
                                         has_broadcast_join)


@pytest.fixture(scope="module")
def tdf(spark, transcripts_path):
    return spark.read.parquet(transcripts_path)


def test_full_preview_pipeline_is_single_shuffle(spark, tdf):
    from headson_spark.operators.preview import conversation_previews_full
    df = conversation_previews_full(tdf, budget=300)
    assert count_exchanges(df) == 1, formatted_plan(df)


def test_pushdown_preview_filters_before_shuffle(spark, tdf):
    """Pushdown pipeline: the sampler keep-set must reach the parquet scan
    (PushedFilters on turn_idx), so the exchange carries O(cap) turns per
    conversation instead of all of them."""
    df = conversation_previews(tdf, budget=300, pushdown="pushdown")
    plan = formatted_plan(df)
    assert "PushedFilters" in plan and "turn_idx" in plan.split(
        "PushedFilters")[1].split("\n")[0], plan


def _kernel_exchange_width(df) -> int:
    """N of the one REPARTITION_BY_NUM
    hashpartitioning(xxhash64(conv_id), N) exchange feeding the preview
    kernel."""
    import re
    widths = re.findall(r"hashpartitioning\(xxhash64\(conv_id#\d+, 42\), "
                        r"(\d+)\), REPARTITION_BY_NUM", formatted_plan(df))
    assert len(widths) == 1, formatted_plan(df)
    return int(widths[0])


@pytest.mark.parametrize("plan", ["full", "balanced", "tail"])
def test_kernel_stage_is_one_wave(spark, tdf, plan):
    """The kernel exchange has one task per task slot (every Python-UDF
    task pays a fixed start-up cost, so extra waves only add it)."""
    from headson_spark.operators.preview import (
        conversation_previews_full, conversation_previews_pushdown)

    if plan == "full":
        out = conversation_previews_full(tdf, budget=300)
    else:
        out = conversation_previews_pushdown(tdf, budget=300, skew=plan)
    width = spark.sparkContext.defaultParallelism
    assert _kernel_exchange_width(out) == width


def test_tail_kernel_exchange_survives_co_partitioned_union(spark):
    """When the totals join is planned as a sort-merge join (an input
    without size statistics) and the kernel width equals
    spark.sql.shuffle.partitions, the tail plan's union is already
    hash-partitioned on conv_id at that width. The kernel exchange must
    still be planned: without it AQE's broadcast re-plan reads the join
    side locally and a conversation's sentinel lands apart from its rows
    (two preview rows per conversation)."""
    from headson_spark.operators.preview import conversation_previews_pushdown
    width = spark.sparkContext.defaultParallelism
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == width
    rows = [(c, t, "user", f"{c} turn {t}", "", 1_000_000 + t)
            for c in ("a", "b", "c") for t in range(4)]
    df = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_us long")
        .selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                    "timestamp_micros(ts_us) as ts"))
    out = conversation_previews_pushdown(df, budget=500, skew="tail")
    assert "SortMergeJoin" in formatted_plan(out)
    assert _kernel_exchange_width(out) == width
    for _ in range(3):
        assert sorted(r["conv_id"] for r in out.collect()) == ["a", "b", "c"]


def _final_plan_nodes(df) -> dict[int, str]:
    """Node id -> detail block, for the nodes of an executed query's
    final adaptive plan."""
    import re
    plan = formatted_plan(df)
    tree = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    ids = {int(i) for i in re.findall(r"\((\d+)\)", tree)}
    blocks = re.split(r"^(?=\(\d+\) )", plan, flags=re.MULTILINE)
    return {int(b[1:b.index(")")]): b for b in blocks
            if b.startswith("(") and int(b[1:b.index(")")]) in ids}


def test_tail_pushdown_aggregates_totals_once(spark, tdf):
    """The tail plan's totals join and its sentinel rows read one totals
    aggregate: one partial max(turn_idx) over one scan of the input, its
    exchange reused by the second reader."""
    from headson_spark.operators.preview import conversation_previews_pushdown
    out = conversation_previews_pushdown(tdf, budget=100, skew="tail")
    out.collect()
    nodes = _final_plan_nodes(out)
    detail = formatted_plan(out)
    aggs = [b for b in nodes.values() if "partial_max(turn_idx" in b]
    assert len(aggs) == 1, detail
    scans = [b for b in nodes.values() if b.split("\n")[0].endswith(
        "Scan parquet ")]
    assert len(scans) == 2, detail
    assert any(b.split("\n")[0].split(" ", 1)[1].startswith("ReusedExchange")
               for b in nodes.values()), detail


@pytest.mark.parametrize("pushdown", [False, True])
def test_previews_do_not_depend_on_kernel_width(spark, tdf, pushdown,
                                                monkeypatch):
    """Each conversation is contiguous in one partition at any width, so
    the rows are the same at the default width, one partition, and four
    waves of partitions."""
    from headson_spark.operators import preview
    width = spark.sparkContext.defaultParallelism

    def rows():
        return sorted(map(tuple, conversation_previews(
            tdf, budget=300,
            pushdown="pushdown" if pushdown else "full").collect()))

    default = rows()
    assert len(default) > 0
    for n in (1, 4 * width):
        monkeypatch.setattr(preview, "_kernel_width", lambda df, n=n: n)
        assert rows() == default


def test_filter_pushdown_reaches_scan(spark, transcripts_path):
    df = (spark.read.parquet(transcripts_path)
          .filter(F.col("conv_id") == "cplain_000001")
          .select("conv_id", "turn_idx"))
    plan = formatted_plan(df)
    assert "PushedFilters: [IsNotNull(conv_id), EqualTo(conv_id" in plan
    # column pruning: only the 2 projected columns in ReadSchema
    assert "text" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_read_widened_keeps_plain_scan_for_uri_paths(spark, tmp_path,
                                                     monkeypatch):
    """A file:// URI has no size the os module can see, so read_widened
    must treat it as large (plain scan) rather than as 0 bytes (a
    round-robin spread of the whole table). The same table read by its
    local path under a large gate is spread."""
    from headson_spark import session
    path = str(tmp_path / "small_table.parquet")
    spark.range(10).write.parquet(path)
    monkeypatch.setattr(session, "WIDEN_MAX_BYTES", 1 << 30)
    local = formatted_plan(session.read_widened(spark, path))
    assert "RoundRobinPartitioning" in local, local
    monkeypatch.setattr(session, "WIDEN_MAX_BYTES", 1)
    uri = formatted_plan(session.read_widened(spark, "file://" + path))
    assert "RoundRobinPartitioning" not in uri, uri


def test_read_widened_gate_is_logged(spark, tmp_path, caplog, monkeypatch):
    """read_widened logs one INFO line per call: the path's byte size (or
    that it has none the os module can see), the gate and the decision."""
    import os
    from headson_spark import session
    path = str(tmp_path / "gate_table.parquet")
    spark.range(10).write.parquet(path)
    nbytes = sum(os.path.getsize(os.path.join(r, f))
                 for r, _, fs in os.walk(path) for f in fs)
    lines = []
    for p, gate in ((path, 1 << 30), (path, nbytes), ("file://" + path, 1)):
        caplog.clear()
        monkeypatch.setattr(session, "WIDEN_MAX_BYTES", gate)
        with caplog.at_level("INFO", logger="headson_spark.session"):
            session.read_widened(spark, p)
        got = [r for r in caplog.records if r.name == "headson_spark.session"]
        assert len(got) == 1 and got[0].levelname == "INFO"
        lines.append(got[0].getMessage())
    small, at_gate, uri = lines
    assert f"bytes={nbytes}" in small and f"max_bytes={1 << 30}" in small
    assert small.endswith("-> widened")
    assert f"bytes={nbytes}" in at_gate and f"max_bytes={nbytes}" in at_gate
    assert at_gate.endswith("-> plain scan")
    assert "bytes=URI/non-local" in uri and "max_bytes=1" in uri
    assert uri.endswith("-> plain scan")


@pytest.mark.parametrize("name", ["head_cap", "default_sample"])
def test_registry_samplers_plan_only_the_transcript_exchange(spark, name):
    """The registry's head and balanced samplers filter by position
    (sampling.kept_position_filter), so their one exchange is the
    transcript table's own turn-numbering window: no second exchange
    and sort to rank the turns."""
    import __spark_entry__ as em
    df = em.queries()[name](spark, "/root/testdata/sf0.001")
    assert count_exchanges(df) == 1, formatted_plan(df)


def test_broadcast_join_for_small_dim(spark):
    import __spark_entry__ as em
    df = em.queries()["join_top_customers"](spark, "/root/testdata/sf0.001")
    assert has_broadcast_join(df)


def test_ivf_assign_plan_is_shuffle_free_map(spark):
    """IVF assignment (round-6 form): the k-row centroid table rides
    inside a mapInArrow closure and each Arrow batch computes its
    distance matrix with BLAS, so the plan must contain NO exchange at
    all (the old crossJoin's broadcast and the arg-min aggregation's
    shuffle both disappear) and exactly one Python boundary node."""
    from headson_spark.operators.similarity import ivf_assign
    # the shared-session suite may have pinned an identical ivf_assign
    # plan via __spark_entry__._ivf_index's .cache(); Spark would then
    # substitute the InMemoryRelation and this test would read the cached
    # build's exchanges instead of the operator's own plan shape
    spark.catalog.clearCache()
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = ivf_assign(emb, stride=32)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 0, plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan, plan
    # column pruning must reach the scan: only (vec_id, embedding) read
    assert "label" not in plan.split("ReadSchema")[1].split("\n")[0], plan


def test_ivf_assign_numpy_matches_catalyst_fold(spark):
    """The BLAS + exact-margin-recheck assignment must reproduce the old
    crossJoin + Catalyst left-fold arg-min bit-for-bit (same arg-min,
    same (d2, centroid_id) tie-break)."""
    from pyspark.sql import functions as F
    from headson_spark.operators.similarity import (_l2sq_expr, ivf_assign,
                                                    ivf_centroids)
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    got = {r["vec_id"]: r["centroid_id"]
           for r in ivf_assign(emb, stride=32).collect()}
    cents = F.broadcast(ivf_centroids(emb, 32))
    d2 = _l2sq_expr("embedding")
    ref = (emb.crossJoin(cents)
           .withColumn("_d2", F.expr(d2))
           .groupBy("vec_id")
           .agg(F.min(F.struct(F.col("_d2").alias("d"),
                               F.col("centroid_id").alias("c")))
                .alias("_m"))
           .select("vec_id", F.col("_m.c").alias("centroid_id")))
    exp = {r["vec_id"]: r["centroid_id"] for r in ref.collect()}
    assert got == exp
