"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship conversation-preview query on sf0.001.
`queries()` exposes every implemented operator from SURVEY.md §2 plus the
training-data operators; `oracle_sql()` gives the DuckDB-equivalent ANSI
SQL for every SQL-expressible query (kernel-only ops — priority ordering,
budget search, rendering — get rows-only checks).

Transcript-shaped inputs are derived from the shared `events` table
(conv = user_id, turn = event ordinal by ts) so both engines read the same
parquet. All aggregates are aliased identically on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from headson_spark.operators import dedup, sampling, similarity, text_stats
from headson_spark.operators.preview import conversation_previews
from headson_spark.sources.transcripts import transcripts_from_events
from headson_spark.kernel.arena import mix64

# ---------------------------------------------------------------------------
# shared constants (must match between Spark exprs and DuckDB SQL)

CAP = 8
HEAD_TAIL_CAP = 5
SHINGLE_K = 5    # char shingles (jaccard verification)
MINHASH_W = 3    # word shingles (minhash/LSH)
N_HASHES = 8
BANDS = 4
SIMHASH_BITS = 16
ANN_K = 10
LSH_PLANES = 6
EMB_DIM = 64
IVF_STRIDE = 32   # deterministic sampled centroids: vec_id % stride == 0
IVF_PROBES = 4
CHUNK_SIZE = 32   # token-window chunker (chunk_text registry entry)
CHUNK_STRIDE = 24  # 8-token overlap between consecutive windows
DECONTAM_MOD = 10  # stand-in eval set: every 10th document
DECONTAM_N = 8     # word n-gram size for the contamination check
BIG_ORDER_MIN = 400000.0  # anti-join price floor (non-vacuous at all SFs)
# The synthetic corpus has no exact-duplicate documents / embeddings, so the
# dedup_exact and emb_near_dup oracles were vacuous 0=0 matches in round 1.
# Both queries now plant deterministic duplicates (re-keyed copies of every
# PLANT_MOD-th row, offset by PLANT_OFFSET) before running the *unchanged*
# operator — the grouping / bucket-join / verify logic is what's under test.
PLANT_MOD_DOCS = 10
PLANT_MOD_EMB = 25
PLANT_OFFSET = 1_000_000
# stratified sampling: cap the dominant language, keep the rest denser
STRATA_FRACTIONS = {"en": 0.35, "es": 0.8, "de": 0.8, "fr": 0.8}
STRATA_DEFAULT = 0.5

QUERY_VEC = [round((mix64(1000 + i) % 2_000_000) / 1_000_000.0 - 1.0, 6)
             for i in range(EMB_DIM)]

DEFAULT_KEPT = sampling.default_kept_positions(CAP)
# K(CAP), the balanced keep-set, as the oracle SQL's IN list
DEFAULT_KEPT_SQL = ",".join(str(i) for i in DEFAULT_KEPT)

_TRANSCRIPT_SQL = """
    SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) - 1 AS INT)
               AS turn_idx,
           event_type AS role, props AS text, '' AS tool, ts
    FROM events
"""


def _t(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transcripts_from_events(spark, sf_dir)


def _docs(spark, sf_dir):
    # read_widened: the driver's tables are single-row-group files that
    # scan as ONE task (row groups are the split-assignment unit); a
    # ~free re-spread restores parallelism for the expression-heavy text
    # pipelines and is a no-op at scale. Safe: every documents consumer
    # is partitioning-invariant (row-local maps, md5-derived hashes,
    # integer aggregates, windows with total-order tie-breaks).
    from headson_spark.session import read_widened
    return read_widened(spark, f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    # same widening rationale as _docs; every embeddings consumer is
    # partitioning-invariant (row-local signatures, exact arg-min
    # assignment, orderBy with (cosine, vec_id) total order)
    from headson_spark.session import read_widened
    return read_widened(spark, f"{sf_dir}/embeddings.parquet")


_IVF_INDEX_CACHE: dict = {}


def _ivf_index(spark, sf_dir):
    """Memoized materialized IVF assignment (index-once-query-many): the
    first call builds + caches the vec_id -> centroid_id table; later
    queries against the same sf_dir reuse it. In deployment this is a
    parquet/Iceberg table partitioned BY centroid_id (partition-pruned
    probe reads); .cache() is its in-session stand-in.

    Keyed by applicationId (stable, unique per SparkContext lifetime) —
    id() can be reused by CPython after GC, which could hand back a
    DataFrame bound to a stopped context."""
    key = (spark.sparkContext.applicationId, sf_dir)
    a = _IVF_INDEX_CACHE.get(key)
    if a is None:
        from headson_spark.operators import similarity
        a = similarity.ivf_assign(_emb(spark, sf_dir),
                                  stride=IVF_STRIDE).cache()
        a.count()  # materialize eagerly so queries measure probe cost
        _IVF_INDEX_CACHE[key] = a
    return a


# ---------------------------------------------------------------------------
# entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: budgeted per-conversation previews at sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    return conversation_previews(_t(spark, sf_dir), budget=500,
                                 style="default")


# ---------------------------------------------------------------------------
# queries


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # --- transcript assembly + windows (SURVEY §2.6) ---
    def conv_assemble(spark, sf_dir):
        return (_t(spark, sf_dir)
                .groupBy("conv_id")
                .agg(F.count("*").cast("bigint").alias("n_turns"),
                     F.max("turn_idx").cast("int").alias("max_turn"),
                     F.sum(F.length("text")).cast("bigint")
                      .alias("n_chars")))
    q["conv_assemble"] = conv_assemble

    # the samplers select by position, as the preview plans do: the
    # transcript's turn_idx is the event ordinal, so turn_ord = turn_idx
    def head_cap(spark, sf_dir):
        keep = sampling.kept_position_filter("head", HEAD_TAIL_CAP)
        return (_t(spark, sf_dir).filter(keep)
                .select("conv_id", "turn_idx",
                        F.col("turn_idx").alias("turn_ord")))
    q["head_cap"] = head_cap

    def tail_cap(spark, sf_dir):
        t = _t(spark, sf_dir)
        return (sampling.kept_turns(t, sampling.conv_totals(t), "tail",
                                    HEAD_TAIL_CAP)
                .select("conv_id", "turn_idx"))
    q["tail_cap"] = tail_cap

    def default_sample(spark, sf_dir):
        keep = sampling.kept_position_filter("balanced", CAP)
        return (_t(spark, sf_dir).filter(keep)
                .select("conv_id", "turn_idx",
                        F.col("turn_idx").alias("turn_ord")))
    q["default_sample"] = default_sample

    def omission_counts(spark, sf_dir):
        return (_t(spark, sf_dir).groupBy("conv_id")
                .agg(F.count("*").alias("total"))
                .select("conv_id",
                        F.least(F.col("total"), F.lit(CAP))
                         .cast("bigint").alias("kept"),
                        F.greatest(F.col("total") - CAP, F.lit(0))
                         .cast("bigint").alias("omitted")))
    q["omission_counts"] = omission_counts

    def dedup_lww(spark, sf_dir):
        from pyspark.sql import Window
        # not widened: the window's own exchange immediately follows the
        # scan (see transcripts_from_events — measured regression)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.desc("ts"), F.desc("event_id"))
        return (ev.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1)
                  .select("user_id", "event_type", "event_id",
                          F.round("value", 4).alias("value")))
    q["dedup_lww"] = dedup_lww

    # --- kernel queries (rows-only checks: not SQL-expressible) ---
    def conv_preview(spark, sf_dir):
        return conversation_previews(_t(spark, sf_dir), budget=500,
                                     style="default")
    q["conv_preview"] = conv_preview

    def conv_preview_strict(spark, sf_dir):
        return conversation_previews(_t(spark, sf_dir), budget=300,
                                     style="strict")
    q["conv_preview_strict"] = conv_preview_strict

    def conv_preview_tail(spark, sf_dir):
        return conversation_previews(_t(spark, sf_dir), budget=400,
                                     style="detailed", skew="tail")
    q["conv_preview_tail"] = conv_preview_tail

    # (conv_preview_full — the full-shuffle A/B twin — left out of the
    # registry: pushdown==full equality is pytest-covered
    # (test_preview_pushdown.py) and its wall time is benched as
    # conv_preview_1m_fullshuffle; the registry stays <=50 entries so the
    # driver records a row for every entry.)

    def conv_preview_yaml(spark, sf_dir):
        return conversation_previews(_t(spark, sf_dir), budget=400,
                                     style="default", fmt="yaml")
    q["conv_preview_yaml"] = conv_preview_yaml

    def conv_preview_meta(spark, sf_dir):
        # the flagship pipeline's NUMERIC envelope, driver-oracled: the
        # preview string itself is kernel-only (snapshot-checked), but
        # n_turns / n_chars flow through the same mapInPandas kernel and
        # are SQL-computable — this row pins the full pipeline's
        # bookkeeping against DuckDB, not just pytest
        return (conversation_previews(_t(spark, sf_dir), budget=500,
                                      style="default")
                .select("conv_id",
                        F.col("n_turns").cast("int").alias("n_turns"),
                        F.col("n_chars").cast("bigint").alias("n_chars")))
    q["conv_preview_meta"] = conv_preview_meta

    # --- relational core: agg / join / window / set ops ---
    def agg_pricing(spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (li.groupBy("l_returnflag", "l_linestatus")
                .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                     F.round(F.sum("l_extendedprice"), 2)
                      .alias("sum_base_price"),
                     F.round(F.sum(F.col("l_extendedprice")
                                   * (1 - F.col("l_discount"))), 2)
                      .alias("sum_disc_price"),
                     F.count("*").cast("bigint").alias("count_order")))
    q["agg_pricing"] = agg_pricing

    def join_top_customers(spark, sf_dir):
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        return (o.join(F.broadcast(c),
                       o.o_custkey == c.c_custkey)
                .groupBy("c_custkey", "c_name")
                .agg(F.count("*").cast("bigint").alias("n_orders"),
                     F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
                .orderBy(F.desc("n_orders"), F.desc("total_spent"),
                         F.col("c_custkey"))
                .limit(10))
    q["join_top_customers"] = join_top_customers

    def window_latest_order(spark, sf_dir):
        from pyspark.sql import Window
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        w = Window.partitionBy("o_custkey").orderBy(
            F.desc("o_orderdate"), F.desc("o_orderkey"))
        return (o.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("o_custkey", "o_orderkey",
                        F.round("o_totalprice", 2).alias("o_totalprice")))
    q["window_latest_order"] = window_latest_order

    def set_ops(spark, sf_dir):
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        with_orders = (c.select("c_custkey")
                       .intersect(o.select(F.col("o_custkey")
                                           .alias("c_custkey"))))
        without = c.select("c_custkey").distinct().exceptAll(with_orders)
        return (with_orders.agg(F.count("*").cast("bigint")
                                .alias("with_orders"))
                .crossJoin(without.agg(F.count("*").cast("bigint")
                                       .alias("without_orders"))))
    q["set_ops"] = set_ops

    def semi_join(spark, sf_dir):
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
                .select("c_custkey", "c_name"))
    q["semi_join"] = semi_join

    def anti_join(spark, sf_dir):
        """Customers with no large order (> BIG_ORDER_MIN). Every customer
        has *some* order in the synthetic data, so the unfiltered anti-join
        is vacuously empty; the price predicate keeps the anti-join
        semantics under test and returns rows at every scale."""
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > BIG_ORDER_MIN)
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
                .select("c_custkey", "c_name"))
    q["anti_join"] = anti_join

    def asof_latest_event(spark, sf_dir):
        """Forward as-of join: for each order, the user's FIRST event at
        or after the order date (pandas merge_asof direction='forward').
        Forward direction because the synthetic event timestamps (2024)
        all post-date the order dates (1995-2001) — the backward variant
        is vacuously empty.

        Round 6 (guide §2.3 "aggregate before you shuffle"): the row_
        number window shuffled + sorted the FULL range-join output
        (~15 rows per order at sf1.0) across millions of one-order
        partitions; min(struct(ts, event_id, ...)) computes the same
        winner — lexicographic struct min == ORDER BY ts ASC, event_id
        ASC tie-break, and (ts, event_id) is unique so trailing fields
        never drive the comparison — with MAP-SIDE partial aggregation:
        the exchange carries one row per order instead of the whole
        join output, and the per-partition sort disappears. All
        compared fields are timestamps/ints (no float ordering), so the
        result is identical row-for-row (oracle-hash green).
        5.9 s -> 1.5 s at sf1.0."""
        from headson_spark.session import read_widened
        # widen both single-row-group scans: the broadcast join keeps
        # the stream side's partitioning, so an unwidened scan runs the
        # whole range-join fan-out + partial aggregation on ONE task.
        # Partition-safe: min/max(struct(...)) over timestamps/ints is
        # an exact associative-commutative aggregate.
        o = read_widened(spark, f"{sf_dir}/orders.parquet")
        ev = read_widened(spark, f"{sf_dir}/events.parquet")
        j = (o.join(ev, (o.o_custkey == ev.user_id)
                    & (ev.ts >= F.col("o_orderdate").cast("timestamp")))
             .select("o_orderkey", "o_custkey", "event_id", "ts",
                     "event_type"))
        return (j.groupBy("o_orderkey", "o_custkey")
                .agg(F.min(F.struct(
                    F.col("ts").alias("t"),
                    F.col("event_id").alias("e"),
                    F.col("event_type").alias("y"))).alias("_m"))
                .select("o_orderkey", "o_custkey",
                        F.col("_m.e").alias("event_id"),
                        F.col("_m.y").alias("event_type")))
    q["asof_latest_event"] = asof_latest_event

    def rollup_pricing(spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (li.rollup("l_returnflag", "l_linestatus")
                .agg(F.count("*").cast("bigint").alias("n"),
                     F.round(F.sum("l_quantity"), 2).alias("sum_qty")))
    q["rollup_pricing"] = rollup_pricing

    def asof_backward(spark, sf_dir):
        """Backward as-of join (merge_asof direction='backward'): for
        each event, the user's LATEST order at or before the event time.
        Non-vacuous in this corpus because every order (1995-2001)
        precedes every event (2024). Tie-break: latest date, then
        highest key.

        Round 6: same argmax-by-struct rewrite as asof_latest_event —
        max(struct(o_orderdate, o_orderkey)) == ORDER BY o_orderdate
        DESC, o_orderkey DESC winner (unique key => deterministic; all
        compared fields date/int, no float ordering), with map-side
        partial aggregation replacing the million-partition window
        sort. Every event joins ~all of its user's prior orders, so the
        pre-aggregate collapse is ~15x fewer shuffled rows at sf1.0 and
        grows with order history at scale. 11.5 s -> 2.7 s at sf1.0."""
        from headson_spark.session import read_widened
        # widened for the same stream-side-parallelism reason as
        # asof_latest_event above
        o = read_widened(spark, f"{sf_dir}/orders.parquet")
        ev = read_widened(spark, f"{sf_dir}/events.parquet")
        j = (ev.join(o, (ev.user_id == o.o_custkey)
                     & (F.col("o_orderdate").cast("timestamp") <= ev.ts))
             .select("event_id", "user_id", "o_orderkey", "o_orderdate"))
        return (j.groupBy("event_id", "user_id")
                .agg(F.max(F.struct(
                    F.col("o_orderdate").alias("d"),
                    F.col("o_orderkey").alias("k"))).alias("_m"))
                .select("event_id", "user_id",
                        F.col("_m.k").alias("o_orderkey"),
                        F.col("_m.d").cast("string")
                         .alias("o_orderdate")))
    q["asof_backward"] = asof_backward

    def cube_pricing(spark, sf_dir):
        # CUBE completes the grouping-sets family next to rollup_pricing
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (li.cube("l_returnflag", "l_linestatus")
                .agg(F.count("*").cast("bigint").alias("n"),
                     F.round(F.sum("l_quantity"), 2).alias("sum_qty")))
    q["cube_pricing"] = cube_pricing

    def range_band_join(spark, sf_dir):
        p = spark.read.parquet(f"{sf_dir}/part.parquet")
        bands = spark.createDataFrame(
            [("low", 0.0, 500.0), ("mid", 500.0, 1200.0),
             ("high", 1200.0, 1e9)],
            "band string, lo double, hi double")
        return (p.join(F.broadcast(bands),
                       (p.p_retailprice >= bands.lo)
                       & (p.p_retailprice < bands.hi))
                .groupBy("band")
                .agg(F.count("*").cast("bigint").alias("n_parts"),
                     F.round(F.avg("p_retailprice"), 4)
                      .alias("avg_price")))
    q["range_band_join"] = range_band_join

    def price_percentiles(spark, sf_dir):
        """Round 6 split (was 13.8 s at sf1.0, the slowest registry
        row): stddev_pop merges are order-DEPENDENT floats, so its
        subtree keeps the original unwidened scan + aggregation tree
        (bit-identical partials); the exact percentiles are order-
        INDEPENDENT (value->count map, sorted before interpolation), so
        that subtree widens the single-row-group scan AND fuses both
        quantiles into one percentile(col, array(0.5, 0.95)) buffer —
        the two scalar percentile() calls each ingested the full column
        into their own value map. Joined back on the 3-row group key,
        null-safely, because groupBy keeps a NULL l_returnflag group;
        identical output (oracle-hash green). 13.8 s -> 3.1 s."""
        from headson_spark.session import read_widened
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        std = (li.groupBy("l_returnflag")
               .agg(F.round(F.stddev_pop("l_extendedprice"), 4)
                    .alias("stddev")))
        li_w = read_widened(spark, f"{sf_dir}/lineitem.parquet")
        pct = (li_w.groupBy("l_returnflag")
               .agg(F.expr("percentile(l_extendedprice, "
                           "array(0.5D, 0.95D))").alias("_p")))
        return (pct.join(std, pct.l_returnflag.eqNullSafe(
                             std.l_returnflag))
                .select(pct.l_returnflag,
                        F.round(F.col("_p")[0], 4).alias("p50"),
                        F.round(F.col("_p")[1], 4).alias("p95"),
                        "stddev"))
    q["price_percentiles"] = price_percentiles

    def event_time_buckets(spark, sf_dir):
        """Tumbling 15-minute event-time windows, batch form (the
        streaming variant lives in streaming/windows.py)."""
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        bucket = (F.floor(F.unix_timestamp("ts") / 900) * 900
                  ).cast("bigint")
        return (ev.groupBy(bucket.alias("bucket_start"),
                           F.col("event_type"))
                .agg(F.count("*").cast("bigint").alias("n"),
                     F.round(F.sum("value"), 4).alias("sum_value")))
    q["event_time_buckets"] = event_time_buckets

    # --- dedup family (documents) ---
    def dedup_exact(spark, sf_dir):
        d = _docs(spark, sf_dir)
        planted = (d.filter(F.col("doc_id") % PLANT_MOD_DOCS == 0)
                    .withColumn("doc_id",
                                F.col("doc_id") + F.lit(PLANT_OFFSET)))
        return dedup.exact_duplicate_groups(d.unionByName(planted))
    q["dedup_exact"] = dedup_exact

    # (dedup_prefix — retired round 5 under the 50-entry registry cap:
    # its logic — normalized-hash groupBy — is a strict subset of
    # dedup_exact + rolling_fp/fingerprint, both still oracled. The slot
    # funds conv_preview_meta, which driver-checks the flagship preview
    # pipeline's numeric envelope.)

    # (minhash_sig — the raw signature intermediate — left out of the
    # registry: the same minhash pipeline is exercised end-to-end by
    # lsh_pairs/near_dup_clusters and unit-tested in test_dedup_clusters;
    # registry kept <=50 entries, see conv_preview_full note.)

    def lsh_pairs(spark, sf_dir):
        d = _docs(spark, sf_dir)
        return dedup.lsh_candidate_pairs(d, n_hashes=N_HASHES, bands=BANDS,
                                         shingle_k=MINHASH_W)
    q["lsh_pairs"] = lsh_pairs

    def near_dup_clusters(spark, sf_dir):
        """Connected components over the LSH candidate graph (HashMin
        label propagation); oracle = recursive min-label reachability."""
        return dedup.near_dup_clusters(_docs(spark, sf_dir),
                                       n_hashes=N_HASHES, bands=BANDS,
                                       shingle_k=MINHASH_W)
    q["near_dup_clusters"] = near_dup_clusters

    def stratified_sample_q(spark, sf_dir):
        return (sampling.stratified_sample(_docs(spark, sf_dir),
                                           STRATA_FRACTIONS,
                                           default_frac=STRATA_DEFAULT)
                .select("doc_id", "lang"))
    q["stratified_sample"] = stratified_sample_q

    def chunk_text_q(spark, sf_dir):
        # training-example assembly: overlapping token windows (size 32,
        # stride 24) over every document — pure JVM chunker, zero Exchange
        from headson_spark.operators.packing import chunk_text
        return chunk_text(_docs(spark, sf_dir), size=CHUNK_SIZE,
                          stride=CHUNK_STRIDE)
    q["chunk_text"] = chunk_text_q

    def ngram_jaccard(spark, sf_dir):
        d = _docs(spark, sf_dir)
        pairs = d.select(F.col("doc_id").alias("id_a"),
                         (F.col("doc_id") + 1).alias("id_b")) \
                 .filter(F.col("id_a") % 7 == 0)
        return dedup.ngram_jaccard_pairs(d, pairs, shingle_k=SHINGLE_K)
    q["ngram_jaccard"] = ngram_jaccard

    def simhash16(spark, sf_dir):
        return dedup.simhash(_docs(spark, sf_dir), bits=SIMHASH_BITS)
    q["simhash16"] = simhash16

    # --- text analysis (documents) ---
    def token_counts(spark, sf_dir):
        return text_stats.token_counts(_docs(spark, sf_dir))
    q["token_counts"] = token_counts

    def top_terms(spark, sf_dir):
        return text_stats.top_terms(_docs(spark, sf_dir), k=3)
    q["top_terms"] = top_terms

    def lang_id(spark, sf_dir):
        return text_stats.language_id(_docs(spark, sf_dir))
    q["lang_id"] = lang_id

    def quality(spark, sf_dir):
        return text_stats.quality_scores(_docs(spark, sf_dir))
    q["quality"] = quality

    def fingerprint(spark, sf_dir):
        return text_stats.fingerprints(_docs(spark, sf_dir))
    q["fingerprint"] = fingerprint

    def pii_mask(spark, sf_dir):
        return text_stats.pii_mask(_docs(spark, sf_dir))
    q["pii_mask"] = pii_mask

    def repetition(spark, sf_dir):
        return text_stats.repetition_ratio(_docs(spark, sf_dir))
    q["repetition"] = repetition

    # --- similarity search (embeddings) ---
    def ann_cosine_topk(spark, sf_dir):
        return similarity.brute_force_cosine_topk(
            _emb(spark, sf_dir), QUERY_VEC, k=ANN_K)
    q["ann_cosine_topk"] = ann_cosine_topk

    def ann_lsh_buckets(spark, sf_dir):
        return similarity.lsh_buckets(_emb(spark, sf_dir), dim=EMB_DIM,
                                      n_planes=LSH_PLANES)
    q["ann_lsh_buckets"] = ann_lsh_buckets

    # (emb_near_dup — the single-band variant — retired round 5 under
    # the 50-entry cap: emb_near_dup_banded is the same operator in its
    # scale configuration (banded = single-band when n_bands=1) and
    # emb_near_dup_clusters builds on it; the unbanded path stays
    # pytest-covered (test_similarity.py). The slot funds chunk_text,
    # promoting the training-example chunker into the driver record.)

    def emb_near_dup_banded(spark, sf_dir):
        # the scale configuration: same total plane family split into 2
        # bands of 3 — candidates collide in ANY band (higher recall,
        # bounded per-band bucket width); verification stays exact
        e = _emb(spark, sf_dir)
        planted = (e.filter(F.col("vec_id") % PLANT_MOD_EMB == 0)
                    .withColumn("vec_id",
                                F.col("vec_id") + F.lit(PLANT_OFFSET)))
        return similarity.embedding_near_dup_pairs(
            e.unionByName(planted), threshold=0.6, dim=EMB_DIM,
            n_planes=LSH_PLANES // 2, n_bands=2)
    q["emb_near_dup_banded"] = emb_near_dup_banded

    def emb_near_dup_clusters(spark, sf_dir):
        # the dedup composition at scale: banded-blocked verified pairs
        # -> HashMin connected components -> keep-one-per-cluster label
        from headson_spark.operators.dedup import hashmin_components
        e = _emb(spark, sf_dir)
        planted = (e.filter(F.col("vec_id") % PLANT_MOD_EMB == 0)
                    .withColumn("vec_id",
                                F.col("vec_id") + F.lit(PLANT_OFFSET)))
        e2 = e.unionByName(planted)
        pairs = similarity.embedding_near_dup_pairs(
            e2, threshold=0.6, dim=EMB_DIM,
            n_planes=LSH_PLANES // 2, n_bands=2)
        labels = hashmin_components(pairs)
        return (e2.select("vec_id")
                .join(labels.withColumnRenamed("node", "vec_id"),
                      "vec_id", "left")
                .select(F.col("vec_id").cast("bigint").alias("vec_id"),
                        F.coalesce("lbl", F.col("vec_id"))
                         .cast("bigint").alias("cluster_id")))
    q["emb_near_dup_clusters"] = emb_near_dup_clusters

    def rolling_fp(spark, sf_dir):
        return text_stats.rolling_fingerprint(_docs(spark, sf_dir))
    q["rolling_fp"] = rolling_fp

    def decontam(spark, sf_dir):
        # deterministic stand-in eval set: every 10th document (eval
        # members are trivially contaminated by themselves, so the check
        # is non-vacuous at every SF)
        d = _docs(spark, sf_dir)
        ev = d.filter(F.col("doc_id") % DECONTAM_MOD == 0)
        return dedup.contamination_check(d, ev, n=DECONTAM_N)
    q["decontam"] = decontam

    # --- multimodal: REAL PPM decode path, DuckDB-oracled ---
    def multimodal_features(spark, sf_dir):
        from headson_spark.operators.multimodal import (image_channel_stats,
                                                        synth_ppm_media)
        media = synth_ppm_media(_docs(spark, sf_dir))
        return image_channel_stats(media)
    q["multimodal_features"] = multimodal_features

    # REAL WAV (RIFF PCM16) decode path: synthesized fixed-geometry
    # payloads -> hand-written chunk parser -> exact amplitude stats.
    # Replaces the round-3 stub-featurizer registry slot (the stub is
    # removed) — same payload-from-text construction, but the decode step
    # is real for audio, like the PPM path is for images.
    def multimodal_audio_stats(spark, sf_dir):
        from headson_spark.operators.multimodal import (audio_stats,
                                                        synth_wav_media)
        media = synth_wav_media(_docs(spark, sf_dir))
        return audio_stats(media)
    q["multimodal_audio_stats"] = multimodal_audio_stats

    def ivf_assign(spark, sf_dir):
        return similarity.ivf_assign(_emb(spark, sf_dir),
                                     stride=IVF_STRIDE)
    q["ivf_assign"] = ivf_assign

    def ivf_topk(spark, sf_dir):
        return similarity.ivf_topk(_emb(spark, sf_dir), QUERY_VEC,
                                   k=ANN_K, n_probe=IVF_PROBES,
                                   stride=IVF_STRIDE)
    q["ivf_topk"] = ivf_topk

    def ivf_topk_indexed(spark, sf_dir):
        # the deployment pattern: index once (materialized + partitioned
        # by centroid_id), query many. The memoized assignment stands in
        # for the materialized table; the per-query cost is then just
        # probe-selection + the pruned-list re-rank.
        return similarity.ivf_topk(_emb(spark, sf_dir), QUERY_VEC,
                                   k=ANN_K, n_probe=IVF_PROBES,
                                   stride=IVF_STRIDE,
                                   assignment=_ivf_index(spark, sf_dir))
    q["ivf_topk_indexed"] = ivf_topk_indexed

    def corpus_digest_q(spark, sf_dir):
        from headson_spark.operators.digest import corpus_digest
        d = corpus_digest(_t(spark, sf_dir), character_budget=2000)
        return spark.createDataFrame([(d, len(d.encode("utf-8")))],
                                     "digest string, digest_bytes int")
    q["corpus_digest"] = corpus_digest_q

    return q


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; views: region nation customer supplier part
# orders lineitem events documents embeddings)


def oracle_sql() -> dict[str, str]:
    from headson_spark.operators.dedup import (MINHASH_P, minhash_params)
    toks = ("list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
            "x -> x != '')")
    norm = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
    shingles = (f"list_distinct([substr({norm}, i, {SHINGLE_K}) "
                f"for i in range(1, greatest(length({norm}) - "
                f"{SHINGLE_K - 1}, 1) + 1)])")
    word_sh = (f"list_distinct([array_to_string(list_slice({toks}, i, "
               f"i + {MINHASH_W - 1}), ' ') for i in range(1, "
               f"greatest(len({toks}) - {MINHASH_W - 1}, 1) + 1)])")
    sh_ints = (f"list_transform({word_sh}, s -> "
               f"CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) "
               f"% {MINHASH_P})")
    _params = minhash_params(N_HASHES)

    def minhash(j):
        a, b = _params[j]
        return (f"list_aggregate(list_transform({sh_ints}, "
                f"x -> (x * {a} + {b}) % {MINHASH_P}), 'min')")

    qv = "[" + ",".join(f"CAST({x!r} AS DOUBLE)" for x in QUERY_VEC) + "]"
    qnorm = sum(float(x) * x for x in QUERY_VEC) ** 0.5

    sql: dict[str, str] = {}

    sql["conv_assemble"] = f"""
        WITH t AS ({_TRANSCRIPT_SQL})
        SELECT conv_id, COUNT(*) AS n_turns,
               MAX(turn_idx) AS max_turn,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
        FROM t GROUP BY conv_id
    """

    # transcripts from events have one delivery per (conv, turn) by
    # construction (turn_idx = ROW_NUMBER ordinal), so the preview
    # pipeline's LWW merge is the identity and its envelope reduces to
    # per-conversation count + char totals
    sql["conv_preview_meta"] = f"""
        WITH t AS ({_TRANSCRIPT_SQL})
        SELECT conv_id, CAST(COUNT(*) AS INT) AS n_turns,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
        FROM t GROUP BY conv_id
    """

    sql["chunk_text"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               t -> t != '') AS tk
            FROM documents),
        starts AS (
            SELECT doc_id, tk, len(tk) AS n,
                   unnest(range(0, greatest(len(tk), 1), {CHUNK_STRIDE}))
                       AS start_tok
            FROM toks)
        SELECT doc_id,
               CAST(start_tok / {CHUNK_STRIDE} AS INT) AS chunk_idx,
               CAST(start_tok AS INT) AS start_tok,
               CAST(least(n - start_tok, {CHUNK_SIZE}) AS INT) AS n_tokens,
               COALESCE(list_aggregate(
                   tk[start_tok + 1 : start_tok + {CHUNK_SIZE}],
                   'string_agg', ' '), '') AS chunk
        FROM starts
    """

    sql["head_cap"] = f"""
        WITH t AS ({_TRANSCRIPT_SQL})
        SELECT conv_id, turn_idx, turn_idx AS turn_ord
        FROM t WHERE turn_idx < {HEAD_TAIL_CAP}
    """

    sql["tail_cap"] = f"""
        WITH t AS ({_TRANSCRIPT_SQL}),
        n AS (SELECT conv_id, COUNT(*) AS total FROM t GROUP BY conv_id)
        SELECT t.conv_id, t.turn_idx
        FROM t JOIN n ON t.conv_id = n.conv_id
        WHERE t.turn_idx >= n.total - {HEAD_TAIL_CAP}
    """

    sql["default_sample"] = f"""
        WITH t AS ({_TRANSCRIPT_SQL})
        SELECT conv_id, turn_idx, turn_idx AS turn_ord
        FROM t WHERE turn_idx IN ({DEFAULT_KEPT_SQL})
    """

    sql["omission_counts"] = f"""
        WITH t AS ({_TRANSCRIPT_SQL})
        SELECT conv_id,
               LEAST(COUNT(*), {CAP}) AS kept,
               GREATEST(COUNT(*) - {CAP}, 0) AS omitted
        FROM t GROUP BY conv_id
    """

    sql["dedup_lww"] = """
        SELECT user_id, event_type, event_id, ROUND(value, 4) AS value
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY user_id, event_type
                  ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) WHERE rn = 1
    """

    sql["agg_pricing"] = """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                   AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """

    sql["join_top_customers"] = """
        SELECT c_custkey, c_name, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_spent
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
        ORDER BY n_orders DESC, total_spent DESC, c_custkey
        LIMIT 10
    """

    sql["window_latest_order"] = """
        SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders) WHERE rn = 1
    """

    sql["set_ops"] = """
        WITH w AS (SELECT DISTINCT c_custkey FROM customer
                   INTERSECT SELECT DISTINCT o_custkey FROM orders)
        SELECT (SELECT COUNT(*) FROM w) AS with_orders,
               (SELECT COUNT(*) FROM
                   (SELECT DISTINCT c_custkey FROM customer
                    EXCEPT SELECT c_custkey FROM w)) AS without_orders
    """

    sql["semi_join"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """

    sql["anti_join"] = f"""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                WHERE o_totalprice > {BIG_ORDER_MIN})
    """

    sql["asof_latest_event"] = """
        SELECT o_orderkey, o_custkey, event_id, event_type
        FROM (SELECT o.o_orderkey, o.o_custkey, e.event_id, e.event_type,
                     ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
                         ORDER BY e.ts ASC, e.event_id ASC) AS rn
              FROM orders o JOIN events e
                ON o.o_custkey = e.user_id
               AND e.ts >= CAST(o.o_orderdate AS TIMESTAMP))
        WHERE rn = 1
    """

    sql["rollup_pricing"] = """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """

    sql["cube_pricing"] = """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """

    sql["asof_backward"] = """
        SELECT event_id, user_id, o_orderkey,
               CAST(o_orderdate AS VARCHAR) AS o_orderdate
        FROM (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
                     ROW_NUMBER() OVER (PARTITION BY e.event_id
                         ORDER BY o.o_orderdate DESC,
                                  o.o_orderkey DESC) AS rn
              FROM events e JOIN orders o
                ON e.user_id = o.o_custkey
               AND CAST(o.o_orderdate AS TIMESTAMP) <= e.ts)
        WHERE rn = 1
    """

    sql["range_band_join"] = """
        WITH bands(band, lo, hi) AS (VALUES
            ('low', 0.0, 500.0), ('mid', 500.0, 1200.0),
            ('high', 1200.0, 1000000000.0))
        SELECT band, COUNT(*) AS n_parts,
               ROUND(AVG(p_retailprice), 4) AS avg_price
        FROM part JOIN bands
          ON p_retailprice >= lo AND p_retailprice < hi
        GROUP BY band
    """

    sql["price_percentiles"] = """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
               ROUND(stddev_pop(l_extendedprice), 4) AS stddev
        FROM lineitem GROUP BY l_returnflag
    """

    sql["event_time_buckets"] = """
        SELECT CAST(FLOOR(EPOCH(ts) / 900) * 900 AS BIGINT)
                   AS bucket_start,
               event_type, COUNT(*) AS n,
               ROUND(SUM(value), 4) AS sum_value
        FROM events GROUP BY 1, 2
    """

    sql["dedup_exact"] = f"""
        WITH docs2 AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {PLANT_OFFSET} AS doc_id, text
            FROM documents WHERE doc_id % {PLANT_MOD_DOCS} = 0)
        SELECT md5({norm}) AS content_hash, COUNT(*) AS n_docs,
               MIN(doc_id) AS keep_id
        FROM docs2 GROUP BY 1 HAVING COUNT(*) > 1
    """

    # (sql["dedup_prefix"] retired with its query — see queries().)

    rows = N_HASHES // BANDS
    band_exprs = []
    for b in range(BANDS):
        parts = " || '|' || ".join(
            f"CAST(({minhash(b * rows + r)}) AS VARCHAR)"
            for r in range(rows))
        band_exprs.append(f"md5({parts}) AS band{b}")
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, band{b} AS band_hash FROM sig"
        for b in range(BANDS))
    sql["lsh_pairs"] = f"""
        WITH sig AS (SELECT doc_id, {', '.join(band_exprs)} FROM documents),
        stacked AS ({band_union})
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM stacked a JOIN stacked b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
        WHERE a.doc_id < b.doc_id
    """

    sql["near_dup_clusters"] = f"""
        WITH RECURSIVE
        sig AS (SELECT doc_id, {', '.join(band_exprs)} FROM documents),
        stacked AS ({band_union}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM stacked a JOIN stacked b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
            WHERE a.doc_id < b.doc_id),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL
                  SELECT id_b AS src, id_a AS dst FROM pairs),
        reach(node, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e
              ON e.src = r.node),
        cc AS (SELECT node, MIN(lbl) AS cluster_id FROM reach
               GROUP BY node)
        SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    """

    strata_case = "CASE"
    for k in sorted(STRATA_FRACTIONS):
        strata_case += (f" WHEN lang = '{k}' THEN "
                        f"CAST({STRATA_FRACTIONS[k]!r} AS DOUBLE)")
    strata_case += f" ELSE CAST({STRATA_DEFAULT!r} AS DOUBLE) END"
    sql["stratified_sample"] = f"""
        SELECT doc_id, lang FROM documents
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              / 1152921504606846976.0 < {strata_case}
    """

    sql["ngram_jaccard"] = f"""
        WITH sh AS (SELECT doc_id, {shingles} AS sh FROM documents),
        pairs AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
                  WHERE doc_id % 7 = 0)
        SELECT p.id_a, p.id_b,
               ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh))), 6)
                   AS jaccard
        FROM pairs p JOIN sh a ON p.id_a = a.doc_id
                     JOIN sh b ON p.id_b = b.doc_id
    """

    sql["simhash16"] = f"""
        WITH toks AS (
            SELECT doc_id, unnest({toks}) AS tok FROM documents),
        votes AS (
            SELECT doc_id, p.range AS p,
                   SUM(CASE WHEN ((strpos('0123456789abcdef',
                            substr(md5(tok), CAST(p.range // 4 AS INT) + 1,
                                   1)) - 1)
                        >> (3 - CAST(p.range % 4 AS INT))) & 1 = 1
                       THEN 1 ELSE -1 END) AS v
            FROM toks, range({SIMHASH_BITS}) p GROUP BY 1, 2),
        packed AS (
            SELECT doc_id,
                   SUM(CASE WHEN v > 0 THEN 1 << CAST(p AS INT)
                       ELSE 0 END) AS simhash
            FROM votes GROUP BY doc_id)
        SELECT d.doc_id, CAST(COALESCE(p.simhash, 0) AS BIGINT) AS simhash
        FROM documents d LEFT JOIN packed p ON d.doc_id = p.doc_id
    """

    sql["token_counts"] = f"""
        SELECT doc_id, CAST(len({toks}) AS INT) AS n_tokens,
               CAST(COALESCE(list_sum(list_transform({toks},
                   t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), 0)
                   AS BIGINT) AS n_subwords
        FROM documents
    """

    # top_terms: parenthesization mirrors the Spark expression exactly —
    # (tf * (N+1.0)) / (df+1.0) — so the score doubles are bit-identical
    sql["top_terms"] = f"""
        WITH tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
            GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_t,
                   (tf.tf * (n.n_docs + 1.0)) / (dfreq.df_t + 1.0)
                       AS score
            FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY score DESC, term ASC) AS rnk
            FROM scored)
        SELECT doc_id, term, tf, df_t, score, CAST(rnk AS INT) AS rank
        FROM ranked WHERE rnk <= 3
    """

    def hits(lang):
        from headson_spark.operators.text_stats import STOPWORDS
        words = ",".join(f"'{w}'" for w in STOPWORDS[lang])
        return (f"len(list_filter({toks}, "
                f"x -> list_contains([{words}], x)))")

    from headson_spark.operators.text_stats import LANGS, STOPWORDS
    hit_sel = ", ".join(f"{hits(lg)} AS hits_{lg}" for lg in LANGS)
    best = "GREATEST(" + ", ".join(f"hits_{lg}" for lg in LANGS) + ")"
    lang_case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lg} = {best} THEN '{lg}'" for lg in LANGS) + " END"
    sql["lang_id"] = f"""
        WITH h AS (SELECT doc_id, {hit_sel} FROM documents)
        SELECT doc_id, {lang_case} AS lang_pred,
               {best} AS stopword_hits
        FROM h
    """

    all_stops = ",".join(f"'{w}'" for ws in STOPWORDS.values() for w in ws)
    sql["quality"] = f"""
        SELECT doc_id,
               ROUND(0.5 * (LENGTH(regexp_replace(text, '[^A-Za-z]', '',
                                                  'g'))
                            / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE))
                   + 0.3 * (len(list_filter({toks},
                                x -> list_contains([{all_stops}], x)))
                            / CAST(GREATEST(len({toks}), 1) AS DOUBLE))
                   + 0.2 * LEAST(LENGTH(text) / 500.0, 1.0), 4) AS quality
        FROM documents
    """

    sql["fingerprint"] = f"""
        SELECT doc_id, md5({norm}) AS fingerprint,
               LENGTH({norm}) AS norm_len
        FROM documents
    """

    # decontamination: identical word n-grams (distinct within doc,
    # empty gram filtered), distinct eval grams, per-doc overlap count
    _dec_grams = (f"list_filter(list_distinct([array_to_string("
                  f"list_slice({toks}, i, i + {DECONTAM_N - 1}), ' ') "
                  f"for i in range(1, greatest(len({toks}) - "
                  f"{DECONTAM_N - 1}, 1) + 1)]), x -> x != '')")
    sql["decontam"] = f"""
        WITH grams AS (
            SELECT doc_id, unnest({_dec_grams}) AS gram FROM documents),
        eval_grams AS (
            SELECT DISTINCT gram FROM grams
            WHERE doc_id % {DECONTAM_MOD} = 0),
        hits AS (
            SELECT g.doc_id, COUNT(*) AS n_overlap
            FROM grams g JOIN eval_grams e USING (gram)
            GROUP BY g.doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
               COALESCE(h.n_overlap, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    """

    # rolling-hash fingerprint: identical left-fold polynomial hash.
    # DuckDB's list_reduce has no initial accumulator, so 0 is prepended;
    # range(a, b) is exclusive-of-b (Python-style) = Spark sequence(1, n).
    from headson_spark.operators.text_stats import RH_BASE, RH_MOD
    _rh_fold = f"(acc, c) -> (acc * {RH_BASE} + c) % {RH_MOD}"
    _rh_codes = (f"[CAST(ascii(substr(n, i, 1)) AS BIGINT) "
                 f"for i in range(1, GREATEST(LENGTH(n), 1) + 1)]")
    sql["rolling_fp"] = f"""
        WITH staged AS (
            SELECT doc_id, {norm} AS n FROM documents),
        coded AS (
            SELECT doc_id, n, {_rh_codes} AS codes FROM staged)
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                           {_rh_fold}) AS doc_fp,
               list_aggregate(
                   [list_reduce(list_prepend(CAST(0 AS BIGINT),
                                             list_slice(codes, i, i + 15)),
                                {_rh_fold})
                    for i in range(1, GREATEST(len(codes) - 15, 1) + 1)],
                   'min') AS win_fp,
               CAST(LENGTH(n) AS INTEGER) AS norm_len
        FROM coded
    """

    from headson_spark.operators.text_stats import EMAIL_RE, PHONE_RE
    sql["pii_mask"] = f"""
        SELECT doc_id,
               regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>',
                              'g'), '{PHONE_RE}', '<PHONE>', 'g')
                   AS masked_text,
               CAST(len(regexp_extract_all(text, '{EMAIL_RE}', 0)) AS INT)
                   AS n_emails,
               LENGTH(regexp_replace(regexp_replace(text, '{EMAIL_RE}',
                      '<EMAIL>', 'g'), '{PHONE_RE}', '<PHONE>', 'g'))
                   AS masked_len
        FROM documents
    """

    tri = (f"list_transform(range(1, greatest(len({toks}) - 2, 1) + 1), "
           f"i -> array_to_string(list_slice({toks}, i, i + 2), ' '))")
    sql["repetition"] = f"""
        SELECT doc_id,
               ROUND(1.0 - len(list_distinct({tri}))
                     / CAST(GREATEST(len({tri}), 1) AS DOUBLE), 4)
                   AS rep_ratio
        FROM documents
    """

    sql["ann_cosine_topk"] = f"""
        WITH scored AS (
            SELECT vec_id,
                   ROUND(list_reduce(list_transform(
                             list_zip(embedding, {qv}),
                             x -> CAST(x[1] AS DOUBLE) * x[2]),
                             (a, b) -> a + b)
                         / (sqrt(list_reduce(list_transform(embedding,
                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                               (a, b) -> a + b)) * {qnorm!r}), 4) AS cosine
            FROM embeddings)
        SELECT vec_id, cosine FROM scored
        ORDER BY cosine DESC, vec_id LIMIT {ANN_K}
    """

    # IVF: identical strided centroids, arg-min L2 assignment (ties by
    # centroid id), probe the query's nearest lists, exact re-rank —
    # mirrors similarity.ivf_assign / ivf_topk
    def l2sq(a, b):
        return (f"list_reduce(list_transform(list_zip({a}, {b}), "
                f"x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * "
                f"(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), "
                f"(p, q) -> p + q)")

    _ivf_assign_cte = f"""
        cents AS (SELECT vec_id AS centroid_id, embedding AS cvec
                  FROM embeddings WHERE vec_id % {IVF_STRIDE} = 0),
        assign AS (
            SELECT vec_id, centroid_id FROM (
                SELECT e.vec_id, c.centroid_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {l2sq('e.embedding', 'c.cvec')},
                                    c.centroid_id) AS rn
                FROM embeddings e CROSS JOIN cents c)
            WHERE rn = 1)
    """

    sql["ivf_assign"] = f"""
        WITH {_ivf_assign_cte}
        SELECT vec_id, centroid_id FROM assign
    """

    sql["ivf_topk"] = f"""
        WITH {_ivf_assign_cte},
        probes AS (
            SELECT centroid_id FROM cents
            ORDER BY {l2sq('cvec', qv)}, centroid_id
            LIMIT {IVF_PROBES}),
        cand AS (
            SELECT e.vec_id, e.embedding
            FROM embeddings e
            JOIN assign a ON a.vec_id = e.vec_id
            JOIN probes p ON p.centroid_id = a.centroid_id),
        scored AS (
            SELECT vec_id,
                   ROUND(list_reduce(list_transform(
                             list_zip(embedding, {qv}),
                             x -> CAST(x[1] AS DOUBLE) * x[2]),
                             (a, b) -> a + b)
                         / (sqrt(list_reduce(list_transform(embedding,
                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                               (a, b) -> a + b)) * {qnorm!r}), 4) AS cosine
            FROM cand)
        SELECT vec_id, cosine FROM scored
        ORDER BY cosine DESC, vec_id LIMIT {ANN_K}
    """

    # the indexed variant answers with the same rows — the materialized
    # assignment only changes WHERE the index pass runs, not its result
    sql["ivf_topk_indexed"] = sql["ivf_topk"]

    planes = similarity.hyperplanes(EMB_DIM, LSH_PLANES)
    terms = []
    for p, plane in enumerate(planes):
        arr = "[" + ",".join(f"CAST({float(x)!r} AS DOUBLE)" for x in plane) \
            + "]"
        dot = (f"list_reduce(list_transform(list_zip(embedding, {arr}), "
               f"x -> CAST(x[1] AS DOUBLE) * x[2]), (a, b) -> a + b)")
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    sql["ann_lsh_buckets"] = f"""
        SELECT vec_id, CAST({' + '.join(terms)} AS BIGINT) AS bucket
        FROM embeddings
    """

    pair_dot = ("list_reduce(list_transform(list_zip(a.embedding, "
                "b.embedding), x -> CAST(x[1] AS DOUBLE) * "
                "CAST(x[2] AS DOUBLE)), (p, q) -> p + q)")

    def vnorm(side):
        return (f"sqrt(list_reduce(list_transform({side}.embedding, "
                f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
                f"(p, q) -> p + q))")

    # (sql["emb_near_dup"] retired with its query — see queries(); the
    # banded variant below covers the same pipeline.)

    # banded variant: same plane family split into 2 bands of 3; a pair
    # is a candidate if it collides in ANY band (UNION dedups), exact
    # verification unchanged — mirrors
    # similarity.embedding_near_dup_pairs(n_planes=3, n_bands=2)
    half = LSH_PLANES // 2
    band_sigs = []
    for band in range(2):
        bterms = []
        for p, plane in enumerate(planes[band * half:(band + 1) * half]):
            arr = "[" + ",".join(f"CAST({float(x)!r} AS DOUBLE)"
                                 for x in plane) + "]"
            bdot = (f"list_reduce(list_transform(list_zip(embedding, "
                    f"{arr}), x -> CAST(x[1] AS DOUBLE) * x[2]), "
                    f"(a, b) -> a + b)")
            bterms.append(f"(CASE WHEN {bdot} > 0 THEN {1 << p} ELSE 0 END)")
        band_sigs.append(" + ".join(bterms))

    sql["emb_near_dup_banded"] = f"""
        WITH emb2 AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + {PLANT_OFFSET} AS vec_id, embedding
            FROM embeddings WHERE vec_id % {PLANT_MOD_EMB} = 0),
        sig AS (
            SELECT vec_id, embedding,
                   CAST({band_sigs[0]} AS BIGINT) AS b0,
                   CAST({band_sigs[1]} AS BIGINT) AS b1
            FROM emb2),
        cand AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND({pair_dot} / ({vnorm('a')} * {vnorm('b')}), 4)
                       AS cosine
            FROM sig a JOIN sig b ON a.b0 = b.b0
            WHERE a.vec_id < b.vec_id
            UNION
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND({pair_dot} / ({vnorm('a')} * {vnorm('b')}), 4)
                       AS cosine
            FROM sig a JOIN sig b ON a.b1 = b.b1
            WHERE a.vec_id < b.vec_id)
        SELECT id_a, id_b, cosine FROM cand WHERE cosine >= 0.6
    """

    sql["emb_near_dup_clusters"] = f"""
        WITH RECURSIVE
        emb2 AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + {PLANT_OFFSET} AS vec_id, embedding
            FROM embeddings WHERE vec_id % {PLANT_MOD_EMB} = 0),
        sig AS (
            SELECT vec_id, embedding,
                   CAST({band_sigs[0]} AS BIGINT) AS b0,
                   CAST({band_sigs[1]} AS BIGINT) AS b1
            FROM emb2),
        cand AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND({pair_dot} / ({vnorm('a')} * {vnorm('b')}), 4)
                       AS cosine
            FROM sig a JOIN sig b ON a.b0 = b.b0
            WHERE a.vec_id < b.vec_id
            UNION
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND({pair_dot} / ({vnorm('a')} * {vnorm('b')}), 4)
                       AS cosine
            FROM sig a JOIN sig b ON a.b1 = b.b1
            WHERE a.vec_id < b.vec_id),
        pairs AS (SELECT id_a, id_b FROM cand WHERE cosine >= 0.6),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL
                  SELECT id_b AS src, id_a AS dst FROM pairs),
        reach(node, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e
              ON e.src = r.node),
        cc AS (SELECT node, MIN(lbl) AS cluster_id FROM reach
               GROUP BY node)
        SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
               CAST(COALESCE(cc.cluster_id, e.vec_id) AS BIGINT)
                   AS cluster_id
        FROM emb2 e LEFT JOIN cc ON cc.node = e.vec_id
    """

    # multimodal: recompute the synthesized PPM raster bytes from the
    # source text (printable-ASCII repeat to 768 bytes — the exact
    # text_to_ppm construction) and average every 3rd byte per channel.
    # 781 = 13-byte "P6\n16 16\n255\n" header + 768 raster bytes.
    def chan_avg(offset: int) -> str:
        return (f"list_avg([ascii(substr(s, {offset} + 3*j, 1)) "
                f"for j in range(0, 256)])")

    sql["multimodal_features"] = f"""
        WITH c AS (
            SELECT doc_id,
                   COALESCE(NULLIF(regexp_replace(text, '[^ -~]', '',
                                                  'g'), ''), 'x') AS t
            FROM documents),
        px AS (
            SELECT doc_id,
                   substr(repeat(t, CAST(768 // length(t) AS INT) + 1),
                          1, 768) AS s
            FROM c)
        SELECT doc_id AS media_id, 781 AS n_bytes,
               {chan_avg(1)} AS mean_r,
               {chan_avg(2)} AS mean_g,
               {chan_avg(3)} AS mean_b
        FROM px
    """

    # audio: recompute the synthesized WAV samples from the source text
    # (printable-ASCII repeat to 1024 bytes, sample = (byte-80)*256 — the
    # exact text_to_wav construction). All sums are integer-valued
    # float64 below 2^53 and the count is a power of two, so mean /
    # mean-of-squares are exact and sqrt is IEEE-deterministic — the
    # doubles hash-match the Spark side bit-for-bit. 2092 = 44-byte
    # canonical RIFF header + 2048 sample bytes.
    samp = "(ascii(substr(s, 1 + j, 1)) - 80) * 256"
    sql["multimodal_audio_stats"] = f"""
        WITH c AS (
            SELECT doc_id,
                   COALESCE(NULLIF(regexp_replace(text, '[^ -~]', '',
                                                  'g'), ''), 'x') AS t
            FROM documents),
        sm AS (
            SELECT doc_id,
                   substr(repeat(t, CAST(1024 // length(t) AS INT) + 1),
                          1, 1024) AS s
            FROM c)
        SELECT doc_id AS media_id, 2092 AS n_bytes,
               16000 AS sample_rate, 1024 AS n_samples,
               list_avg([{samp} for j in range(0, 1024)]) AS mean_amp,
               sqrt(list_avg([pow({samp}, 2)
                              for j in range(0, 1024)])) AS rms_amp,
               CAST(list_max([abs({samp}) for j in range(0, 1024)])
                    AS INT) AS peak_amp
        FROM sm
    """

    return sql


if __name__ == "__main__":
    from headson_spark.session import get_spark
    spark = get_spark("entry-smoke")
    df = entry(spark)
    df.show(5, truncate=60)
    print("rows:", df.count())
