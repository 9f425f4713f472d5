"""Invariants for near-dup clustering and stratified sampling beyond the
DuckDB oracle equality (tests/test_entry_correctness.py)."""

from __future__ import annotations

import pytest

from headson_spark.operators.dedup import (lsh_candidate_pairs,
                                           near_dup_clusters)
from headson_spark.operators.sampling import stratified_sample

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_clusters_cover_all_docs_with_min_label(spark, docs):
    cl = {r["doc_id"]: r["cluster_id"]
          for r in near_dup_clusters(docs).collect()}
    assert len(cl) == docs.count()
    # HashMin: every cluster id is the smallest member id
    assert all(cid <= d for d, cid in cl.items())
    members = {}
    for d, cid in cl.items():
        members.setdefault(cid, []).append(d)
    assert all(min(ms) == cid for cid, ms in members.items())


def test_cluster_endpoints_of_every_candidate_pair_agree(spark, docs):
    cl = {r["doc_id"]: r["cluster_id"]
          for r in near_dup_clusters(docs).collect()}
    pairs = lsh_candidate_pairs(docs).collect()
    assert pairs, "fixture must produce candidate pairs"
    bad = [(p["id_a"], p["id_b"]) for p in pairs
           if cl[p["id_a"]] != cl[p["id_b"]]]
    assert not bad, bad[:5]


def test_stratified_sample_deterministic_and_bounded(spark, docs):
    fr = {"en": 0.3, "zh": 1.0}
    a = {r["doc_id"] for r in
         stratified_sample(docs, fr, default_frac=0.0).collect()}
    b = {r["doc_id"] for r in
         stratified_sample(docs, fr, default_frac=0.0).collect()}
    assert a == b, "hash-threshold sampling must be deterministic"
    by_lang = {r["doc_id"]: r["lang"] for r in docs.collect()}
    zh_total = sum(1 for v in by_lang.values() if v == "zh")
    zh_kept = sum(1 for d in a if by_lang[d] == "zh")
    assert zh_kept == zh_total, "fraction 1.0 keeps the whole stratum"
    assert all(by_lang[d] in fr for d in a), "default 0.0 drops the rest"
    en_total = sum(1 for v in by_lang.values() if v == "en")
    en_kept = sum(1 for d in a if by_lang[d] == "en")
    # 0.3 +- a generous tolerance (binomial-ish, deterministic hash)
    assert 0.15 * en_total < en_kept < 0.45 * en_total


def test_hashmin_components_on_arbitrary_pairs(spark):
    """Public CC primitive: path + triangle + singleton-free output."""
    from headson_spark.operators.dedup import hashmin_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21)],
        "id_a int, id_b int")
    lbl = {r["node"]: r["lbl"]
           for r in hashmin_components(pairs).collect()}
    assert lbl == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_hashmin_warns_when_not_converged(spark, monkeypatch):
    """A path graph with diameter > HASHMIN_MAX_ITER must raise the
    documented RuntimeWarning instead of silently returning non-minimal
    labels."""
    import warnings
    from headson_spark.operators import dedup
    # path 0-1-2-...-9: min label needs ~9 rounds to reach node 9.
    # A gate of 0 edges forces the distributed HashMin loop (the
    # round-6 driver union-find gate would otherwise solve this small
    # graph exactly with no iteration at all).
    monkeypatch.setattr(dedup, "HASHMIN_DRIVER_GATE_EDGES", 0)
    monkeypatch.setattr(dedup, "HASHMIN_MAX_ITER", 2)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)],
                                  "id_a int, id_b int")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup.hashmin_components(pairs).collect()
    assert any("did not converge" in str(x.message) for x in w), \
        [str(x.message) for x in w]
    # and with enough rounds it converges warning-free to the min label
    monkeypatch.setattr(dedup, "HASHMIN_MAX_ITER", 30)
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        lbl = {r["node"]: r["lbl"]
               for r in dedup.hashmin_components(pairs).collect()}
    assert not any("did not converge" in str(x.message) for x in w2)
    assert set(lbl.values()) == {0}


def test_hashmin_driver_gate_matches_distributed(spark, monkeypatch):
    """The round-6 union-find fast path must produce the identical
    (node, lbl) rows as the distributed HashMin loop, including on
    multi-component graphs with chains and cliques."""
    from headson_spark.operators import dedup
    from headson_spark.operators.dedup import hashmin_components
    edges = ([(i, i + 1) for i in range(5, 12)]          # chain 5..12
             + [(20, 21), (21, 22), (20, 22)]            # triangle
             + [(40, 41)]                                # pair
             + [(3, 50), (50, 2)])                       # min via hub
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r["node"], r["lbl"])
            for r in hashmin_components(pairs).collect()}
    monkeypatch.setattr(dedup, "HASHMIN_DRIVER_GATE_EDGES", 0)
    slow = {(r["node"], r["lbl"])
            for r in hashmin_components(pairs).collect()}
    assert fast == slow
    assert fast  # non-empty


def test_hashmin_gate_is_logged(spark, caplog, monkeypatch):
    """hashmin_components logs one INFO line per call: the edges the gate
    probe saw (capped at gate + 1), the gate and the path taken."""
    from headson_spark.operators import dedup
    pairs = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                  "id_a int, id_b int")
    lines = []
    for gate in (10, 3, 0):
        caplog.clear()
        monkeypatch.setattr(dedup, "HASHMIN_DRIVER_GATE_EDGES", gate)
        with caplog.at_level("INFO", logger="headson_spark.dedup"):
            dedup.hashmin_components(pairs).collect()
        got = [r for r in caplog.records if r.name == "headson_spark.dedup"]
        assert len(got) == 1 and got[0].levelname == "INFO"
        lines.append(got[0].getMessage())
    below, above, off = lines
    assert "edges=5 driver_gate_edges=10 -> union-find" in below
    assert "edges=4 driver_gate_edges=3 -> distributed" in above
    assert "edges=1 driver_gate_edges=0 -> distributed" in off


def test_hashmin_runs_pairs_lineage_once_above_gate(spark, monkeypatch):
    """Above the driver gate, the gate probe and both directions of the
    edge union all read `pairs`; its lineage (here a Python UDF that
    counts its calls) must run exactly once per input row, and the
    labels must still be the union-find ones."""
    from pyspark.sql import functions as F
    from headson_spark.operators import dedup
    calls = spark.sparkContext.accumulator(0)

    def hub(i):          # star components of 5: every node -> block min
        return i - i % 5

    def counted_hub(i):
        calls.add(1)
        return hub(i)

    n = 60
    pairs = (spark.range(0, n, 1, 4)
             .select(F.col("id").alias("id_a"),
                     F.udf(counted_hub, "long")("id").alias("id_b")))
    monkeypatch.setattr(dedup, "HASHMIN_DRIVER_GATE_EDGES", 5)
    got = {(r["node"], r["lbl"])
           for r in dedup.hashmin_components(pairs).collect()}
    assert calls.value == n
    want = dedup._unionfind_min_labels([(i, hub(i)) for i in range(n)])
    assert got == set(want.items())
    assert not pairs.is_cached


def test_contamination_check_semantics(spark):
    """Planted contamination: a training doc embedding a verbatim eval
    passage is flagged with the right overlap count; paraphrase with
    different word order is NOT flagged (n-grams are order-sensitive)."""
    from headson_spark.operators.dedup import contamination_check
    eval_text = ("the capital of france is paris and the capital of "
                 "italy is rome according to the atlas")
    docs = spark.createDataFrame(
        [(1, "some intro text then " + eval_text + " and a conclusion"),
         (2, "paris is the capital town of the french republic while "
             "rome leads italy says the atlas"),
         (3, "entirely unrelated content about machine learning "
             "pipelines and distributed shuffle strategies at scale")],
        "doc_id int, text string")
    ev = spark.createDataFrame([(100, eval_text)], "doc_id int, text string")
    out = {r["doc_id"]: (r["n_overlap"], r["contaminated"])
           for r in contamination_check(docs, ev, n=8).collect()}
    assert out[1][1] is True and out[1][0] >= 9  # all 16-8+1 eval grams
    assert out[2] == (0, False)
    assert out[3] == (0, False)
