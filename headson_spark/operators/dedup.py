"""Deduplication operators for large-scale training-data pipelines.

All hot paths are JVM-side column expressions (md5 / transform / aggregate
inside whole-stage codegen) — no Python UDFs. Hash functions are md5-based
so the DuckDB oracle can evaluate bit-identical logic.

Scale notes (100 TB):
- exact dedup is one hash-shuffle on a 32-byte digest (map-side partial agg)
- MinHash/LSH replaces the quadratic all-pairs comparison with a band-bucket
  self-join; bucket sizes are bounded in practice, and AQE skew-join splits
  pathological buckets
- SimHash is a doc-local aggregate (zero shuffle until the grouping)

Every operator reads a documents table with `doc_id` and `text` columns;
candidate pairs are `id_a` < `id_b`.
"""

from __future__ import annotations

import logging
import re

from pyspark.sql import DataFrame, functions as F

from .text_stats import TOKENS

log = logging.getLogger("headson_spark.dedup")

_NON_ALNUM = re.compile("[^a-z0-9]+")


def exact_duplicate_groups(df: DataFrame) -> DataFrame:
    """Groups of byte-identical documents (after normalization: lowercase,
    non-alphanumeric runs collapsed to one space, trimmed)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+",
                                   " "))
    return (df.select(F.md5(norm).alias("content_hash"), F.col("doc_id"))
              .groupBy("content_hash")
              .agg(F.count("*").alias("n_docs"),
                   F.min("doc_id").alias("keep_id"))
              .filter(F.col("n_docs") > 1))


# 2^31 - 1: keeps (x % P) * a + b < 2^62, safe under ANSI bigint overflow
MINHASH_P = 2147483647
# the seed of the (a_j, b_j) MinHash family; the oracle SQL reads the
# same family through minhash_params
MINHASH_SEED = 7


def minhash_params(n_hashes: int) -> list[tuple[int, int]]:
    from ..kernel.arena import mix64
    return [(mix64((MINHASH_SEED << 20) ^ (2 * j)) % (MINHASH_P - 1) + 1,
             mix64((MINHASH_SEED << 20) ^ (2 * j + 1)) % MINHASH_P)
            for j in range(n_hashes)]


def minhash_signatures(df: DataFrame, n_hashes: int = 12,
                       shingle_k: int = 3) -> DataFrame:
    """MinHash signature per document: sig_j = min over shingles of
    (a_j * x + b_j) mod P, x = md5-derived shingle integer. One md5 per
    shingle total (not per hash function) — the dominant cost at scale.

    Round 6 (guide §4.2): computed in a mapInPandas kernel — hashlib's
    C md5 per shingle plus one numpy (n_shingles x n_hashes) modular
    broadcast per document replaces the staged Catalyst
    transform/array_min chain, which was ~60% of the lsh_pairs row at
    sf1.0. Every value is an EXACT integer (md5 is md5 everywhere;
    int(hex[:15], 16) % P and (a*x + b) % P are exact int64 — products
    < P^2 ~ 4.6e18 < 2^63), so any correct evaluation is bit-identical;
    the tokenization mirrors the Catalyst expression on the same
    grounds as ngram_jaccard_pairs (tokens are pure ASCII [a-z0-9]+
    after lower + split; empty-token docs produce the single ''
    shingle exactly like array_join(slice([], ..), ' ')). Min over the
    DISTINCT shingle set equals min over the multiset, so a Python set
    stands in for array_distinct. Oracle-verified (lsh_pairs /
    near_dup_clusters) at sf0.001/0.01/0.1."""
    import numpy as np

    params = minhash_params(n_hashes)
    A = np.asarray([a for a, _ in params], dtype=np.int64)
    Bv = np.asarray([b for _, b in params], dtype=np.int64)
    w = shingle_k
    id_t = df.schema["doc_id"].dataType.simpleString()
    out_schema = ", ".join([f"doc_id {id_t}"]
                           + [f"mh{j} bigint" for j in range(n_hashes)])

    def sig_batches(pdfs):
        import pandas as pd
        for pdf in pdfs:
            ids = pdf["doc_id"].tolist()
            out = np.empty((len(ids), n_hashes), dtype=np.int64)
            for r, t in enumerate(pdf["text"]):
                out[r] = _minhash_row(t, A, Bv, w)
            data = {"doc_id": ids}
            for j in range(n_hashes):
                data[f"mh{j}"] = out[:, j]
            yield pd.DataFrame(data)

    return df.select("doc_id", "text").mapInPandas(sig_batches, out_schema)


def _minhash_row(text, A, Bv, w: int):
    """One document's signature: min over its distinct word w-shingles of
    (A * x + Bv) mod MINHASH_P, x = the shingle's md5 integer."""
    import hashlib

    import numpy as np
    P = MINHASH_P
    toks = [x for x in _NON_ALNUM.split((text or "").lower()) if x != ""]
    sh = {" ".join(toks[i:i + w]) for i in range(max(len(toks) - w + 1, 1))}
    xs = np.fromiter(
        (int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P for s in sh),
        dtype=np.int64, count=len(sh))
    return ((xs[:, None] * A[None, :] + Bv[None, :]) % P).min(axis=0)


def lsh_candidate_pairs(df: DataFrame, n_hashes: int = 12,
                        bands: int = 4, shingle_k: int = 3) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding: documents agree
    on any band of rows => candidate pair. One self-join keyed by
    (band_idx, band_hash) — the scale-path replacement for all-pairs."""
    rows = n_hashes // bands
    sig = minhash_signatures(df, n_hashes, shingle_k)
    band_cols = []
    for b in range(bands):
        parts = [f"mh{b * rows + r}" for r in range(rows)]
        band_cols.append(F.md5(F.concat_ws("|", *parts)).alias(f"band{b}"))
    banded = sig.select(F.col("doc_id"), *band_cols)
    stacked = banded.select(
        F.col("doc_id"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_idx"),
                     F.col(f"band{b}").alias("band_hash"))
            for b in range(bands)])).alias("bb")
    ).select("doc_id", "bb.band_idx", "bb.band_hash")
    a = stacked.alias("a")
    b_ = stacked.alias("b")
    return (a.join(b_, ["band_idx", "band_hash"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"))
            .distinct())


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame,
                        shingle_k: int = 5) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (verification
    stage after LSH).

    The shingle set is computed only for documents that actually appear
    in a pair (semi-join prune before the O(len) shingling + the wide
    array shuffle): verification cost scales with the CANDIDATE set, not
    the corpus — at sf1.0 (55k docs / 7k pairs) this cut the query from
    11.7 s to the pair-side cost alone, and at 100 TB it is the
    difference between shingling the corpus and shingling the survivors
    of LSH. Join results are unchanged (the equi-joins below only ever
    consume pair participants)."""
    members = (pairs.select(F.col("id_a").alias("doc_id"))
               .union(pairs.select(F.col("id_b").alias("doc_id")))
               .distinct())
    pruned = df.join(members, "doc_id", "left_semi")
    texts = pruned.select(F.col("doc_id"), F.col("text").alias("_t"))
    j = (pairs
         .join(texts.withColumnRenamed("doc_id", "id_a")
                    .withColumnRenamed("_t", "_ta"), "id_a")
         .join(texts.withColumnRenamed("doc_id", "id_b")
                    .withColumnRenamed("_t", "_tb"), "id_b"))

    # Set sizes are exact INTEGERS, so they can be computed with Python
    # set ops in a mapInPandas kernel (guide §4.2) instead of the
    # per-pair Catalyst array_intersect/array_union over ~len(norm)
    # element arrays, and the final double — round(inter / union, 6) —
    # is still produced by the ORIGINAL Spark expression below, so the
    # emitted values are bit-identical by construction. A document's
    # shingles are the distinct k-character substrings of its
    # normalized text (lower-cased, each run of characters outside
    # [a-z0-9] replaced by one space, then trimmed) starting at every
    # index in range(0, max(len - k + 1, 1)), so a text shorter than k,
    # the empty text included, is its own single shingle. The
    # normalized text is pure ASCII [a-z0-9 ], so SQL's 1-based
    # substring over sequence(1, greatest(len - k + 1, 1)) gives the
    # same set. 5.0 s -> sub-second at sf1.0 (55k docs / 7.9k pairs).
    k = shingle_k
    id_a_t = pairs.schema["id_a"].dataType.simpleString()
    id_b_t = pairs.schema["id_b"].dataType.simpleString()
    out_schema = (f"id_a {id_a_t}, id_b {id_b_t}, "
                  f"_inter int, _union int")

    def counts(pdfs):
        import pandas as pd
        for pdf in pdfs:
            cache: dict = {}

            def sset(doc_id, text):
                s = cache.get(doc_id)
                if s is None:
                    s = cache[doc_id] = _char_shingles(text, k)
                return s

            inter, union = [], []
            for a, b, ta, tb in zip(pdf["id_a"], pdf["id_b"],
                                    pdf["_ta"], pdf["_tb"]):
                sa, sb = sset(a, ta), sset(b, tb)
                inter.append(len(sa & sb))
                union.append(len(sa | sb))
            yield pd.DataFrame({"id_a": pdf["id_a"],
                                "id_b": pdf["id_b"],
                                "_inter": inter, "_union": union})

    c = j.select("id_a", "id_b", "_ta", "_tb").mapInPandas(counts,
                                                           out_schema)
    return c.select(
        "id_a", "id_b",
        F.round(F.col("_inter").cast("double") / F.col("_union"), 6)
         .alias("jaccard"))


def _char_shingles(text, k: int) -> set:
    """The distinct character k-shingles of the normalized text."""
    norm = _NON_ALNUM.sub(" ", (text or "").lower()).strip()
    return {norm[i:i + k] for i in range(max(len(norm) - k + 1, 1))}


def simhash(df: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash over word tokens; bit p of md5(token) votes +/-1.

    Doc-local (no shuffle): tokens -> per-bit vote sums via aggregate() ->
    packed integer. md5 nibble math keeps the DuckDB oracle bit-identical.
    """
    # Stage ONE md5-derived integer per token (the first ceil(bits/4) hex
    # nibbles, MSB-first); every bit then comes from shiftright on the
    # staged value. Round 1 evaluated md5(t) once per bit (16x per token)
    # because the digest lived inside the per-bit lambda — Spark does not
    # CSE across higher-order-function lambda instantiations.
    nhex = (bits + 3) // 4
    staged = (df.select(F.col("doc_id"), F.col("text"))
                .withColumn("_th", F.expr(
                    f"transform({TOKENS}, t -> cast(conv(substring(md5(t), "
                    f"1, {nhex}), 16, 10) as bigint))")))
    # bit p (old nibble-wise order) == bit (4*nhex - 1 - p) of the staged
    # integer, so the packed simhash value is unchanged vs round 1.
    votes = (f"aggregate(_th, array_repeat(0L, {bits}), "
             f"(acc, h) -> zip_with(acc, "
             f"transform(sequence(0, {bits - 1}), "
             f"p -> cast(2 * (shiftright(h, {4 * nhex - 1} - p) % 2) - 1 "
             f"as bigint)), "
             f"(a, b) -> a + b))")
    packed = (f"aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
              f"(v, p) -> case when v > 0 then shiftleft(1L, p) "
              f"else 0L end), 0L, (a, b) -> a + b)")
    return staged.select(F.col("doc_id"), F.expr(packed).alias("simhash"))


def near_dup_clusters(df: DataFrame, n_hashes: int = 12,
                      bands: int = 4, shingle_k: int = 3) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the LSH
    candidate-pair graph (HashMin label propagation — every document
    converges to the smallest doc id reachable from it). The canonical
    "keep one per duplicate group" primitive: keep rows where
    cluster_id == doc_id.

    Scale notes (100 TB): the edge set is the *post-LSH* candidate graph
    (bounded, never all-pairs); each iteration is one shuffle join on it
    and converges in O(component diameter) rounds — near-dup components
    are shallow in practice (dup clusters are quasi-cliques), so 3-5
    rounds typical. localCheckpoint() truncates the lineage so the plan
    does not grow with iterations. Singleton documents never enter the
    loop; they are restored by the final left join.
    """
    pairs = lsh_candidate_pairs(df, n_hashes, bands, shingle_k)
    labels = hashmin_components(pairs)
    return (df.select(F.col("doc_id"))
            .join(labels.withColumnRenamed("node", "doc_id"), "doc_id",
                  "left")
            .select(F.col("doc_id"),
                    F.coalesce("lbl", F.col("doc_id"))
                     .alias("cluster_id")))


def contamination_check(docs: DataFrame, eval_docs: DataFrame,
                        n: int = 8) -> DataFrame:
    """Pre-training decontamination: word n-gram overlap between corpus
    documents and an evaluation/benchmark set — the standard check that
    training data does not contain eval content (verbatim or lightly
    reflowed; n-grams are order-sensitive so real overlap, not topical
    similarity). Returns one row per corpus document with the count of
    DISTINCT eval n-grams it contains and a contaminated flag.

    Scale shape (100 TB): the eval side is small by construction
    (benchmarks are thousands of documents), so its distinct-gram table
    broadcasts under AQE; the corpus side explodes ~tokens-per-doc grams
    and semi-joins — no all-pairs, per-doc work is linear, and the only
    wide exchange is the per-doc overlap count aggregate."""

    def grams(df):
        g = (f"array_distinct(transform(sequence(1, "
             f"greatest(size({TOKENS}) - {n - 1}, 1)), "
             f"i -> array_join(slice({TOKENS}, i, {n}), ' ')))")
        return (df.select(F.col("doc_id"), F.explode(F.expr(g))
                          .alias("gram"))
                  .where(F.col("gram") != ""))

    eval_grams = grams(eval_docs).select("gram").distinct()
    hits = (grams(docs).join(eval_grams, "gram")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_overlap")))
    return (docs.select(F.col("doc_id"))
            .join(hits, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.coalesce("n_overlap", F.lit(0)).cast("bigint")
                     .alias("n_overlap"),
                    (F.coalesce("n_overlap", F.lit(0)) > 0)
                     .alias("contaminated")))


# hashmin_components small-graph gate: up to this many edges the
# candidate graph is collected and solved with union-find on the driver
# (exact same min-label result); above it the distributed HashMin loop
# runs. 1M edge rows ~ a few hundred MB of driver heap — the same order
# as a broadcast join build side.
HASHMIN_DRIVER_GATE_EDGES = 1_000_000
# rounds the distributed HashMin loop runs before it warns that labels
# may be non-minimal; near-dup components converge in 3-5
HASHMIN_MAX_ITER = 30


def _unionfind_min_labels(edge_rows) -> dict:
    """Union-find with the component-minimum id as every root: returns
    {node: min reachable id} — exactly HashMin's converged labels."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # smaller id becomes the root, so a root is always the
            # minimum id of its component
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def hashmin_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an arbitrary pair DataFrame via HashMin
    label propagation: DataFrame[id_a, id_b] -> DataFrame[node, lbl]
    where lbl is the smallest id reachable from node. Only nodes that
    appear in a pair are returned (callers restore singletons with a
    left join + coalesce). One shuffle join per round, O(component
    diameter) rounds; the same engine serves text near-dup clusters
    (MinHash/LSH pairs) and embedding near-dup clusters (banded
    hyperplane pairs).

    Small-graph fast path (round 6): each HashMin round is 3 Spark jobs
    of fixed overhead, which dominated wall time on post-LSH candidate
    graphs (they are tiny relative to the corpus — 12.3 s at sf1.0 for
    a graph of a few thousand edges). Up to HASHMIN_DRIVER_GATE_EDGES
    edges (read at call time) the edge list is collected (bounded by
    construction via limit()) and solved with min-root union-find — the
    identical {node: min reachable id} labeling — in one pass. Above the
    gate the distributed loop runs, for at most HASHMIN_MAX_ITER rounds
    (read at call time; it warns if labels are still changing), so the
    100 TB posture is preserved: the driver never holds an unbounded
    graph.

    The gate probe and both directions of the edge union read `pairs`,
    so an uncached `pairs` is persisted for the call: its lineage (LSH
    banding, BLAS nomination) runs once, not once per reader.

    Logs one INFO line on `headson_spark.dedup`: the edges the gate probe
    saw (at most the gate + 1), the gate, and the path taken."""
    gate = HASHMIN_DRIVER_GATE_EDGES
    own_cache = not pairs.is_cached
    if own_cache:
        pairs = pairs.persist()
    head = pairs.select("id_a", "id_b").limit(gate + 1).collect()
    small = len(head) <= gate
    log.info("hashmin_components: edges=%d driver_gate_edges=%d -> %s",
             len(head), gate, "union-find" if small else "distributed")
    if small:
        if own_cache:
            pairs.unpersist()
        labels = _unionfind_min_labels(head)
        from pyspark.sql.types import StructField, StructType
        t = pairs.schema["id_a"].dataType
        schema = StructType([StructField("node", t),
                             StructField("lbl", t)])
        return pairs.sparkSession.createDataFrame(
            sorted(labels.items()), schema)
    # undirected edges, both directions
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .union(pairs.select(F.col("id_b").alias("src"),
                                 F.col("id_a").alias("dst")))).cache()
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("lbl", F.col("node"))).localCheckpoint()
    if own_cache:
        # the checkpoint above read every edge partition into the edges
        # cache, so the loop no longer needs pairs
        pairs.unpersist()
    max_iter = HASHMIN_MAX_ITER
    changed = 0
    for _ in range(max_iter):
        # smallest label among self + neighbors
        nbr = (edges.join(labels.withColumnRenamed("node", "dst")
                          .withColumnRenamed("lbl", "nbr_lbl"), "dst")
               .groupBy("src").agg(F.min("nbr_lbl").alias("nbr_min")))
        new = (labels.join(nbr.withColumnRenamed("src", "node"),
                           "node", "left")
               .select("node",
                       F.least("lbl", F.coalesce("nbr_min", "lbl"))
                        .alias("lbl"))).localCheckpoint()
        changed = (new.alias("n")
                   .join(labels.alias("o"), "node")
                   .where(F.col("n.lbl") != F.col("o.lbl")).count())
        labels = new
        if changed == 0:
            break
    if changed > 0:
        # a component with diameter > max_iter would return non-minimal
        # labels: loud, because callers treat cluster_id as canonical
        import warnings
        warnings.warn(
            f"hashmin_components: did not converge within "
            f"{max_iter} iterations ({changed} labels still changing); "
            f"cluster ids may be non-minimal — raise HASHMIN_MAX_ITER",
            RuntimeWarning, stacklevel=2)
    # labels is localCheckpoint()ed (no lineage back to edges), so the
    # cached edge set can be released before the caller consumes labels
    edges.unpersist()
    return labels
