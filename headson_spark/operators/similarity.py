"""Similarity search over embedding columns (array<float>). Every operator
reads an embeddings table with `vec_id` and `embedding` columns.

- brute_force_cosine_topk: exact baseline — one pass, JVM-side
  zip_with/aggregate dot products, no shuffle until the final top-k.
- lsh_buckets / embedding_near_dup_pairs: random-hyperplane LSH —
  deterministic hyperplanes from mix64; the bucket id per vector, and
  banded blocking with exact cosine verification for near-duplicate
  pairs.
- ivf_centroids / ivf_assign / ivf_topk: an IVF index over strided-sample
  centroids — a shuffle-free BLAS assignment, then probes of the nearest
  inverted lists with an exact re-rank inside them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..kernel.arena import mix64


def _dot_expr(lit_vec: list[float]) -> str:
    arr = "array(" + ",".join(f"cast({x!r} as double)" for x in lit_vec) + ")"
    return (f"aggregate(zip_with(embedding, {arr}, (a, b) -> "
            f"cast(a as double) * b), 0D, (acc, x) -> acc + x)")


def _norm_expr(vec_col: str) -> str:
    return (f"sqrt(aggregate({vec_col}, 0D, (acc, x) -> "
            f"acc + cast(x as double) * cast(x as double)))")


def cosine_scores(df: DataFrame, query_vec: list[float]) -> DataFrame:
    qnorm = sum(float(x) * float(x) for x in query_vec) ** 0.5
    dot = _dot_expr(query_vec)
    return df.select(
        F.col("vec_id"),
        F.round(F.expr(f"({dot}) / ({_norm_expr('embedding')} * {qnorm!r})"),
                4).alias("cosine"))


def brute_force_cosine_topk(df: DataFrame, query_vec: list[float],
                            k: int = 10) -> DataFrame:
    return (cosine_scores(df, query_vec)
            .orderBy(F.desc("cosine"), F.col("vec_id"))
            .limit(k))


# the seed of the hyperplane family; the oracle SQL reads the same planes
# through hyperplanes
HYPERPLANE_SEED = 42


def hyperplanes(dim: int, n_planes: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from mix64 — reproducible anywhere."""
    return [[1 if mix64((HYPERPLANE_SEED << 32) ^ (j << 16) ^ i) % 2 == 0
             else -1
             for i in range(dim)]
            for j in range(n_planes)]


def lsh_signature_expr(planes: list[list[int]]) -> str:
    terms = []
    for p, plane in enumerate(planes):
        dot = _dot_expr([float(x) for x in plane])
        terms.append(f"(case when ({dot}) > 0D then {1 << p}L else 0L end)")
    return " + ".join(terms)


def lsh_buckets(df: DataFrame, dim: int = 64, n_planes: int = 8
                ) -> DataFrame:
    planes = hyperplanes(dim, n_planes)
    return df.select(
        F.col("vec_id"),
        F.expr(lsh_signature_expr(planes)).alias("bucket"))


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                             dim: int = 64, n_planes: int = 8,
                             n_bands: int = 1) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: banded
    random-hyperplane blocking followed by exact cosine verification —
    the all-pairs O(n^2) comparison never materializes.

    Bucket-size bound: each band hashes into 2^n_planes buckets, so a
    uniformly-spread corpus of n vectors has E[bucket width] = n /
    2^n_planes and the per-band self-join does ~n^2 / 2^n_planes
    comparisons. Choose n_planes ≈ log2(n / target_bucket_rows) — e.g.
    n=10^9 and 4k-row buckets -> 18 planes — and the comparison count
    stays ~n * target_bucket_rows regardless of corpus size; this is the
    knob that keeps bucket width bounded BY DESIGN as n grows (the
    round-2 default of a single coarse band grew ~(n/2^planes)^2).
    Raising n_planes lowers per-band recall (collision prob p^n_planes,
    p = 1 - theta/pi); n_bands > 1 compensates the MinHash way — a pair
    is a candidate if it collides in ANY band (recall
    1 - (1 - p^n_planes)^n_bands), with verification still exact and
    each candidate verified once (the band-distinct is on the pair key,
    not the vectors)."""
    total = n_planes * n_bands
    planes = hyperplanes(dim, total)
    b = df.select(F.col("vec_id"), F.col("embedding"))
    for band in range(n_bands):
        band_planes = planes[band * n_planes:(band + 1) * n_planes]
        b = b.withColumn(f"_band{band}",
                         F.expr(lsh_signature_expr(band_planes)))
    # one row per (vector, band): candidates collide on (band, bucket)
    bands_arr = F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.col(f"_band{i}").alias("bucket"))
        for i in range(n_bands)])
    e = (b.withColumn("_bb", F.explode(bands_arr))
          .select("vec_id", "embedding",
                  F.col("_bb.band").alias("band"),
                  F.col("_bb.bucket").alias("bucket")))
    # Round-6 plan (guide §4.2): the within-bucket comparison runs as a
    # per-bucket BLAS gram matrix inside applyInPandas, but ONLY to
    # NOMINATE candidate pairs — the margin-widened threshold
    # (threshold - half an output-rounding step - float slack) can admit
    # a borderline pair but never drop a qualifying one, and the kept
    # rows' cosine is then recomputed by the ORIGINAL Catalyst
    # fold + round on the (tiny) nominated set, so emitted values and
    # the threshold decision are bit-identical to the old per-pair plan
    # by construction. The old plan evaluated the interpreted 64-element
    # fold O(sum of bucket-width^2) times — 57 s at sf1.0 vs ~2 s for
    # the BLAS nomination. Bucket width stays bounded by the n_planes
    # knob exactly as documented above, so per-group work is
    # ~width^2 * dim native flops.
    id_t = df.schema["vec_id"].dataType.simpleString()
    cand_schema = f"id_a {id_t}, id_b {id_t}"
    margin = float(threshold) - 0.5e-4 - 1e-9

    def bucket_candidates(pdf):
        import pandas as pd
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []})
        out_a, out_b = _nominate_pairs(pdf["vec_id"].tolist(),
                                       pdf["embedding"], margin)
        return pd.DataFrame({"id_a": out_a, "id_b": out_b})

    cand = (e.groupBy("band", "bucket")
            .applyInPandas(bucket_candidates, cand_schema)
            .distinct())
    av = df.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("_va"))
    bv = df.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("_vb"))
    dot = ("aggregate(zip_with(_va, _vb, (x, y) -> "
           "cast(x as double) * cast(y as double)), 0D, "
           "(acc, v) -> acc + v)")
    na = _norm_expr("_va")
    nb = _norm_expr("_vb")
    out = (cand.join(av, "id_a").join(bv, "id_b")
           .withColumn("cosine",
                       F.round(F.expr(f"({dot}) / (({na}) * ({nb}))"), 4))
           .where(F.col("cosine") >= threshold)
           .select("id_a", "id_b", "cosine"))
    return out


def _nominate_pairs(ids: list, vecs, margin: float) -> tuple[list, list]:
    """(id_a, id_b) with id_a < id_b for every pair of one bucket's
    vectors whose BLAS cosine is >= margin."""
    import numpy as np
    V = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
    nv = np.sqrt(np.einsum("ij,ij->i", V, V))
    with np.errstate(divide="ignore", invalid="ignore"):
        C = (V @ V.T) / np.outer(nv, nv)
    ii, jj = np.nonzero(np.triu(C >= margin, 1))
    out_a, out_b = [], []
    for i, j in zip(ii.tolist(), jj.tolist()):
        a, bb = ids[i], ids[j]
        if a == bb:
            continue  # the old a.id < b.id join dropped equal ids
        if bb < a:
            a, bb = bb, a
        out_a.append(a)
        out_b.append(bb)
    return out_a, out_b


def _l2sq_expr(b: str) -> str:
    """Squared L2 distance from a centroid's `_cvec` to `b`."""
    return (f"aggregate(zip_with(_cvec, {b}, (x, y) -> "
            f"(cast(x as double) - cast(y as double)) * "
            f"(cast(x as double) - cast(y as double))), 0D, "
            f"(acc, v) -> acc + v)")


def ivf_centroids(df: DataFrame, stride: int = 32) -> DataFrame:
    """Deterministic sampled centroids for the IVF coarse quantizer:
    every stride-th vector by id (the standard sampled-centroid IVF
    baseline — engine-independent and reproducible anywhere, unlike a
    seeded k-means, so the oracle SQL samples the same rows).

    SCALING CONTRACT: k_centroids = n / stride, so a fixed stride grows
    k linearly with the corpus; a caller holds k near the IVF sweet
    spot (~sqrt(n), or a fixed few thousand — 4k centroids x 64 dims x
    8 B = 2 MB on the driver) by choosing stride for its corpus, and
    ivf_assign refuses more than MAX_COLLECTED_CENTROIDS. Assignment
    cost is O(n * k) distance evaluations — another reason k must not
    track n."""
    return (df.filter((F.col("vec_id") % stride) == 0)
              .select(F.col("vec_id").alias("centroid_id"),
                      F.col("embedding").alias("_cvec")))


# ivf_assign refuses to collect more centroid rows than this: 2^20 rows
# x 64 dims x 8 B ~ 512 MB on the driver — past the point where the
# caller should have raised the stride.
MAX_COLLECTED_CENTROIDS = 1 << 20


def _arrow_list_matrix(arr):
    """pyarrow List/LargeList column of equal-length float lists ->
    (n, dim) float64 matrix. Offset-aware (handles sliced batches);
    float32 -> float64 promotion is exact, matching Spark's
    cast(x as double) on array<float> elements."""
    import numpy as np
    import pyarrow as pa
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offsets = arr.offsets.to_numpy()
    values = arr.values.to_numpy(zero_copy_only=False)
    widths = offsets[1:] - offsets[:-1]
    if len(widths) == 0:
        return np.empty((0, 0), dtype=np.float64)
    dim = int(widths[0])
    if not (widths == dim).all():
        raise ValueError("ragged embedding column in ivf_assign")
    flat = values[int(offsets[0]):int(offsets[-1])]
    return flat.reshape(len(widths), dim).astype(np.float64, copy=False)


def _exact_l2sq(v, c) -> float:
    """The Spark/DuckDB left-fold L2^2: acc = acc + (x-y)*(x-y), one
    IEEE-double rounding per op in dimension order — bit-identical to
    aggregate(zip_with(...)) and DuckDB list_reduce."""
    acc = 0.0
    for x, y in zip(v.tolist(), c.tolist()):
        t = x - y
        acc = acc + t * t
    return acc


def ivf_assign(df: DataFrame, stride: int = 32) -> DataFrame:
    """IVF indexing step: assign every vector to its nearest centroid
    (arg-min L2, ties broken by centroid id — deterministic).

    Implementation (round 6, guide §4.2): the k-row centroid table is
    collected to the driver — the same O(k) boundedness contract as the
    broadcast it replaces (a broadcast hash relation is also built on
    the driver) — and shipped inside a mapInArrow closure; each Arrow
    batch computes the full n_batch x k distance matrix in one BLAS
    matmul (||v||^2 - 2 v.C^T + ||c||^2). That replaces the previous
    crossJoin + per-pair Catalyst fold, which evaluated an interpreted
    64-element lambda O(n*k) times (147 s at 20k vectors / 625
    centroids in the round-5 driver record; the BLAS form is the same
    flop count at native throughput). Plan shape: ZERO exchanges — the
    old plan's broadcast + final min-aggregation exchange both
    disappear; output is one narrow (id, centroid) row per vector,
    computed where the vector already lives.

    Exactness contract (the oracle hashes these results): BLAS sums in
    a different order than the Catalyst/DuckDB left fold, so the matmul
    distances are only used to NOMINATE candidates — every centroid
    within a per-row margin that provably over-covers the float64
    error bound (see below). Rows with a single nominee are decided (the
    true arg-min is always nominated); rows with several recompute the
    exact left-fold distance per nominee and take the lexicographic
    (d2, centroid_id) min — bit-identical tie-breaks to the old plan.

    Margin bound: each of the three dot products errs by at most
    64 * eps * sum|terms| <= 64 * eps * 2(|v|^2 + |c|^2_max); the margin
    1e-10 * (1 + |v|^2 + |c|^2_max) exceeds twice that by ~3 orders of
    magnitude, and an over-wide margin only costs extra exact rechecks,
    never a wrong answer.

    Scale shape (100 TB): per-task work is (rows-in-task x k x dim)
    BLAS; no shuffle at all. In deployment the assignment is then
    materialized partitioned BY centroid_id for partition-pruned probe
    reads. k = n / stride (see ivf_centroids); a stride too small for a
    growing corpus is capped loudly at MAX_COLLECTED_CENTROIDS instead
    of OOMing the driver."""
    import numpy as np

    cents_df = ivf_centroids(df, stride)
    # limit() bounds the driver-side collect by construction; it is the
    # identity whenever k is within the documented cap
    rows = (cents_df.select("centroid_id", "_cvec")
            .limit(MAX_COLLECTED_CENTROIDS + 1).collect())
    if len(rows) > MAX_COLLECTED_CENTROIDS:
        raise ValueError(
            f"ivf_assign: > {MAX_COLLECTED_CENTROIDS} centroids at "
            f"stride={stride}; raise the stride for a corpus this large")
    id_t = df.schema["vec_id"].dataType.simpleString()
    out_schema = f"vec_id {id_t}, centroid_id {id_t}"
    narrow = df.select("vec_id", "embedding")
    if not rows:
        # no centroids -> empty result (the old crossJoin semantics)
        return narrow.mapInArrow(lambda it: iter(()), out_schema)
    order = sorted(range(len(rows)), key=lambda i: rows[i][0])
    cids = np.asarray([rows[i][0] for i in order])
    C = np.asarray([list(rows[i][1]) for i in order], dtype=np.float64)
    CT = np.ascontiguousarray(C.T)
    nc = np.einsum("ij,ij->i", C, C)
    nc_max = float(nc.max())

    def assign_batches(batches):
        import pyarrow as pa
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            V = _arrow_list_matrix(batch.column(1))
            nv = np.einsum("ij,ij->i", V, V)
            D = nv[:, None] + nc[None, :] - 2.0 * (V @ CT)
            best = D.argmin(axis=1)
            m = D[np.arange(len(D)), best]
            margin = 1e-10 * (1.0 + np.abs(nv) + nc_max)
            cand = D <= (m + margin)[:, None]
            multi = np.flatnonzero(cand.sum(axis=1) > 1)
            for i in multi:
                js = np.flatnonzero(cand[i])
                best_key = None
                for j in js:
                    key = (_exact_l2sq(V[i], C[j]), cids[j])
                    if best_key is None or key < best_key:
                        best_key, best[i] = key, j
            out_c = pa.array(cids[best], type=ids.type)
            yield pa.RecordBatch.from_arrays([ids, out_c],
                                             ["vec_id", "centroid_id"])

    return narrow.mapInArrow(assign_batches, out_schema)


def ivf_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             n_probe: int = 4, stride: int = 32,
             assignment: DataFrame | None = None) -> DataFrame:
    """IVF ANN query: rank centroids by distance to the query, probe the
    n_probe nearest inverted lists, exact cosine re-rank inside them.
    Recall/latency knob = n_probe (n_probe = k_centroids degrades to the
    exact brute force). Everything stays in-plan — no driver collect.

    Pass `assignment` (a materialized ivf_assign result — THE deployment
    pattern: index once, query many) to skip re-running the O(n * k)
    indexing pass per query; without it the full assignment is computed
    inline, which dominates the single-query wall time."""
    arr = ("array(" + ",".join(f"cast({float(x)!r} as double)"
                               for x in query_vec) + ")")
    cents = ivf_centroids(df, stride)
    probes = (cents.withColumn("_qd", F.expr(_l2sq_expr(arr)))
              .orderBy("_qd", "centroid_id")
              .limit(n_probe)
              .select("centroid_id"))
    if assignment is None:
        assignment = ivf_assign(df, stride)
    cand_ids = (assignment
                .join(F.broadcast(probes), "centroid_id")
                .select("vec_id"))
    cand = df.join(cand_ids, "vec_id", "semi")
    return brute_force_cosine_topk(cand, query_vec, k)
