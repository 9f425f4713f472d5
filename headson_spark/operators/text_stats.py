"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting — all JVM-side column expressions (no Python in the
hot path), each reproducible in ANSI SQL for the DuckDB oracle. Every
operator reads a documents table with `doc_id` and `text` columns."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# tiny per-language stopword lists (n-gram heuristic language ID)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "una"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "de", "et", "un", "est", "que"],
}
LANGS = sorted(STOPWORDS)


# the lowercased [a-z0-9]+ word tokens of `text`, as a SQL expression
TOKENS = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"


def token_counts(df: DataFrame) -> DataFrame:
    """Whitespace/punct token count + a BPE-ish subword estimate
    (ceil(chars/4) per token, the common ~4-chars-per-token heuristic)."""
    return df.select(
        F.col("doc_id"),
        F.expr(f"size({TOKENS})").alias("n_tokens"),
        F.expr(f"aggregate({TOKENS}, 0L, (acc, t) -> "
               f"acc + cast(ceil(length(t) / 4.0) as bigint))")
         .alias("n_subwords"))


def _hits(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in STOPWORDS[lang])
    return (f"size(filter({TOKENS}, "
            f"x -> array_contains(array({words}), x)))")


def language_id(df: DataFrame) -> DataFrame:
    """Stopword-vote language ID: argmax hits, deterministic tie-break by
    language code; 'und' when no stopword hits at all."""
    hit_cols = [F.expr(_hits(lg)).alias(f"hits_{lg}") for lg in LANGS]
    scored = df.select(F.col("doc_id"), *hit_cols)
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in LANGS])
    pred = F.when(best == 0, F.lit("und"))
    for lg in LANGS:  # sorted => deterministic tie-break
        pred = pred.when(F.col(f"hits_{lg}") == best, F.lit(lg))
    return scored.select(F.col("doc_id"), pred.alias("lang_pred"),
                         best.alias("stopword_hits"))


def quality_scores(df: DataFrame) -> DataFrame:
    """Composite quality score in [0,1]: alpha ratio, stopword ratio,
    length saturation — the standard cheap pre-filter for training data."""
    n_chars = "greatest(length(text), 1)"
    alpha_ratio = (f"length(regexp_replace(text, '[^A-Za-z]', ''))"
                   f" / cast({n_chars} as double)")
    all_stops = ",".join(f"'{w}'" for ws in STOPWORDS.values() for w in ws)
    stop_ratio = (f"size(filter({TOKENS}, x -> array_contains("
                  f"array({all_stops}), x))) / "
                  f"cast(greatest(size({TOKENS}), 1) as double)")
    len_score = "least(length(text) / 500.0, 1.0)"
    return df.select(
        F.col("doc_id"),
        F.round(F.expr(f"0.5 * ({alpha_ratio}) + 0.3 * ({stop_ratio}) "
                       f"+ 0.2 * ({len_score})"), 4).alias("quality"))


EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+?[0-9][0-9()\\-\\s]{6,}[0-9]"


def pii_mask(df: DataFrame) -> DataFrame:
    """Mask emails/phone-shaped spans and count them — the standard
    pre-training scrub pass, pure regexp column expressions."""
    masked = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
        PHONE_RE, "<PHONE>")
    n_emails = F.size(F.expr(
        f"regexp_extract_all(text, '{EMAIL_RE}', 0)"))
    return df.select(
        F.col("doc_id"), masked.alias("masked_text"),
        n_emails.cast("int").alias("n_emails"),
        F.length(masked).cast("bigint").alias("masked_len"))


def repetition_ratio(df: DataFrame) -> DataFrame:
    """Boilerplate signal: fraction of duplicate word-trigrams
    (1 - distinct/total); high values flag template/repetitive text."""
    tri = (f"transform(sequence(1, greatest(size({TOKENS}) - 2, 1)), "
           f"i -> array_join(slice({TOKENS}, i, 3), ' '))")
    return df.select(
        F.col("doc_id"),
        F.round(F.expr(
            f"1.0 - size(array_distinct({tri})) / "
            f"cast(greatest(size({tri}), 1) as double)"), 4)
         .alias("rep_ratio"))


def fingerprints(df: DataFrame) -> DataFrame:
    """Normalized-content fingerprint (md5 of lowercased, punctuation-
    collapsed text) — stable under formatting noise."""
    norm = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))"
    return df.select(F.col("doc_id"),
                     F.expr(f"md5({norm})").alias("fingerprint"),
                     F.expr(f"length({norm})").alias("norm_len"))


# polynomial rolling-hash parameters: base 257 over a prime modulus just
# under 2^53 so acc*base + c stays < 2^63 (no int64 overflow — Spark's
# non-ANSI wrap and DuckDB would disagree past that)
RH_BASE = 257
RH_MOD = 9007199254740881


# rolling_fingerprint's win_fp window, in characters
FP_WINDOW = 16

# windows hashed per block by _fp_one: bounds its int64 window matrix at
# FP_BLOCK x FP_WINDOW, whatever the document length
FP_BLOCK = 65536

# powers of RH_BASE mod RH_MOD, grown on demand and cached per python worker
_pcache: dict = {}


def _powers(n: int):
    import numpy as np
    p = _pcache.get("p")
    if p is None or len(p) < n:
        size = max(n, 4096)
        out = np.empty(size, dtype=np.int64)
        out[0] = 1
        for i in range(1, size):
            out[i] = (out[i - 1] * RH_BASE) % RH_MOD
        p = _pcache["p"] = out
    return p


def _mod_sum_last(prods):
    """Sum of mod-reduced int64 terms over the last axis without
    overflow: partial sums of <= 512 terms (each < M ~ 9e15) stay under
    2^62."""
    import numpy as np
    total = np.zeros(prods.shape[:-1], dtype=np.int64)
    for s in range(0, prods.shape[-1], 512):
        total = (total + prods[..., s:s + 512].sum(axis=-1)) % RH_MOD
    return total


def _fp_one(norm_bytes: bytes, W: int) -> tuple:
    """(doc_fp, win_fp, norm_len) of one normalized ASCII document."""
    import numpy as np
    M = RH_MOD
    c = np.frombuffer(norm_bytes, dtype=np.uint8).astype(np.int64)
    n = len(c)
    if n == 0:
        return 0, 0, 0
    pw_n = _powers(n)
    # doc_fp: the window polynomial over the whole document
    doc_fp = int(_mod_sum_last((c * pw_n[n - 1::-1]) % M))
    if n <= W:
        return doc_fp, doc_fp, n
    wins = np.lib.stride_tricks.sliding_window_view(c, W)
    pw_w = pw_n[W - 1::-1]
    win_fp = min(int(_mod_sum_last((wins[s:s + FP_BLOCK] * pw_w) % M).min())
                 for s in range(0, len(wins), FP_BLOCK))
    return doc_fp, win_fp, n


def rolling_fingerprint(df: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprint (Rabin-Karp polynomial over the
    normalized text): `doc_fp` = hash of the whole document — exact-dup
    key robust to formatting noise; `win_fp` = the MINIMUM hash over all
    FP_WINDOW-length character windows (winnowing-style) — shift-invariant,
    so a document with content inserted at the front keeps the same
    win_fp as long as the minimizing window survives.

    Round 6 (guide §4.2): computed in a mapInPandas numpy kernel instead
    of the round-4 Catalyst fold. Both fingerprints are EXACT modular
    integers — c_i are ASCII codes of the normalized text (pure
    [a-z0-9 ] after lower + strip, where Python bytes == Java ascii()),
    and every window hash is the well-defined residue
    sum(c_j * B^(i+w-1-j)) mod M — so ANY correct evaluation strategy is
    bit-identical; there is no float-ordering concern at all. The numpy
    form evaluates all window hashes from the direct polynomial
    (sliding_window_view x precomputed powers, products reduced mod M
    before an overflow-safe chunked sum), which vectorizes the entire
    per-document O(len*window) work in C. The Catalyst fold kept the
    named_struct-per-element rolling update whose allocation cost
    dominated the row (2.6-3.6 s at sf1.0 -> ~1.0 s). The DuckDB oracle
    keeps its straightforward windowed refold — equal residues by
    modular arithmetic (oracle-verified at sf0.001/0.01/0.1).

    Overflow accounting (int64): c*B^j products are <= 255 * (M-1)
    ~ 2.3e18 < 2^63 before their mod; the mod-reduced terms (< M ~
    9e15) sum in chunks of 512 (< 4.6e18 < 2^63) with a mod between
    chunks. doc_fp uses the same polynomial form over the whole
    document.

    Memory: the window matrix is built FP_BLOCK windows at a time and
    win_fp is the minimum over the blocks, so a document costs O(len)
    plus one (FP_BLOCK x FP_WINDOW) block (8 MB), not an
    (len-window+1) x window matrix (0.5 GB for a 1 MB document). Each
    window's arithmetic is unchanged, so the output is bit-identical."""
    import re as _re

    strip = _re.compile("[^a-z0-9]+")
    W = FP_WINDOW
    id_t = df.schema["doc_id"].dataType.simpleString()
    out_schema = (f"doc_id {id_t}, doc_fp bigint, win_fp bigint, "
                  f"norm_len int")

    def fp_batches(pdfs):
        import pandas as pd
        for pdf in pdfs:
            ids, dfs_, wfs, lens = [], [], [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                norm = strip.sub(" ", (t or "").lower()).strip()
                d, w, ln = _fp_one(norm.encode("ascii"), W)
                ids.append(i)
                dfs_.append(d)
                wfs.append(w)
                lens.append(ln)
            yield pd.DataFrame({"doc_id": ids, "doc_fp": dfs_,
                                "win_fp": wfs, "norm_len": lens})

    return df.select("doc_id", "text").mapInPandas(fp_batches, out_schema)


def top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Top-k most characteristic terms per document: rank by
    tf * (N + 1) / (df + 1) — term frequency weighted by smoothed inverse
    document frequency. The rational idf variant (no log) is chosen
    deliberately: IEEE multiply/divide are correctly rounded, so the
    score doubles are BIT-IDENTICAL across engines, while libm log()
    differs in the last ulp between JVM and DuckDB and can flip
    rank-boundary ties.

    Scale shape (100 TB): explode -> two map-side-combined aggregations
    (tf by (doc, term); df by term) -> term-frequency dim joined back ->
    per-doc window top-k. No all-pairs, no driver loops. The dim-join
    strategy is deliberately left to AQE: at bench scale the vocabulary
    is tiny and AQE picks a broadcast join from the MEASURED size of the
    dfreq aggregate; at 100 TB the distinct-term table is O(vocabulary)
    — potentially tens of GB — and a forced broadcast hint would bypass
    the size check and OOM the executors, so AQE degrades it to a
    shuffled join on `term` instead. N (the corpus document count) rides
    in as a broadcast cross join of a one-row aggregate — no driver-side
    count() action per invocation.
    """
    from pyspark.sql import Window

    tf = (df.select(F.col("doc_id"),
                    F.explode(F.expr(TOKENS)).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    ndocs = df.agg((F.count("*").cast("double") + F.lit(1.0)).alias("_n1"))
    tf = tf.crossJoin(F.broadcast(ndocs))  # one row — always safe
    scored = (tf.join(dfreq, "term")
                .withColumn("score", (F.col("tf") * F.col("_n1"))
                            / (F.col("df_t") + F.lit(1.0)))
                .drop("_n1"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"),
                                             F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select(F.col("doc_id"), "term",
                          F.col("tf").cast("bigint").alias("tf"),
                          F.col("df_t").cast("bigint").alias("df_t"),
                          "score", F.col("rank").cast("int")
                          .alias("rank")))
