"""top_terms plan shape: the vocabulary document-frequency dim must NOT
be force-broadcast (at 100 TB it is O(vocabulary) and a forced hint
bypasses Spark's size check); the only broadcast hint allowed is the
one-row corpus-count aggregate. AQE still picks a broadcast join for the
dim at bench scale — from its measured size, not a hint."""

from __future__ import annotations

import pytest

from headson_spark.operators.text_stats import top_terms


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"alpha beta gamma doc{i} term{i % 7} common words here")
            for i in range(40)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_no_forced_broadcast_of_vocab_dim(spark, docs):
    plan = _analyzed(top_terms(docs, k=2))
    # exactly one hint: the broadcast of the 1-row document-count
    # aggregate; zero hints on the dfreq vocabulary join
    assert plan.count("ResolvedHint") == 1, plan
    assert "UnresolvedHint" not in plan


def test_rolling_fp_shift_invariance_and_dup_keys(spark):
    """doc_fp: equal iff normalized content equal (formatting noise
    collapses); win_fp: invariant under prefix insertion (the minimizing
    window survives the shift) — the property that makes it a near-dup
    blocking key where a whole-document hash breaks."""
    from headson_spark.operators.text_stats import rolling_fingerprint
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the quiet field until sunset falls")
    rows = [
        (0, base),
        (1, "The  quick,, brown FOX jumps over the lazy dog and keeps "
            "running through the quiet field until sunset falls"),
        (2, "NEW PREFIX INSERTED HERE. " + base),
        (3, "completely different content about another topic entirely "
            "with nothing shared at all in any window of text"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fp = {r["doc_id"]: (r["doc_fp"], r["win_fp"])
          for r in rolling_fingerprint(df).collect()}
    assert fp[0][0] == fp[1][0], "formatting noise must not change doc_fp"
    assert fp[0][0] != fp[2][0], "real content change must change doc_fp"
    assert fp[0][1] == fp[2][1], \
        "win_fp must survive a prefix insertion (shift invariance)"
    assert fp[0][1] != fp[3][1]


def test_rolling_fp_matches_pure_python_reference(spark):
    """The O(len) rolling-update expression must equal a straightforward
    pure-Python windowed refold on deterministic pseudo-random texts
    (incl. lengths straddling the window boundary and empty/whitespace
    normalization edge cases)."""
    import re
    from headson_spark.operators.text_stats import (RH_BASE, RH_MOD,
                                                    rolling_fingerprint)
    W = 16

    def ref(text):
        norm = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
        codes = [ord(c) for c in norm] or [0]
        fold = lambda cs: __import__("functools").reduce(
            lambda a, c: (a * RH_BASE + c) % RH_MOD, cs, 0)
        doc = fold(codes)
        wins = [fold(codes[i:i + W])
                for i in range(max(len(codes) - W + 1, 1))]
        return doc, min(wins)

    words = ["alpha", "beta", "Gamma!", "42", "  ", "x", "thing"]
    rows = []
    for i in range(40):
        n_words = (i * 7919) % 9  # 0..8 words: lengths straddle W=16
        text = " ".join(words[(i * 31 + j) % len(words)]
                        for j in range(n_words))
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: (r["doc_fp"], r["win_fp"])
           for r in rolling_fingerprint(df).collect()}
    for i, text in rows:
        assert got[i] == ref(text), (i, repr(text), got[i], ref(text))


@pytest.mark.parametrize("block", [65536, 7])
def test_rolling_fp_blocked_equals_one_shot(monkeypatch, block):
    """win_fp hashed FP_BLOCK windows at a time equals the one-shot
    (n-W+1) x W matrix, bit for bit, on random ASCII documents whose
    window counts fall just under, at and just over a block edge (and
    over two edges). A document of one repeated letter ending in a
    different character has exactly one distinct window, the last one,
    so it also checks that the window at each edge is hashed."""
    import numpy as np
    from headson_spark.operators import text_stats as ts
    W = 16
    rng = np.random.default_rng(7)
    alphabet = b"abcdefghijklmnopqrstuvwxyz0123456789 "
    monkeypatch.setattr(ts, "FP_BLOCK", block)
    last_is_min = 0
    for n in (block + W - 2, block + W - 1, block + W, 2 * block + W):
        docs = [rng.choice(np.frombuffer(alphabet, dtype=np.uint8),
                           n).tobytes()]
        docs += [b"a" * (n - 1) + bytes([x]) for x in alphabet[1:]]
        for doc in docs:
            blocked = ts._fp_one(doc, W)
            c = np.frombuffer(doc, dtype=np.uint8).astype(np.int64)
            wins = np.lib.stride_tricks.sliding_window_view(c, W)
            one_shot = ts._mod_sum_last(
                (wins * ts._powers(W)[W - 1::-1]) % ts.RH_MOD)
            assert blocked[2] == n
            assert blocked[1] == int(one_shot.min()), (block, n, doc[-1:])
            last_is_min += int(one_shot.argmin()) == len(one_shot) - 1
            monkeypatch.setattr(ts, "FP_BLOCK", 10**9)
            assert ts._fp_one(doc, W) == blocked
            monkeypatch.setattr(ts, "FP_BLOCK", block)
    assert last_is_min >= 4
