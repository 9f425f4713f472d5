"""Deterministic synthetic transcript tables (FIXTURES.md §1).

Schema — exactly the input_hint shape from BASELINE.json:
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

All randomness is a counter-based mix64 hash of (fixture ordinal,
conv ordinal, turn_idx): regenerable anywhere, order-independent, no
external data. Row counts follow FIXTURES.md (sf=0.01 base, conversations
x10 per scale step); the `bulk` tag provides bench volume (>=10^6 turns at
sf>=0.1 when bulk_scale is enabled).
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..kernel.arena import mix64

EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
EPOCH_US = int(EPOCH.timestamp() * 1_000_000)

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo "
    "consequat duis aute irure in reprehenderit voluptate velit esse cillum "
    "fugiat nulla pariatur excepteur sint occaecat cupidatat non proident "
    "sunt culpa qui officia deserunt mollit anim id est laborum"
).split()

_UNI_SNIPPETS = [
    "👍🏽 thumbs with tone",
    "family 👨‍👩‍👧‍👦 emoji",
    "flags 🇺🇸🇫🇷🇯🇵 row",
    "combining é mark",
    "mixed 🙂🙃 faces",
    "zwj 🧑‍💻 coder",
]

_ESC_SNIPPETS = [
    'quote " inside',
    "back\\slash here",
    "line\nbreak turn",
    "tab\tseparated",
    "nul\x00byte",
    "bell\x07ctrl",
]

_ROLES = ("user", "assistant", "tool")


def _h(tag_ord: int, conv: int, turn: int, salt: int = 0) -> int:
    return mix64((tag_ord << 40) ^ (conv << 16) ^ turn ^ (salt << 56))


def _sentence(tag_ord: int, conv: int, turn: int,
              lo_words: int = 4, hi_words: int = 12) -> str:
    h = _h(tag_ord, conv, turn)
    n = lo_words + (h % (hi_words - lo_words + 1))
    ws = []
    for j in range(n):
        hj = _h(tag_ord, conv, turn, salt=j + 1)
        ws.append(_WORDS[hj % len(_WORDS)])
    return " ".join(ws)


# text length of a "long" fixture turn
LOREM_CHARS = 2000


def _lorem(tag_ord: int, conv: int, turn: int) -> str:
    parts = []
    total = 0
    j = 0
    while total < LOREM_CHARS:
        hj = _h(tag_ord, conv, turn, salt=j + 1)
        w = _WORDS[hj % len(_WORDS)]
        parts.append(w)
        total += len(w) + 1
        j += 1
    return " ".join(parts)[:LOREM_CHARS]


# tag -> (ordinal, conversations at sf 0.01, turns per conv)
TAGS = {
    "plain": (1, 100, 8),
    "long": (2, 20, 4),
    "uni": (3, 10, 6),
    "esc": (4, 10, 6),
    "empty": (5, 5, 1),
    "big": (6, 3, 500),
    "skewhot": (7, 1, 50_000),
    "late": (8, 20, 10),
    "bulk": (9, 0, 16),  # conversations set by bulk_turns
}


def _text_for(tag: str, tag_ord: int, conv: int, turn: int) -> str:
    if tag == "plain" or tag == "bulk":
        return _sentence(tag_ord, conv, turn)
    if tag == "long":
        return _lorem(tag_ord, conv, turn)
    if tag == "uni":
        base = _UNI_SNIPPETS[_h(tag_ord, conv, turn) % len(_UNI_SNIPPETS)]
        return f"{base} t{turn}"
    if tag == "esc":
        base = _ESC_SNIPPETS[_h(tag_ord, conv, turn) % len(_ESC_SNIPPETS)]
        return f"{base} t{turn}"
    if tag == "empty":
        return ""
    if tag == "big" or tag == "skewhot":
        return f"line{turn}: " + _sentence(tag_ord, conv, turn, 2, 6)
    if tag == "late":
        return _sentence(tag_ord, conv, turn)
    raise ValueError(tag)


def generate_rows(sf: float = 0.01, tags: list[str] | None = None,
                  bulk_turns: int = 0):
    """Yield per-tag column dicts. scale = sf / 0.01 multiplies
    conversation counts (skewhot stays a single hot conversation)."""
    scale = max(sf / 0.01, 0.001)
    out = {k: [] for k in
           ("conv_id", "turn_idx", "role", "text", "tool", "ts_us")}
    use = tags or [t for t in TAGS if t != "bulk" or bulk_turns > 0]
    for tag in use:
        tag_ord, base_convs, turns = TAGS[tag]
        if tag == "bulk":
            n_convs = max(bulk_turns // turns, 1) if bulk_turns else 0
        elif tag == "skewhot":
            n_convs = 1
        else:
            n_convs = max(int(round(base_convs * scale)), 1)
        for conv in range(n_convs):
            conv_id = f"c{tag}_{conv:06d}"
            if tag == "empty" and _h(tag_ord, conv, 0) % 2 == 0:
                continue  # truly empty conversation: no rows
            n_turns = turns
            for turn in range(n_turns):
                role = _ROLES[turn % 3]
                ts = EPOCH_US + conv * 60_000_000 + turn * 1_000_000
                if tag == "late":
                    jitter = (_h(tag_ord, conv, turn, salt=99)
                              % 240_000_000) - 120_000_000
                    ts += jitter
                out["conv_id"].append(conv_id)
                out["turn_idx"].append(turn)
                out["role"].append(role)
                out["text"].append(_text_for(tag, tag_ord, conv, turn))
                out["tool"].append(f"tool_{turn % 5}" if role == "tool"
                                   else "")
                out["ts_us"].append(ts)
                if tag == "late" and _h(tag_ord, conv, turn, salt=7) % 10 == 0:
                    # duplicate turn, later ts, v2 payload (last-write-wins)
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(turn)
                    out["role"].append(role)
                    out["text"].append(
                        _text_for(tag, tag_ord, conv, turn) + " v2")
                    out["tool"].append(f"tool_{turn % 5}" if role == "tool"
                                       else "")
                    out["ts_us"].append(ts + 300_000_000)
    return out


def to_arrow(cols) -> pa.Table:
    return pa.table({
        "conv_id": pa.array(cols["conv_id"], pa.string()),
        "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
        "role": pa.array(cols["role"], pa.string()),
        "text": pa.array(cols["text"], pa.string()),
        "tool": pa.array(cols["tool"], pa.string()),
        "ts": pa.array(cols["ts_us"], pa.timestamp("us", tz="UTC")),
    })


def write_transcripts(path: str, sf: float = 0.01, bulk_turns: int = 0,
                      n_files: int = 1) -> str:
    """Write transcripts (every tag) as one parquet file (n_files=1) or a
    directory of n_files shards — sharding matters for scan parallelism:
    one 40MB file is one Spark scan task regardless of cluster size."""
    tbl = to_arrow(generate_rows(sf, None, bulk_turns))
    if n_files <= 1:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        pq.write_table(tbl, path)
        return path
    os.makedirs(path, exist_ok=True)
    n = tbl.num_rows
    step = (n + n_files - 1) // n_files
    for i in range(n_files):
        chunk = tbl.slice(i * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(path, f"part-{i:04d}.parquet"))
    return path


# shards of an ensure_transcripts table: enough scan tasks for a 32-core
# host; the count is part of the cache file name
CACHE_SHARDS = 32


def ensure_transcripts(sf: float = 0.01, base_dir: str | None = None,
                       bulk_turns: int = 0) -> str:
    """Generate-once cache under data/ (gitignored)."""
    base = base_dir or os.path.join(os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "data")
    name = f"transcripts_sf{sf}_b{bulk_turns}_f{CACHE_SHARDS}.parquet"
    path = os.path.join(base, name)
    if not os.path.exists(path):
        write_transcripts(path, sf, bulk_turns=bulk_turns,
                          n_files=CACHE_SHARDS)
    return path


def transcripts_from_events(spark, sf_dir: str):
    """Derive a transcript-shaped table from the driver's events table
    (conv = user_id, turn = event ordinal by ts): lets correctness queries
    run against the shared /root/testdata parquet with a DuckDB oracle."""
    from pyspark.sql import functions as F, Window
    # NOT widened (round-6 measurement): the very next operator is the
    # user_id window's own exchange, so the single-row-group scan task
    # only projects + shuffle-writes — a read_widened repartition would
    # ADD a single-task sort+exchange in front of the exchange the plan
    # already pays (measured: conv_assemble 1.3 s -> 3.1 s at sf1.0).
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit("").alias("tool"),
        F.col("ts")))
