"""Seeded, vectorised input generator for the benchmark workloads.

The program under test only ever sees the parquet files written here; the
benchmark keeps the same rows in memory (as one pyarrow table) to check
the outputs. The same seed gives byte-identical rows.

Text is sentence-length lorem ipsum built by one `binary_join` over a
list array of word ids, so a 100k-row input takes a tenth of a second.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo "
    "consequat duis aute irure in reprehenderit voluptate velit esse cillum "
    "fugiat nulla pariatur excepteur sint occaecat cupidatat non proident "
    "sunt culpa qui officia deserunt mollit anim id est laborum"
).split()
ROLES = ("user", "assistant", "tool")
EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z

# Shapes. A batch pass takes 1.5-3 s on four cores, so several fit in
# one run. A stream replay is 19 files, hence 20 micro-batches (the last
# one only advances the watermark), each 1-1.5 s, most of it the
# per-batch cost of the stateful operator.
BULK_CONVS, BULK_TURNS = 3_000, 16
STREAM_CONVS, STREAM_TURNS = 64, 19
LATE_JITTER_US = 120_000_000   # the `late` shape's +-2 min
DUP_FRAC = 0.10                # share of turns delivered twice
DUP_DELAY_US = 300_000_000     # the duplicate's ts is 5 min later
N_FILES = 8                    # batch inputs are split across this many


@dataclass
class Input:
    table: pa.Table   # every delivered row, in delivery order
    path: str         # parquet directory the program reads
    n_files: int

    @property
    def n_rows(self) -> int:
        return self.table.num_rows


def _sentences(rng: np.random.Generator, n: int) -> pa.Array:
    """n sentences of 4..12 words, one vectorised join."""
    nwords = rng.integers(4, 13, n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(nwords, out=offsets[1:])
    words = pa.array(WORDS).take(
        pa.array(rng.integers(0, len(WORDS), int(offsets[-1]))))
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words),
                          " ")


def _table(rng, conv: np.ndarray, turn: np.ndarray, ts_us: np.ndarray,
           conv_names: pa.Array) -> pa.Table:
    n = len(conv)
    tool_names = pa.array([f"tool_{i}" for i in range(5)])
    role_id = turn % 3
    tool = pc.if_else(pa.array(role_id == 2),
                      tool_names.take(pa.array(turn % 5)), "")
    return pa.table({
        "conv_id": conv_names.take(pa.array(conv)),
        "turn_idx": pa.array(turn.astype(np.int32)),
        "role": pa.array(ROLES).take(pa.array(role_id)),
        "text": _sentences(rng, n),
        "tool": tool,
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
    })


def _conv_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}{i:06d}" for i in range(n)])


def _conv_major(lengths: np.ndarray):
    """(conv, turn) index arrays for conversations of the given lengths,
    all turns of one conversation adjacent."""
    conv = np.repeat(np.arange(len(lengths)), lengths)
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    return conv, np.arange(int(lengths.sum())) - starts


def make_bulk(rng) -> pa.Table:
    conv, turn = _conv_major(np.full(BULK_CONVS, BULK_TURNS))
    ts = EPOCH_US + conv * 60_000_000 + turn * 1_000_000
    return _table(rng, conv, turn, ts, _conv_names("cbulk_", BULK_CONVS))


def make_stream(rng) -> list[pa.Table]:
    """File k holds turn k of every conversation, with +-2 min jitter on
    ts; 10% of turns are delivered again (text + " v2", ts 5 min later)
    in the next file, or in the same file for the last turn. Event time
    advances 60 s per file, so with the library's 10 min watermark no
    delivery is ever late and no session closes during the replay."""
    names = _conv_names("cstream_", STREAM_CONVS)
    files = []
    prev_dups = None
    for k in range(STREAM_TURNS):
        conv = np.arange(STREAM_CONVS)
        turn = np.full(STREAM_CONVS, k)
        ts = (EPOCH_US + k * 60_000_000 + conv * 10_000
              + rng.integers(-LATE_JITTER_US, LATE_JITTER_US + 1,
                             STREAM_CONVS))
        t = _table(rng, conv, turn, ts, names)
        dup = rng.random(STREAM_CONVS) < DUP_FRAC
        dups = t.filter(pa.array(dup))
        dups = dups.set_column(
            dups.schema.get_field_index("text"), "text",
            pc.binary_join_element_wise(dups["text"], " v2", ""))
        dups = dups.set_column(
            dups.schema.get_field_index("ts"), "ts",
            pa.array(np.asarray(dups["ts"].cast(pa.int64())) + DUP_DELAY_US,
                     pa.timestamp("us", tz="UTC")))
        parts = [t] + ([prev_dups] if prev_dups is not None else [])
        if k == STREAM_TURNS - 1:
            parts.append(dups)
        files.append(pa.concat_tables(parts))
        prev_dups = dups
    return files


def _write(tables: list[pa.Table], path: str) -> None:
    """One parquet file per table. Modification times increase 1 s per
    file: Spark's file stream source takes files in modification-time
    order, and files written within the same second would otherwise be
    replayed in directory-listing order, with later turns first."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for i, t in enumerate(tables):
        f = os.path.join(path, f"part-{i:04d}.parquet")
        pq.write_table(t, f)
        os.utime(f, ns=(EPOCH_US * 1000 + i * 10**9,) * 2)


def _split(t: pa.Table, n: int) -> list[pa.Table]:
    step = -(-t.num_rows // n)
    return [t.slice(i * step, step) for i in range(n)]


def generate(workload: str, seed: int, work_dir: str) -> Input:
    """Make the workload's rows from `seed` and write them as parquet
    files under work_dir."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    path = os.path.join(work_dir, "input", workload)
    if workload == "stream_replay":
        files = make_stream(rng)
        _write(files, path)
        return Input(pa.concat_tables(files), path, len(files))
    table = make_bulk(rng)
    _write(_split(table, N_FILES), path)
    return Input(table, path, N_FILES)
