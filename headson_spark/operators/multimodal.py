"""Multimodal column plumbing: image and audio payloads as opaque binary
columns with typed metadata, processed by Arrow-batched mapInPandas
kernels.

The codecs are hand-written in numpy, with no media library dependency:
binary PPM (P6) images via `ppm_encode` / `ppm_decode`, and RIFF/WAVE
PCM16 audio via `wav_encode` / `wav_decode`. `synth_ppm_media` and
`synth_wav_media` derive fixed-geometry payloads from a text column, and
`image_channel_stats` and `audio_stats` decode them into per-channel
means and amplitude statistics that a DuckDB oracle reproduces bit for
bit.
"""

from __future__ import annotations

import math
import re
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = ("media_id bigint, kind string, payload binary, "
                "width int, height int, sample_rate int")

PPM_W, PPM_H = 16, 16  # synth fixture geometry (768 RGB bytes)
_PRINTABLE = re.compile(r"[^ -~]")


def ppm_encode(pixels: np.ndarray, width: int, height: int) -> bytes:
    """Minimal binary PPM (P6) writer: pixels is (h*w*3,) uint8."""
    assert pixels.size == width * height * 3
    return b"P6\n%d %d\n255\n" % (width, height) + pixels.tobytes()


def ppm_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Hand-written binary PPM (P6) parser: magic, '#' comments,
    whitespace-separated width/height/maxval, then w*h*3 sample bytes.
    Returns (width, height, pixels[h, w, 3] uint8). Raises ValueError on
    malformed input."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    pos, fields = 2, []
    n = len(payload)
    while len(fields) < 3:
        while pos < n and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < n and payload[pos : pos + 1] == b"#":  # comment to EOL
            while pos < n and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < n and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    need = width * height * 3
    raster = payload[pos : pos + need]
    if len(raster) != need:
        raise ValueError("truncated PPM raster")
    return width, height, np.frombuffer(
        raster, dtype=np.uint8).reshape(height, width, 3)


def printable_ascii(text: str) -> str:
    """The byte source for synthesized PPM rasters: printable ASCII only,
    so the DuckDB oracle can reproduce the exact pixel bytes via
    regexp_replace + ascii()."""
    return _PRINTABLE.sub("", text or "") or "x"


def text_to_ppm(text: str) -> bytes:
    base = printable_ascii(text).encode("ascii")
    need = PPM_W * PPM_H * 3
    raster = (base * (need // len(base) + 1))[:need]
    return ppm_encode(np.frombuffer(raster, dtype=np.uint8), PPM_W, PPM_H)


# --- RIFF/WAVE PCM16 codec (real audio path, pure numpy) ---

WAV_SAMPLES = 1024   # synth fixture geometry: power of two -> exact means
WAV_RATE = 16000


def wav_encode(samples: np.ndarray, sample_rate: int) -> bytes:
    """Minimal canonical RIFF/WAVE writer: PCM, 16-bit little-endian.
    `samples` is int16, frame-major: shape (n,) is mono and (n, c) has c
    channels."""
    arr = np.asarray(samples, dtype="<i2")
    channels = 1 if arr.ndim == 1 else arr.shape[1]
    data = arr.tobytes()
    return (b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little")
            + struct.pack("<HHIIHH", 1, channels, sample_rate,
                          sample_rate * channels * 2, channels * 2, 16)
            + b"data" + len(data).to_bytes(4, "little") + data)


def wav_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Hand-written RIFF/WAVE parser: walks word-aligned chunks (unknown
    chunks like LIST/INFO are skipped), requires a PCM 16-bit 'fmt ' and
    a 'data' chunk. Returns (sample_rate, channels, samples[int16],
    shaped (n, channels) when channels > 1). Raises ValueError on
    malformed input."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    n = len(payload)
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("short fmt chunk")
    audio_fmt, channels, rate = struct.unpack("<HHI", fmt[:8])
    bits = struct.unpack("<H", fmt[14:16])[0]
    if audio_fmt != 1 or bits != 16:
        raise ValueError(f"only PCM16 supported (fmt={audio_fmt}, "
                         f"bits={bits})")
    if channels < 1:
        raise ValueError("zero channels")
    samples = np.frombuffer(data[: len(data) - len(data) % (2 * channels)],
                            dtype="<i2")
    if channels > 1:
        samples = samples.reshape(-1, channels)
    return rate, channels, samples


def text_to_wav(text: str) -> bytes:
    """Deterministic REAL audio payload: the text's printable-ASCII bytes
    repeated to WAV_SAMPLES samples, each byte b mapped linearly to the
    int16 sample (b - 80) * 256. Fixed geometry (1024 samples, 16 kHz,
    mono) so a SQL oracle can reproduce the exact sample values."""
    base = printable_ascii(text).encode("ascii")
    need = WAV_SAMPLES
    raw = (base * (need // len(base) + 1))[:need]
    samples = ((np.frombuffer(raw, dtype=np.uint8).astype(np.int32) - 80)
               * 256).astype(np.int16)
    return wav_encode(samples, WAV_RATE)


def synth_ppm_media(df: DataFrame) -> DataFrame:
    """Deterministic REAL image payloads: each `text` becomes a 16x16
    binary PPM (P6) whose raster repeats the text's printable-ASCII bytes.
    The geometry is fixed so a SQL oracle can reproduce the exact bytes."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [text_to_ppm(t) for t in pdf["text"]]
            yield pd.DataFrame({
                "media_id": pdf["doc_id"],
                "kind": "image",
                "payload": payloads,
                "width": PPM_W, "height": PPM_H,
                "sample_rate": 0,
            })

    return df.select("doc_id", "text").mapInPandas(fn, schema=MEDIA_SCHEMA)


def synth_wav_media(df: DataFrame) -> DataFrame:
    """Deterministic REAL audio payloads: each `text` becomes a
    1024-sample mono PCM16 WAV via text_to_wav. The geometry is fixed so
    a SQL oracle can reproduce the exact samples."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [text_to_wav(t) for t in pdf["text"]]
            yield pd.DataFrame({
                "media_id": pdf["doc_id"],
                "kind": "audio",
                "payload": payloads,
                "width": 0, "height": 0,
                "sample_rate": WAV_RATE,
            })

    return df.select("doc_id", "text").mapInPandas(fn, schema=MEDIA_SCHEMA)


AUDIO_STATS_SCHEMA = ("media_id bigint, n_bytes int, sample_rate int, "
                      "n_samples int, mean_amp double, rms_amp double, "
                      "peak_amp int")


def audio_stats(df: DataFrame) -> DataFrame:
    """Amplitude statistics via the REAL WAV decode path — DuckDB-oracle-
    checkable. Exactness: sample values and their squares are integers,
    partial float64 sums stay below 2^53, and the sample count is a power
    of two, so mean and mean-of-squares are EXACT in float64 and sqrt is
    IEEE-deterministic — the oracle computes bit-identical doubles."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "n_bytes": [], "sample_rate": [],
                    "n_samples": [], "mean_amp": [], "rms_amp": [],
                    "peak_amp": []}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                p = p if isinstance(p, (bytes, bytearray)) else bytes(p)
                rate, _, samples = wav_decode(p)
                flat = samples.reshape(-1).astype(np.float64)
                n = flat.size
                rows["media_id"].append(mid)
                rows["n_bytes"].append(len(p))
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(n)
                rows["mean_amp"].append(flat.sum() / n if n else 0.0)
                rows["rms_amp"].append(
                    math.sqrt((flat * flat).sum() / n) if n else 0.0)
                rows["peak_amp"].append(
                    int(np.abs(flat).max()) if n else 0)
            yield pd.DataFrame(rows)

    return df.mapInPandas(fn, schema=AUDIO_STATS_SCHEMA)


CHANNEL_STATS_SCHEMA = ("media_id bigint, n_bytes int, "
                        "mean_r double, mean_g double, mean_b double")


def image_channel_stats(df: DataFrame) -> DataFrame:
    """Per-channel mean pixel value via the REAL PPM decode path —
    DuckDB-oracle-checkable (the oracle recomputes the raster bytes from
    the source text and averages every 3rd byte)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "n_bytes": [],
                    "mean_r": [], "mean_g": [], "mean_b": []}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                p = p if isinstance(p, (bytes, bytearray)) else bytes(p)
                _, _, px = ppm_decode(p)
                # integer channel sums / power-of-two pixel count: the
                # division is EXACT in float64, so no rounding is needed
                # for cross-engine comparison
                means = px.reshape(-1, 3).astype(np.float64).mean(axis=0)
                rows["media_id"].append(mid)
                rows["n_bytes"].append(len(p))
                rows["mean_r"].append(means[0])
                rows["mean_g"].append(means[1])
                rows["mean_b"].append(means[2])
            yield pd.DataFrame(rows)

    return df.mapInPandas(fn, schema=CHANNEL_STATS_SCHEMA)
