"""PPM (P6) and RIFF/WAVE PCM16 codecs and the fixed-geometry payloads
the multimodal operators decode (hand-written parsers)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from headson_spark.operators.multimodal import (PPM_H, PPM_W,
                                                WAV_RATE, WAV_SAMPLES,
                                                ppm_decode, ppm_encode,
                                                printable_ascii,
                                                text_to_ppm, text_to_wav,
                                                wav_decode, wav_encode)


def test_ppm_roundtrip():
    px = np.arange(PPM_W * PPM_H * 3, dtype=np.uint64) % 256
    px = px.astype(np.uint8)
    payload = ppm_encode(px, PPM_W, PPM_H)
    w, h, out = ppm_decode(payload)
    assert (w, h) == (PPM_W, PPM_H)
    assert np.array_equal(out.reshape(-1), px)


def test_ppm_decode_handles_comments_and_whitespace():
    raster = bytes(range(12))  # 2x2 RGB
    payload = b"P6\n# a comment\n 2\t2 # trailing\n255\n" + raster
    w, h, px = ppm_decode(payload)
    assert (w, h) == (2, 2)
    assert px.tobytes() == raster


@pytest.mark.parametrize("payload", [
    b"P5\n2 2\n255\n" + bytes(12),          # wrong magic
    b"P6\n2 2\n65535\n" + bytes(24),        # unsupported maxval
    b"P6\n2 2\n255\n" + bytes(5),           # truncated raster
    b"P6\n2 2",                              # truncated header
])
def test_ppm_decode_rejects_malformed(payload):
    with pytest.raises(ValueError):
        ppm_decode(payload)


def test_text_to_ppm_deterministic_raster():
    payload = text_to_ppm("abc")
    w, h, px = ppm_decode(payload)
    flat = px.reshape(-1)
    base = b"abc"
    expect = (base * (768 // 3 + 1))[:768]
    assert flat.tobytes() == expect
    assert len(payload) == 13 + 768


def test_printable_ascii_fallback():
    assert printable_ascii("") == "x"
    assert printable_ascii("é中") == "x"  # no printable ASCII
    assert printable_ascii("aéb") == "ab"


# --- WAV (RIFF PCM16) codec ---


def test_wav_roundtrip_mono():
    samples = (np.arange(100, dtype=np.int32) * 331 - 16000).astype(
        np.int16)
    payload = wav_encode(samples, 8000)
    rate, channels, out = wav_decode(payload)
    assert (rate, channels) == (8000, 1)
    assert np.array_equal(out, samples)
    assert len(payload) == 44 + 200


def test_wav_roundtrip_stereo():
    frames = np.array([[1, -1], [300, -300], [32767, -32768]],
                      dtype=np.int16)
    payload = wav_encode(frames, 44100)
    rate, channels, out = wav_decode(payload)
    assert (rate, channels) == (44100, 2)
    assert out.shape == (3, 2)
    assert np.array_equal(out, frames)


def test_wav_decode_skips_unknown_chunks():
    samples = np.array([5, -5, 7], dtype=np.int16)
    payload = wav_encode(samples, 16000)
    # splice a LIST chunk (odd size -> exercises word-alignment padding)
    extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"
    spliced = payload[:12] + extra + payload[12:]
    rate, channels, out = wav_decode(spliced)
    assert np.array_equal(out, samples)


@pytest.mark.parametrize("payload", [
    b"RIFX" + bytes(40),                                  # wrong magic
    b"RIFF" + bytes(4) + b"AVI " + bytes(32),             # not WAVE
    b"RIFF" + bytes(4) + b"WAVE",                         # no chunks
    # truncated data chunk
    b"RIFF" + bytes(4) + b"WAVE" + b"data"
    + (100).to_bytes(4, "little") + bytes(10),
])
def test_wav_decode_rejects_malformed(payload):
    with pytest.raises(ValueError):
        wav_decode(payload)


def test_wav_decode_rejects_non_pcm16():
    # mu-law (fmt=7) and 8-bit PCM must be refused, not mis-parsed
    body = struct_pack_fmt(7, 1, 8000, 8)
    with pytest.raises(ValueError):
        wav_decode(body)
    body = struct_pack_fmt(1, 1, 8000, 8)
    with pytest.raises(ValueError):
        wav_decode(body)


def struct_pack_fmt(audio_fmt, channels, rate, bits):
    import struct
    fmt = struct.pack("<HHIIHH", audio_fmt, channels, rate,
                      rate * channels * bits // 8,
                      channels * bits // 8, bits)
    return (b"RIFF" + (36).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little") + fmt
            + b"data" + (0).to_bytes(4, "little"))


def test_text_to_wav_deterministic_samples():
    payload = text_to_wav("ab")
    rate, channels, samples = wav_decode(payload)
    assert (rate, channels) == (WAV_RATE, 1)
    assert samples.size == WAV_SAMPLES
    a, b = (ord("a") - 80) * 256, (ord("b") - 80) * 256
    assert list(samples[:4]) == [a, b, a, b]
    assert len(payload) == 44 + 2 * WAV_SAMPLES


def test_audio_stats_matches_numpy_reference():
    """audio_stats math cross-checked in pure Python on the exact
    construction the oracle reproduces."""
    from headson_spark.operators.multimodal import printable_ascii
    text = "Hello, WAV world! 123"
    payload = text_to_wav(text)
    _, _, samples = wav_decode(payload)
    base = printable_ascii(text).encode("ascii")
    raw = (base * (WAV_SAMPLES // len(base) + 1))[:WAV_SAMPLES]
    expect = [(b - 80) * 256 for b in raw]
    assert list(samples) == expect
    mean = sum(expect) / WAV_SAMPLES
    rms = math.sqrt(sum(v * v for v in expect) / WAV_SAMPLES)
    flat = samples.astype(np.float64)
    assert flat.sum() / WAV_SAMPLES == mean
    assert math.sqrt((flat * flat).sum() / WAV_SAMPLES) == rms


def test_wav_roundtrip_property():
    """Randomized roundtrip: arbitrary int16 payloads, mono + stereo,
    varied rates — encode/decode must be lossless."""
    import random
    rng = random.Random(29)
    for _ in range(50):
        n = rng.randrange(0, 400)
        channels = rng.choice([1, 2])
        rate = rng.choice([8000, 16000, 22050, 44100, 48000])
        vals = np.array([rng.randrange(-32768, 32768)
                         for _ in range(n * channels)],
                        dtype=np.int16)
        frames = vals.reshape(-1, channels) if channels > 1 else vals
        payload = wav_encode(frames, rate)
        r, c, out = wav_decode(payload)
        assert (r, c) == (rate, channels)
        assert np.array_equal(out.reshape(-1), vals)
