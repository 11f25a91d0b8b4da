"""Real PNG/WAV codec tests: round-trips, cross-implementation
checks (stdlib ``wave`` writes, our manual RIFF parser reads),
hand-built known-byte streams for every PNG filter type, and the
Spark-side typed media-stats operator."""

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from q_digest_spark.functions.codecs import (
    UnsupportedBlobError,
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)


def _pix(h, w, ch, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)


# ----------------------------------------------------------------- PNG

@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_png_roundtrip_all_color_types(ch):
    px = _pix(11, 7, ch, seed=ch)
    w, h, got_ch, got = decode_png(encode_png(px))
    assert (w, h, got_ch) == (7, 11, ch)
    assert np.array_equal(got, px)


def test_png_known_bytes_2x2_gray():
    """Fully hand-built 2x2 grayscale PNG (filter 0), no encoder
    involved: literal chunk bytes -> literal pixels."""
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    raw = b"\x00\x0a\x14" + b"\x00\x1e\x28"  # rows [10,20], [30,40]

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    blob = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    w, h, ch, px = decode_png(blob)
    assert (w, h, ch) == (2, 2, 1)
    assert px.reshape(-1).tolist() == [10, 20, 30, 40]


def _apply_filter_forward(ftype, cur, prev, ch):
    """Independent forward-filter implementation (PNG spec §9) used to
    BUILD test streams — decode_png must invert it exactly."""
    stride = len(cur)
    out = np.zeros(stride, dtype=np.uint8)
    for x in range(stride):
        a = int(cur[x - ch]) if x >= ch else 0      # left (recon)
        b = int(prev[x])                            # up (recon)
        c = int(prev[x - ch]) if x >= ch else 0     # upper-left (recon)
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) // 2
        else:  # Paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out[x] = (int(cur[x]) - pred) & 0xFF
    return out


@pytest.mark.parametrize("ch", [1, 3, 4])
def test_png_decodes_every_filter_type(ch):
    """One scanline per filter type 0..4, filtered bytes produced by
    the independent forward implementation above."""
    h, w = 5, 6
    px = _pix(h, w, ch, seed=99)
    flat = px.reshape(h, w * ch)
    body = bytearray()
    zero = np.zeros(w * ch, dtype=np.uint8)
    for y in range(h):
        prev = flat[y - 1] if y else zero
        body += bytes([y])  # filter type y on row y
        body += _apply_filter_forward(y, flat[y], prev, ch).tobytes()

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2, 4: 6}[ch], 0, 0, 0)
    blob = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(body))) + chunk(b"IEND", b""))
    got_w, got_h, got_ch, got = decode_png(blob)
    assert (got_w, got_h, got_ch) == (w, h, ch)
    assert np.array_equal(got, px)


def test_png_multiple_idat_chunks_concatenate():
    px = _pix(4, 4, 3, seed=5)
    blob = encode_png(px)
    # split the single IDAT into two by re-assembling chunks
    def chunks(b):
        pos, out = 8, []
        while pos + 8 <= len(b):
            (ln,) = struct.unpack(">I", b[pos:pos + 4])
            out.append((b[pos + 4:pos + 8], b[pos + 8:pos + 8 + ln]))
            pos += 12 + ln
        return out

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    parts = b"\x89PNG\r\n\x1a\n"
    for t, d in chunks(blob):
        if t == b"IDAT":
            mid = len(d) // 2
            parts += chunk(b"IDAT", d[:mid]) + chunk(b"IDAT", d[mid:])
        else:
            parts += chunk(t, d)
    assert np.array_equal(decode_png(parts)[3], px)


def test_png_rejects_unsupported_variants():
    with pytest.raises(UnsupportedBlobError):
        decode_png(b"not a png at all")
    # 16-bit depth
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    blob = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00")))
    with pytest.raises(UnsupportedBlobError):
        decode_png(blob)
    # interlaced
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1)
    blob = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00\x00")))
    with pytest.raises(UnsupportedBlobError):
        decode_png(blob)


# ----------------------------------------------------------------- WAV

@pytest.mark.parametrize("channels", [1, 2])
def test_wav_crosscheck_stdlib_writer_16bit(channels):
    """stdlib ``wave`` writes, OUR parser reads — independent
    implementations must agree sample-for-sample."""
    rng = np.random.default_rng(7)
    frames = rng.integers(-30000, 30000, size=(200, channels), dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(channels)
        wv.setsampwidth(2)
        wv.setframerate(44100)
        wv.writeframes(frames.astype("<i2").tobytes())
    rate, ch, got = decode_wav(buf.getvalue())
    assert (rate, ch) == (44100, channels)
    assert np.array_equal(got, frames.astype(np.int32))


def test_wav_crosscheck_stdlib_writer_8bit():
    vals = np.arange(0, 256, dtype=np.uint8)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(1)
        wv.setframerate(8000)
        wv.writeframes(vals.tobytes())
    rate, ch, got = decode_wav(buf.getvalue())
    assert (rate, ch) == (8000, 1)
    # 8-bit PCM is unsigned; parser centers at 0
    assert np.array_equal(got[:, 0], vals.astype(np.int32) - 128)


def test_wav_roundtrip_own_encoder():
    frames = (np.sin(np.linspace(0, 20, 500)) * 20000).astype(np.int16)
    rate, ch, got = decode_wav(encode_wav(frames, rate=16000))
    assert (rate, ch) == (16000, 1)
    assert np.array_equal(got[:, 0], frames.astype(np.int32))
    # and stdlib wave can read our encoder's output (both directions)
    with wave.open(io.BytesIO(encode_wav(frames, rate=16000)), "rb") as wv:
        assert wv.getframerate() == 16000
        assert wv.getnframes() == 500
        back = np.frombuffer(wv.readframes(500), dtype="<i2")
    assert np.array_equal(back, frames)


def test_wav_rejects_nonpcm():
    b = encode_wav(np.zeros(4, dtype=np.int16))
    # flip format code 1 -> 3 (IEEE float) inside fmt chunk
    idx = b.index(b"fmt ") + 8
    bad = b[:idx] + struct.pack("<H", 3) + b[idx + 2:]
    with pytest.raises(UnsupportedBlobError):
        decode_wav(bad)
    with pytest.raises(UnsupportedBlobError):
        decode_wav(b"RIFFxxxxJUNK")


# --------------------------------------------------- dispatcher + Spark

def test_extract_media_stats_spark(spark):
    from q_digest_spark.operators.multimodal import extract_media_stats

    png = encode_png(np.full((2, 3, 3), 9, dtype=np.uint8))
    wav = encode_wav(np.array([100, -100, 100, -100], np.int16), 12000)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(wav)), (3, bytearray(b"????")),
         (4, None)],
        "doc_id long, blob binary",
    )
    rows = {r["id"]: r.asDict() for r in
            extract_media_stats(df, "blob", "doc_id").collect()}
    assert rows[1]["modality"] == "png"
    assert (rows[1]["width"], rows[1]["height"], rows[1]["channels"]) == (3, 2, 3)
    assert rows[1]["value_sum"] == 9 * 18
    assert rows[2]["modality"] == "wav"
    assert (rows[2]["sample_rate"], rows[2]["n_frames"]) == (12000, 4)
    assert rows[2]["value_sum"] == 400
    assert rows[2]["value_min"] == -100 and rows[2]["value_max"] == 100
    assert rows[3]["modality"] == "stub" and rows[3]["value_sum"] == 4
    assert rows[4]["modality"] == "stub" and rows[4]["value_sum"] == 0
