"""Stdlib codec layer (functions/codecs.py): PNG round-trips, all
five PNG scanline filters, WAV decode, feature extractors, GIF
round-trips and their error contracts."""

from __future__ import annotations

import io
import math
import struct
import wave
import zlib

import pytest

from datapatterns_spark.functions import codecs as cd


def _gradient(w, h, c):
    px = bytearray(w * h * c)
    for y in range(h):
        for x in range(w):
            for ch in range(c):
                px[(y * w + x) * c + ch] = (x * 7 + y * 13 + ch * 31) % 256
    return px


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip(channels):
    w, h = 13, 9  # odd sizes: no stride alignment luck
    px = _gradient(w, h, channels)
    data = cd.png_encode(px, w, h, channels)
    w2, h2, c2, px2 = cd.png_decode(data)
    assert (w2, h2, c2) == (w, h, channels)
    assert px2 == px


def _encode_with_filter(px, w, h, c, fbyte):
    """Build a valid PNG whose every scanline uses filter `fbyte` —
    exercises the decoder's un-filtering, which png_encode (filter 0)
    never does."""
    stride, bpp = w * c, c
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        line = px[y * stride : (y + 1) * stride]
        raw.append(fbyte)
        for x in range(stride):
            left = line[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            if fbyte == 0:
                f = line[x]
            elif fbyte == 1:
                f = line[x] - left
            elif fbyte == 2:
                f = line[x] - up
            elif fbyte == 3:
                f = line[x] - ((left + up) >> 1)
            else:
                f = line[x] - cd._paeth(left, up, ul)
            raw.append(f & 0xFF)
        prev = line

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        cd.PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("fbyte", [0, 1, 2, 3, 4])
def test_png_decode_all_filters(fbyte):
    w, h, c = 11, 7, 3
    px = _gradient(w, h, c)
    data = _encode_with_filter(px, w, h, c, fbyte)
    w2, h2, c2, px2 = cd.png_decode(data)
    assert (w2, h2, c2) == (w, h, c)
    assert px2 == px


def test_png_rejects_unsupported():
    with pytest.raises(ValueError):
        cd.png_decode(b"not a png at all")
    # palette image header (color type 3)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0)

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    with pytest.raises(NotImplementedError):
        cd.png_decode(cd.PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IEND", b""))


def test_resize_box_constant_and_dims():
    w, h, c = 16, 12, 3
    px = bytearray([100, 150, 200] * (w * h))
    out = cd.resize_box(px, w, h, c, 4, 3)
    assert len(out) == 4 * 3 * c
    assert set(out[0::3]) == {100} and set(out[1::3]) == {150}
    assert set(out[2::3]) == {200}  # box average of a constant is itself


def _wav_bytes(freq=440.0, rate=8000, nsamp=400, amp=20000):
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(
            b"".join(
                int(amp * math.sin(2 * math.pi * freq * t / rate)).to_bytes(
                    2, "little", signed=True
                )
                for t in range(nsamp)
            )
        )
    return buf.getvalue()


def test_wav_decode_and_features():
    data = _wav_bytes()
    nch, rate, samples = cd.wav_decode(data)
    assert (nch, rate, len(samples)) == (1, 8000, 400)
    assert max(abs(s) for s in samples) <= 1.0
    feats = cd.audio_features(data, bins=16)
    assert len(feats) == 16
    # a steady sine's RMS is ~amp/sqrt(2) in every bin
    expected = (20000 / 32768.0) / math.sqrt(2)
    assert all(abs(f - expected) < 0.05 for f in feats)


def test_image_features_grid():
    # left half black, right half white -> grid columns 0,1 dark and
    # 2,3 bright
    w, h, c = 16, 16, 3
    px = bytearray(w * h * c)
    for y in range(h):
        for x in range(w // 2, w):
            o = (y * w + x) * c
            px[o : o + 3] = b"\xff\xff\xff"
    feats = cd.image_features(cd.png_encode(px, w, h, c), grid=4)
    assert len(feats) == 16
    for row in range(4):
        assert feats[4 * row] == 0.0 and feats[4 * row + 1] == 0.0
        assert feats[4 * row + 2] == 1.0 and feats[4 * row + 3] == 1.0


def test_gif_roundtrip():
    """Animated-GIF encode -> decode reproduces every frame's pixels
    and delays (LZW, palette, canvas composition)."""
    w, h = 11, 7
    frames = []
    for f in range(3):
        px = bytearray(b"\x20\x40\x60" * (w * h))
        for y in range(h):
            o = (y * w + (f * 3) % w) * 3
            px[o : o + 3] = b"\xff\x00\x80"
        frames.append((150 + 10 * f, px))
    data = cd.gif_encode(frames, w, h)
    w2, h2, got = cd.gif_decode(data)
    assert (w2, h2, len(got)) == (w, h, 3)
    for (d_in, px_in), (d_out, px_out) in zip(frames, got):
        assert d_out == (d_in // 10) * 10  # delay stored in 1/100 s
        assert bytes(px_out) == bytes(px_in)


def test_gif_lzw_long_stream():
    """LZW survives a table-filling stream (forces code-width growth
    and a mid-stream clear)."""
    import random

    rng = random.Random(5)
    idx = bytes(rng.randrange(64) for _ in range(20000))
    assert bytes(cd._lzw_decode(6, cd._lzw_encode(6, idx))) == idx


def test_gif_rejects_garbage():
    with pytest.raises(ValueError):
        cd.gif_decode(b"definitely not a gif")


# ---------------------------------------------------------------------------
# round-3: GCE scoping + truncated-payload error contract
# ---------------------------------------------------------------------------
def _mini_gif(frames_idx, w, h, palette, gce_for=(), tidx=0):
    """Hand-assemble a GIF where only the frames in ``gce_for`` get a
    Graphic Control Extension (transparency on ``tidx``) — gif_encode
    always writes a GCE per frame, so GCE-scoping needs a manual
    fixture."""
    import struct

    data = bytearray(b"GIF89a")
    data += struct.pack("<HH", w, h)
    data += bytes([0x80, 0, 0])  # GCT present, 2 entries; bg=0
    for c in palette:
        data += bytes(c)
    for i, idx in enumerate(frames_idx):
        if i in gce_for:
            # flags: transparency on; delay 10 (1/100s units); tidx
            data += bytes([0x21, 0xF9, 4, 0x01, 10, 0, tidx, 0])
        data += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h) + bytes([0])
        lzw = cd._lzw_encode(2, bytes(idx))
        data += bytes([2])
        for off in range(0, len(lzw), 255):
            blk = lzw[off : off + 255]
            data += bytes([len(blk)]) + blk
        data += bytes([0])
    data += bytes([0x3B])
    return bytes(data)


def test_gif_gce_governs_only_next_image():
    """Per GIF89a a GCE applies ONLY to the image that directly
    follows it: a second frame WITHOUT its own GCE must not inherit
    the first frame's transparency index (previous behavior skipped
    pixels whose palette index equalled the stale tidx)."""
    black, white = (0, 0, 0), (255, 255, 255)
    data = _mini_gif(
        [bytes([1, 0]), bytes([0, 0])],
        w=2, h=1, palette=[black, white], gce_for={0}, tidx=0,
    )
    w, h, frames = cd.gif_decode(data)
    assert (w, h, len(frames)) == (2, 1, 2)
    # frame 1: pixel0 white, pixel1 transparent -> background black
    assert bytes(frames[0][1]) == bytes(white) + bytes(black)
    # frame 2 (no GCE): BOTH pixels drawn black — index 0 is opaque
    # again because the previous GCE's transparency no longer applies
    assert bytes(frames[1][1]) == bytes(black) + bytes(black)
    # and the delay resets to the 100 ms default
    assert frames[0][0] == 100 and frames[1][0] == 100


def test_gif_truncated_raises_valueerror():
    """Truncated GIF payloads must surface the decode-error contract
    (ValueError), never IndexError, at any cut point."""
    frames = [(100, bytearray(b"\x10\x20\x30" * 35))]
    data = cd.gif_encode(frames, 7, 5)
    assert cd.gif_decode(data)[2]  # sanity: full payload decodes
    for cut in (8, 12, 20, len(data) // 2, len(data) - 2):
        with pytest.raises(ValueError):
            cd.gif_decode(data[:cut])


def test_png_truncated_raises_valueerror():
    """Truncated PNG payloads: the chunk walker must not index past
    the buffer or hand zlib a half-chunk."""
    px = bytes(_gradient(6, 4, 3))
    data = cd.png_encode(px, 6, 4, 3)
    assert cd.png_decode(data)[3]  # sanity
    for cut in (16, 30, len(data) - 3):
        with pytest.raises(ValueError):
            cd.png_decode(data[:cut])
