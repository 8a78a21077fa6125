"""Stdlib-only media codecs.

No image/audio library is assumed, so the decoders are implemented
here from the public format specs with nothing but ``zlib``/
``struct``/``wave``:

* **PNG** — decode (8-bit greyscale / grey+alpha / RGB / RGBA, all
  five scanline filters incl. Paeth, per the PNG spec, RFC 2083) and
  encode (filter 0 + zlib).  Interlaced (Adam7) and palette images are
  rejected with a clear error.
* **GIF** — full GIF87a/89a decode (hand-rolled LZW, interlace,
  local/global palettes, transparency, draw-over and restore-to-
  background disposal) composing each animation frame onto the
  canvas, plus an animated-GIF encoder for fixtures — this is the
  real video-like path behind frame sampling.
* **WAV** — PCM decode via the stdlib ``wave`` module (8/16/32-bit).

On top of the decoders: deterministic feature extractors (a 4x4
mean-intensity grid for images, a 16-bin RMS energy envelope for
audio — both exactly ``FEATURE_DIM=16`` floats) and a box-average
image resampler with PNG re-encode.  Everything is a pure function of
the payload bytes, so results are reproducible across workers and
runs.

No operator in the package imports this module; only its tests do.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (8-bit only; palette/interlace out
# of scope for a validation-pipeline decoder)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decode(data: bytes) -> tuple[int, int, int, bytearray]:
    """Decode an 8-bit PNG to ``(width, height, channels, pixels)``
    with ``pixels`` row-major interleaved bytes."""
    if not data.startswith(PNG_SIG):
        raise ValueError("not a PNG payload (bad signature)")
    pos = len(PNG_SIG)
    width = height = None
    channels = 0
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[
            pos + 4 : pos + 8
        ]
        if pos + 12 + length > len(data):
            # a short read here would otherwise surface as a confusing
            # struct/zlib error (or walk past the buffer) deep in the
            # decoder — fail with the decode-error contract
            raise ValueError("truncated PNG payload (chunk past end of data)")
        chunk = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", chunk)
            )
            if bit_depth != 8:
                raise NotImplementedError(f"PNG bit depth {bit_depth} (only 8)")
            if color_type not in _CHANNELS:
                raise NotImplementedError(
                    f"PNG color type {color_type} (no palette support)"
                )
            if interlace:
                raise NotImplementedError("interlaced (Adam7) PNG")
            channels = _CHANNELS[color_type]
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel data length mismatch")
    out = bytearray(stride * height)
    bpp = channels
    for y in range(height):
        fbyte = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        o = y * stride
        po = o - stride
        if fbyte == 0:  # None
            out[o : o + stride] = line
        elif fbyte == 1:  # Sub
            for x in range(stride):
                left = out[o + x - bpp] if x >= bpp else 0
                out[o + x] = (line[x] + left) & 0xFF
        elif fbyte == 2:  # Up
            for x in range(stride):
                up = out[po + x] if y else 0
                out[o + x] = (line[x] + up) & 0xFF
        elif fbyte == 3:  # Average
            for x in range(stride):
                left = out[o + x - bpp] if x >= bpp else 0
                up = out[po + x] if y else 0
                out[o + x] = (line[x] + ((left + up) >> 1)) & 0xFF
        elif fbyte == 4:  # Paeth
            for x in range(stride):
                left = out[o + x - bpp] if x >= bpp else 0
                up = out[po + x] if y else 0
                ul = out[po + x - bpp] if (y and x >= bpp) else 0
                out[o + x] = (line[x] + _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"PNG filter byte {fbyte}")
    return width, height, channels, out


def png_encode(
    pixels: bytes | bytearray, width: int, height: int, channels: int
) -> bytes:
    """Encode row-major interleaved 8-bit pixels as a PNG (filter 0,
    zlib level 6)."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    raw = bytearray()
    for y in range(height):
        raw.append(0)
        raw += pixels[y * stride : (y + 1) * stride]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def resize_box(
    pixels: bytes | bytearray,
    width: int,
    height: int,
    channels: int,
    new_w: int,
    new_h: int,
) -> bytearray:
    """Box-average resample (each target pixel averages its source
    cell — correct for downscales, nearest-equivalent for upscales)."""
    out = bytearray(new_w * new_h * channels)
    for ty in range(new_h):
        y0 = ty * height // new_h
        y1 = max(y0 + 1, (ty + 1) * height // new_h)
        for tx in range(new_w):
            x0 = tx * width // new_w
            x1 = max(x0 + 1, (tx + 1) * width // new_w)
            n = (y1 - y0) * (x1 - x0)
            for c in range(channels):
                acc = 0
                for sy in range(y0, y1):
                    base = (sy * width) * channels + c
                    for sx in range(x0, x1):
                        acc += pixels[base + sx * channels]
                out[(ty * new_w + tx) * channels + c] = acc // n
    return out


GIF_SIGS = (b"GIF87a", b"GIF89a")


def _lzw_decode(min_code_size: int, data: bytes) -> list[int]:
    """GIF-flavor LZW (LSB-first bitstream, 12-bit cap, clear/end
    codes) -> palette indices."""
    clear = 1 << min_code_size
    end = clear + 1
    cs = min_code_size + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out: list[int] = []
    prev: bytes | None = None
    acc = nbits = 0
    pos = 0
    while True:
        while nbits < cs:
            if pos >= len(data):
                return out
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << cs) - 1)
        acc >>= cs
        nbits -= cs
        if code == clear:
            table = list(base)
            cs = min_code_size + 1
            prev = None
            continue
        if code == end:
            return out
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt GIF LZW stream")
        out.extend(entry)
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << cs) and cs < 12:
                cs += 1
        prev = entry


def _lzw_encode(min_code_size: int, indices: bytes) -> bytes:
    """GIF-flavor LZW compressor (clear at start and on full table)."""
    clear = 1 << min_code_size
    end = clear + 1
    out_bits: list[tuple[int, int]] = []  # (code, width)

    def fresh():
        return {bytes([i]): i for i in range(clear)}, clear + 2, min_code_size + 1

    table, next_code, cs = fresh()
    out_bits.append((clear, cs))
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        out_bits.append((table[w], cs))
        table[wk] = next_code
        if next_code == (1 << cs) and cs < 12:
            cs += 1
        next_code += 1
        if next_code > 4095:
            out_bits.append((clear, cs))
            table, next_code, cs = fresh()
        w = bytes([b])
    if w:
        out_bits.append((table[w], cs))
    out_bits.append((end, cs))
    acc = nbits = 0
    buf = bytearray()
    for code, width in out_bits:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


_DEINTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_decode(data: bytes) -> tuple[int, int, list[tuple[int, bytearray]]]:
    """Decode an (optionally animated) GIF to ``(width, height,
    [(delay_ms, rgb_pixels), ...])`` — each frame a full composed
    canvas (draw-over and restore-to-background disposal honored,
    transparency respected, interlace supported)."""
    if data[:6] not in GIF_SIGS:
        raise ValueError("not a GIF payload (bad signature)")
    if len(data) < 13:
        raise ValueError("truncated GIF payload (short header)")

    def subblocks(p: int) -> tuple[bytearray, int]:
        # bounds-checked data sub-block walk: a truncated payload must
        # raise the decode-error contract (ValueError), not IndexError
        out = bytearray()
        while True:
            if p >= len(data):
                raise ValueError("truncated GIF payload (unterminated sub-blocks)")
            ln = data[p]
            if ln == 0:
                return out, p + 1
            if p + 1 + ln > len(data):
                raise ValueError("truncated GIF payload (short sub-block)")
            out += data[p + 1 : p + 1 + ln]
            p += 1 + ln

    w, h = struct.unpack("<HH", data[6:10])
    packed, bg = data[10], data[11]
    pos = 13
    gct: list[bytes] = []
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = [data[pos + 3 * i : pos + 3 * i + 3] for i in range(n)]
        pos += 3 * n
    bg_rgb = bytes(gct[bg]) if gct and bg < len(gct) else b"\x00\x00\x00"
    canvas = bytearray(bg_rgb * (w * h))
    frames: list[tuple[int, bytearray]] = []
    delay_ms, transp, tidx, disposal = 100, False, 0, 0
    while pos < len(data):
        b0 = data[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            if pos >= len(data):
                raise ValueError("truncated GIF payload (extension label)")
            label = data[pos]
            pos += 1
            blocks, pos = subblocks(pos)
            if label == 0xF9 and len(blocks) >= 4:
                flags = blocks[0]
                disposal = (flags >> 2) & 7
                transp = bool(flags & 1)
                d = struct.unpack("<H", blocks[1:3])[0]
                delay_ms = d * 10 if d else 100
                tidx = blocks[3]
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        if pos + 9 > len(data):
            raise ValueError("truncated GIF payload (short image descriptor)")
        left, top, iw, ih = struct.unpack("<HHHH", data[pos : pos + 8])
        ipacked = data[pos + 8]
        pos += 9
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 7)
            ct = [data[pos + 3 * i : pos + 3 * i + 3] for i in range(n)]
            pos += 3 * n
        if pos >= len(data):
            raise ValueError("truncated GIF payload (missing LZW code size)")
        mcs = data[pos]
        pos += 1
        lzw, pos = subblocks(pos)
        idx = _lzw_decode(mcs, bytes(lzw))
        rows = list(range(ih))
        if ipacked & 0x40:  # interlaced
            order = []
            for start, step in _DEINTERLACE:
                order.extend(range(start, ih, step))
            rows = order
        for rin, rout in enumerate(rows):
            for x in range(iw):
                k = rin * iw + x
                if k >= len(idx):
                    break
                ci = idx[k]
                if transp and ci == tidx:
                    continue
                o = ((top + rout) * w + (left + x)) * 3
                canvas[o : o + 3] = ct[ci]
        frames.append((delay_ms, bytearray(canvas)))
        if disposal == 2:  # restore rect to background
            for y in range(ih):
                o = ((top + y) * w + left) * 3
                canvas[o : o + 3 * iw] = bg_rgb * iw
        # per GIF89a a Graphic Control Extension governs ONLY the
        # image that directly follows it — reset to defaults so a
        # frame without its own GCE doesn't inherit the previous
        # frame's transparency index / disposal / delay
        delay_ms, transp, tidx, disposal = 100, False, 0, 0
    return w, h, frames


def gif_encode(
    frames: list[tuple[int, bytes | bytearray]], width: int, height: int
) -> bytes:
    """Encode full-canvas RGB frames as an animated GIF89a (one global
    palette built from all frames' colors — must be <= 256)."""
    palette: dict[bytes, int] = {}
    for _, px in frames:
        for i in range(0, len(px), 3):
            c = bytes(px[i : i + 3])
            if c not in palette:
                if len(palette) >= 256:
                    raise ValueError("gif_encode: more than 256 distinct colors")
                palette[c] = len(palette)
    depth = max(1, (len(palette) - 1).bit_length())
    n = 1 << depth
    colors = sorted(palette, key=palette.get)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | (depth - 1), 0, 0])
    for c in colors:
        out += c
    out += b"\x00\x00\x00" * (n - len(colors))
    mcs = max(2, depth)
    for delay_ms, px in frames:
        out += bytes([0x21, 0xF9, 4, 0])
        out += struct.pack("<H", max(1, delay_ms // 10))
        out += bytes([0, 0])
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        idx = bytes(
            palette[bytes(px[i : i + 3])] for i in range(0, len(px), 3)
        )
        out += bytes([mcs])
        comp = _lzw_encode(mcs, idx)
        for i in range(0, len(comp), 255):
            chunk = comp[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def wav_decode(data: bytes) -> tuple[int, int, list[float]]:
    """Decode a PCM WAV payload to ``(n_channels, framerate,
    samples)`` with samples channel-averaged and scaled to [-1, 1]."""
    with wave.open(io.BytesIO(data), "rb") as w:
        nch, sw, rate, nframes = (
            w.getnchannels(),
            w.getsampwidth(),
            w.getframerate(),
            w.getnframes(),
        )
        frames = w.readframes(nframes)
    if sw == 1:  # unsigned 8-bit
        vals = [(b - 128) / 128.0 for b in frames]
    elif sw == 2:
        vals = [
            v / 32768.0 for (v,) in struct.iter_unpack("<h", frames)
        ]
    elif sw == 4:
        vals = [
            v / 2147483648.0 for (v,) in struct.iter_unpack("<i", frames)
        ]
    else:
        raise NotImplementedError(f"WAV sample width {sw}")
    if nch > 1:
        vals = [
            sum(vals[i : i + nch]) / nch for i in range(0, len(vals), nch)
        ]
    return nch, rate, vals


def wav_slices(data: bytes, every_ms: int) -> list[tuple[int, bytes]]:
    """Cut a PCM WAV payload into ``every_ms`` windows, each
    re-encoded as a standalone WAV — the audio analogue of video frame
    sampling.  Returns ``[(start_ms, wav_bytes), ...]``; a trailing
    partial window is kept."""
    with wave.open(io.BytesIO(data), "rb") as w:
        nch, sw, rate, nframes = (
            w.getnchannels(),
            w.getsampwidth(),
            w.getframerate(),
            w.getnframes(),
        )
        frames = w.readframes(nframes)
    step = max(1, rate * every_ms // 1000)
    fsize = nch * sw
    out = []
    for i in range(0, nframes, step):
        chunk = frames[i * fsize : (i + step) * fsize]
        buf = io.BytesIO()
        with wave.open(buf, "wb") as ww:
            ww.setnchannels(nch)
            ww.setsampwidth(sw)
            ww.setframerate(rate)
            ww.writeframes(chunk)
        out.append((i * 1000 // rate, buf.getvalue()))
    return out


def image_features(data: bytes, grid: int = 4) -> list[float]:
    """``grid*grid`` mean-intensity cells (row-major, [0, 1]) of the
    decoded PNG — 16 floats at the default grid, matching
    ``FEATURE_DIM``."""
    w, h, c, px = png_decode(data)
    return grid_features(px, w, h, c, grid)


def gif_features(data: bytes, grid: int = 4) -> list[float]:
    """Mean-intensity grid of a GIF's FIRST composed frame."""
    w, h, frames = gif_decode(data)
    if not frames:
        return [0.0] * (grid * grid)
    return grid_features(frames[0][1], w, h, 3, grid)


def grid_features(
    px: bytes | bytearray, w: int, h: int, c: int, grid: int = 4
) -> list[float]:
    """``grid*grid`` mean-intensity cells (row-major, [0, 1]) over raw
    interleaved pixels."""
    color = min(c, 3)  # ignore alpha for intensity
    feats = []
    for gy in range(grid):
        y0, y1 = gy * h // grid, max(gy * h // grid + 1, (gy + 1) * h // grid)
        for gx in range(grid):
            x0 = gx * w // grid
            x1 = max(x0 + 1, (gx + 1) * w // grid)
            acc = n = 0
            for sy in range(y0, min(y1, h)):
                base = sy * w * c
                for sx in range(x0, min(x1, w)):
                    p = base + sx * c
                    acc += sum(px[p : p + color])
                    n += color
            feats.append(acc / (255.0 * n) if n else 0.0)
    return feats


def audio_features(data: bytes, bins: int = 16) -> list[float]:
    """``bins`` RMS energy values over equal time slices of the
    channel-averaged signal — 16 floats at the default."""
    _, _, samples = wav_decode(data)
    n = len(samples)
    feats = []
    for b in range(bins):
        i0, i1 = b * n // bins, max(b * n // bins + 1, (b + 1) * n // bins)
        seg = samples[i0:min(i1, n)]
        feats.append(
            (sum(x * x for x in seg) / len(seg)) ** 0.5 if seg else 0.0
        )
    return feats


# ---------------------------------------------------------------------------
# JPEG (baseline sequential DCT / Huffman) — stdlib-only, from the
# public ITU-T T.81 spec (Annex K tables).  With it the decoders
# cover PNG, GIF, WAV and baseline JPEG; MP4/H.264 remains the one
# documented format-out (no stdlib-implementable decoder exists).
# Encoder: 4:4:4, one Huffman/quant table pair per luma/chroma class.
# Decoder: baseline SOF0, arbitrary sampling factors (nearest-neighbor
# chroma upsampling), restart markers, grayscale or YCbCr.
# ---------------------------------------------------------------------------
JPEG_SIG = b"\xff\xd8\xff"

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# ITU-T T.81 Annex K.1 quantization tables (quality ~50)
_QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
_HT_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_HT_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

import math as _math

_DCT_COS = [
    [_math.cos((2 * x + 1) * u * _math.pi / 16.0) for u in range(8)]
    for x in range(8)
]
_DCT_C = [1.0 / _math.sqrt(2.0)] + [1.0] * 7


def _huff_encode_table(bits, huffval):
    """Canonical code assignment (T.81 C.2): symbol -> (code, length)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits, huffval):
    """(length, code) -> symbol map for bit-serial decoding."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _fdct_quant(block, qt):
    """Level-shifted 8x8 block -> zigzagged quantized coefficients."""
    out = [0] * 64
    for v in range(8):
        for u in range(8):
            s = 0.0
            for y in range(8):
                cy = _DCT_COS[y][v]
                row = block[y * 8 : y * 8 + 8]
                for x in range(8):
                    s += row[x] * _DCT_COS[x][u] * cy
            s *= 0.25 * _DCT_C[u] * _DCT_C[v]
            zz = _ZIGZAG.index(v * 8 + u)
            q = qt[zz]
            out[zz] = int(round(s / q))
    return out


def _dequant_idct(coeffs, qt):
    """Zigzagged quantized coefficients -> 8x8 spatial samples
    (level-shifted back to 0..255, clamped)."""
    dq = [0.0] * 64
    for zz in range(64):
        dq[_ZIGZAG[zz]] = coeffs[zz] * qt[zz]
    out = [0] * 64
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                cv = _DCT_COS[y][v] * _DCT_C[v]
                base = v * 8
                for u in range(8):
                    s += _DCT_C[u] * dq[base + u] * _DCT_COS[x][u] * cv
            val = int(round(s * 0.25)) + 128
            out[y * 8 + x] = 0 if val < 0 else (255 if val > 255 else val)
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value, length):
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


def _magnitude(v):
    """DC/AC magnitude category + the appended bits (T.81 F.1.2.1)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def _encode_block(bw, coeffs, dc_pred, dct, act):
    diff = coeffs[0] - dc_pred
    s, bits = _magnitude(diff)
    code, ln = dct[s]
    bw.write(code, ln)
    bw.write(bits, s)
    run = 0
    last_nz = 0
    for i in range(63, 0, -1):
        if coeffs[i]:
            last_nz = i
            break
    for i in range(1, last_nz + 1):
        if coeffs[i] == 0:
            run += 1
            continue
        while run > 15:
            code, ln = act[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s, bits = _magnitude(coeffs[i])
        code, ln = act[run * 16 + s]
        bw.write(code, ln)
        bw.write(bits, s)
        run = 0
    if last_nz != 63:
        code, ln = act[0x00]  # EOB
        bw.write(code, ln)
    return coeffs[0]


def _component_blocks(plane, w, h):
    """8x8 level-shifted blocks (row-major MCU order) of an edge-
    padded single-channel plane."""
    bw_, bh_ = (w + 7) // 8, (h + 7) // 8
    for by in range(bh_):
        for bx in range(bw_):
            block = []
            for y in range(8):
                sy = min(by * 8 + y, h - 1)
                base = sy * w
                for x in range(8):
                    sx = min(bx * 8 + x, w - 1)
                    block.append(plane[base + sx] - 128)
            yield block


def jpeg_encode(px: bytes | bytearray, w: int, h: int, c: int) -> bytes:
    """Encode 8-bit pixels as baseline sequential JPEG (4:4:4 for RGB,
    single component for grayscale; Annex K quant + Huffman tables)."""
    import struct as _st

    if c == 3:
        ny = bytearray(w * h)
        ncb = bytearray(w * h)
        ncr = bytearray(w * h)
        for i in range(w * h):
            r, g, b = px[3 * i], px[3 * i + 1], px[3 * i + 2]
            y = 0.299 * r + 0.587 * g + 0.114 * b
            cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
            cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
            ny[i] = max(0, min(255, int(round(y))))
            ncb[i] = max(0, min(255, int(round(cb))))
            ncr[i] = max(0, min(255, int(round(cr))))
        planes = [ny, ncb, ncr]
        qts = [_QT_LUMA, _QT_CHROMA, _QT_CHROMA]
        tq = [0, 1, 1]
        td = [0, 1, 1]
    elif c == 1:
        planes = [bytearray(px)]
        qts = [_QT_LUMA]
        tq = [0]
        td = [0]
    else:
        raise NotImplementedError(f"jpeg_encode: {c} channels (1 or 3)")

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT — T.81 B.2.4.1: element k of the segment is the quantizer for
    # zigzag position k, so the natural-raster Annex K tables must be
    # permuted through _ZIGZAG on write (the decoder reads them back
    # zigzag-indexed, as any spec-compliant decoder does)
    for tid, qt in ((0, _QT_LUMA), (1, _QT_CHROMA))[: 1 if c == 1 else 2]:
        zz = bytes(qt[_ZIGZAG[k]] for k in range(64))
        out += b"\xff\xdb" + _st.pack(">H", 3 + 64) + bytes([tid]) + zz
    # SOF0
    out += b"\xff\xc0" + _st.pack(">H", 8 + 3 * len(planes)) + bytes([8])
    out += _st.pack(">HH", h, w) + bytes([len(planes)])
    for ci in range(len(planes)):
        out += bytes([ci + 1, 0x11, tq[ci]])
    # DHT
    hts = [(0x00, _HT_DC_LUMA), (0x10, _HT_AC_LUMA)]
    if c == 3:
        hts += [(0x01, _HT_DC_CHROMA), (0x11, _HT_AC_CHROMA)]
    for tc_id, (bits, vals) in hts:
        out += b"\xff\xc4" + _st.pack(">H", 3 + 16 + len(vals))
        out += bytes([tc_id]) + bytes(bits) + bytes(vals)
    # SOS
    out += b"\xff\xda" + _st.pack(">H", 6 + 2 * len(planes)) + bytes([len(planes)])
    for ci in range(len(planes)):
        out += bytes([ci + 1, td[ci] * 16 + td[ci]])
    out += bytes([0, 63, 0])

    dc_luma = _huff_encode_table(*_HT_DC_LUMA)
    ac_luma = _huff_encode_table(*_HT_AC_LUMA)
    dc_chroma = _huff_encode_table(*_HT_DC_CHROMA)
    ac_chroma = _huff_encode_table(*_HT_AC_CHROMA)
    enc_tabs = [
        (dc_luma, ac_luma) if t == 0 else (dc_chroma, ac_chroma) for t in td
    ]

    bw = _BitWriter()
    # 4:4:4 interleave: one block per component per MCU
    gens = [
        list(_component_blocks(p, w, h)) for p in planes
    ]
    preds = [0] * len(planes)
    # zigzag-indexed view of the natural-raster tables, matching the
    # DQT bytes above and _fdct_quant's zigzag coefficient order
    qt_zz = [
        [qts[ci][_ZIGZAG[k]] for k in range(64)] for ci in range(len(planes))
    ]
    for mcu in range(len(gens[0])):
        for ci in range(len(planes)):
            coeffs = _fdct_quant(gens[ci][mcu], qt_zz[ci])
            preds[ci] = _encode_block(
                bw, coeffs, preds[ci], enc_tabs[ci][0], enc_tabs[ci][1]
            )
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; stops at any
    non-RST marker and reports it."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None

    def _fill(self):
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG payload (entropy data)")
        b = d[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(d):
                raise ValueError("truncated JPEG payload (marker)")
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn consumed by reset()
                self.marker = nxt
                raise _RestartMarker()
            else:
                self.marker = nxt
                raise _SegmentEnd()
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def reset_at_marker(self):
        """Consume the RSTn marker and restart bit alignment."""
        # scan forward to the FF Dx pair (we stopped right at FF)
        self.pos += 2
        self.acc = 0
        self.nbits = 0
        self.marker = None


class _RestartMarker(Exception):
    pass


class _SegmentEnd(Exception):
    pass


def _huff_read(br: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("corrupt JPEG payload (invalid Huffman code)")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def jpeg_decode(data: bytes) -> tuple[int, int, int, bytearray]:
    """Decode a baseline sequential JPEG to ``(width, height,
    channels, pixels)`` — grayscale (1) or RGB (3), arbitrary sampling
    factors with nearest-neighbor chroma upsampling, restart markers
    honored.  Progressive/arithmetic/12-bit variants raise."""
    import struct as _st

    if not data.startswith(b"\xff\xd8"):
        raise ValueError("not a JPEG payload (bad signature)")
    pos = 2
    qts = {}
    dc_tabs = {}
    ac_tabs = {}
    comps = []  # (id, hf, vf, tq)
    w = h = 0
    restart_interval = 0
    scan = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("corrupt JPEG payload (marker expected)")
        m = data[pos + 1]
        if m == 0xD9:  # EOI
            break
        (seglen,) = _st.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if pos + 2 + seglen > len(data):
            raise ValueError("truncated JPEG payload (segment past end)")
        if m == 0xDB:  # DQT
            sp = 0
            while sp < len(seg):
                pq, tq_id = seg[sp] >> 4, seg[sp] & 15
                sp += 1
                if pq:
                    qts[tq_id] = list(
                        _st.unpack(f">{64}H", seg[sp : sp + 128])
                    )
                    sp += 128
                else:
                    qts[tq_id] = list(seg[sp : sp + 64])
                    sp += 64
        elif m == 0xC4:  # DHT
            sp = 0
            while sp < len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 15
                bits = list(seg[sp + 1 : sp + 17])
                nv = sum(bits)
                vals = list(seg[sp + 17 : sp + 17 + nv])
                tab = _huff_decode_table(bits, vals)
                (ac_tabs if tc else dc_tabs)[th] = tab
                sp += 17 + nv
        elif m == 0xC0 or m == 0xC1:  # SOF0/1 (baseline / ext sequential)
            if seg[0] != 8:
                raise NotImplementedError("JPEG precision != 8")
            h, w = _st.unpack(">HH", seg[1:5])
            nc = seg[5]
            comps = []
            for ci in range(nc):
                cid, hv, tq_id = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append((cid, hv >> 4, hv & 15, tq_id))
        elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                   0xCE, 0xCF):
            raise NotImplementedError(
                "JPEG progressive/arithmetic variants (baseline only)"
            )
        elif m == 0xDD:  # DRI
            (restart_interval,) = _st.unpack(">H", seg[:2])
        elif m == 0xDA:  # SOS
            ns = seg[0]
            scan = []
            for si in range(ns):
                cs, tt = seg[1 + 2 * si : 3 + 2 * si]
                scan.append((cs, tt >> 4, tt & 15))
            pos = pos + 2 + seglen
            break
        pos = pos + 2 + seglen
    if not comps or scan is None or not w:
        raise ValueError("corrupt JPEG payload (missing SOF/SOS)")

    hmax = max(cf for _, cf, _, _ in comps)
    vmax = max(vf for _, _, vf, _ in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # per-component plane dims (in blocks across the MCU grid)
    planes = []
    meta = []
    for cid, hf, vf, tq_id in comps:
        pw, ph = mcux * 8 * hf, mcuy * 8 * vf
        planes.append(bytearray(pw * ph))
        sc = next(s for s in scan if s[0] == cid)
        meta.append((hf, vf, qts[tq_id], dc_tabs[sc[1]], ac_tabs[sc[2]], pw))

    br = _BitReader(data, pos)
    preds = [0] * len(comps)
    mcu_count = 0
    done = False
    for my in range(mcuy):
        if done:
            break
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                # align to the RSTn marker between intervals
                try:
                    while True:
                        br.bit()
                except _RestartMarker:
                    br.reset_at_marker()
                    preds = [0] * len(comps)
                except _SegmentEnd:
                    done = True
                    break
            try:
                for ci, (hf, vf, qt, dct, act, pw) in enumerate(meta):
                    for by in range(vf):
                        for bx in range(hf):
                            s = _huff_read(br, dct)
                            diff = _extend(br.bits(s), s) if s else 0
                            preds[ci] += diff
                            coeffs = [0] * 64
                            coeffs[0] = preds[ci]
                            k = 1
                            while k < 64:
                                rs = _huff_read(br, act)
                                r, sz = rs >> 4, rs & 15
                                if sz == 0:
                                    if r == 15:
                                        k += 16
                                        continue
                                    break  # EOB
                                k += r
                                if k > 63:
                                    raise ValueError(
                                        "corrupt JPEG payload (AC overrun)"
                                    )
                                coeffs[k] = _extend(br.bits(sz), sz)
                                k += 1
                            spat = _dequant_idct(coeffs, qt)
                            ox = (mx * hf + bx) * 8
                            oy = (my * vf + by) * 8
                            pl = planes[ci]
                            for yy in range(8):
                                dst = (oy + yy) * pw + ox
                                pl[dst : dst + 8] = bytes(
                                    spat[yy * 8 : yy * 8 + 8]
                                )
            except (_RestartMarker, _SegmentEnd):
                # tolerated: truncated tail decodes what it has
                done = True
                break
            mcu_count += 1

    if len(comps) == 1:
        hf, vf, _, _, _, pw = meta[0]
        out = bytearray(w * h)
        for y in range(h):
            src = (y * vf // vmax) * pw
            for x in range(w):
                out[y * w + x] = planes[0][src + (x * hf // hmax)]
        return w, h, 1, out
    if len(comps) != 3:
        raise NotImplementedError(f"JPEG with {len(comps)} components")
    out = bytearray(w * h * 3)
    for y in range(h):
        rows = []
        for ci, (hf, vf, _, _, _, pw) in enumerate(meta):
            rows.append(((y * vf) // vmax) * pw)
        for x in range(w):
            yv = planes[0][rows[0] + (x * meta[0][0]) // hmax]
            cb = planes[1][rows[1] + (x * meta[1][0]) // hmax] - 128
            cr = planes[2][rows[2] + (x * meta[2][0]) // hmax] - 128
            r = int(round(yv + 1.402 * cr))
            g = int(round(yv - 0.344136 * cb - 0.714136 * cr))
            b = int(round(yv + 1.772 * cb))
            o = (y * w + x) * 3
            out[o] = 0 if r < 0 else (255 if r > 255 else r)
            out[o + 1] = 0 if g < 0 else (255 if g > 255 else g)
            out[o + 2] = 0 if b < 0 else (255 if b > 255 else b)
    return w, h, 3, out


def jpeg_features(data: bytes, grid: int = 4) -> list[float]:
    """4x4 mean-intensity grid features of a baseline JPEG payload."""
    w, h, c, px = jpeg_decode(data)
    return grid_features(px, w, h, c, grid=grid)


# ---------------------------------------------------------------------------
# AVI / MJPEG (RIFF container, Motion-JPEG video stream) — stdlib-only
# on top of the baseline JPEG codec above.  Round-3 addition: a real
# VIDEO container the frame-sampling path can decode end-to-end
# (alongside animated GIF); MP4/H.264 remains the documented
# format-out.  Public format knowledge: the RIFF/AVI layout is the
# long-published Microsoft "AVI RIFF File Reference".
# ---------------------------------------------------------------------------
def avi_mjpeg_decode(data: bytes) -> tuple[int, int, int, list[bytes]]:
    """Parse an AVI container with an MJPEG video stream ->
    ``(width, height, frame_duration_ms, [jpeg_frame_bytes, ...])``.
    Frames stay JPEG-encoded (decode lazily with :func:`jpeg_decode`).
    Non-MJPEG codecs and broken containers raise."""
    import struct as _st

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload (bad RIFF signature)")
    w = h = 0
    usec_per_frame = 40000  # 25 fps default
    handler_ok = False
    frames: list[bytes] = []

    def walk(pos: int, end: int, in_movi: bool) -> None:
        nonlocal w, h, usec_per_frame, handler_ok
        while pos + 8 <= end:
            cid = data[pos : pos + 4]
            (size,) = _st.unpack("<I", data[pos + 4 : pos + 8])
            body_start = pos + 8
            if body_start + size > end:
                raise ValueError("truncated AVI payload (chunk past end)")
            if cid == b"LIST":
                ltype = data[body_start : body_start + 4]
                walk(body_start + 4, body_start + size, ltype == b"movi")
            elif cid == b"avih" and size >= 40:
                (usec_per_frame,) = _st.unpack(
                    "<I", data[body_start : body_start + 4]
                )
                w, h = _st.unpack(
                    "<II", data[body_start + 32 : body_start + 40]
                )
            elif cid == b"strh" and size >= 8:
                fcc_type = data[body_start : body_start + 4]
                fcc_handler = data[body_start + 4 : body_start + 8]
                if fcc_type == b"vids":
                    if fcc_handler not in (b"MJPG", b"mjpg"):
                        raise NotImplementedError(
                            f"AVI video codec {fcc_handler!r} (MJPG only; "
                            "MP4/H.264 have no stdlib decoder)"
                        )
                    handler_ok = True
            elif in_movi and cid[2:4] in (b"dc", b"db"):
                frames.append(bytes(data[body_start : body_start + size]))
            pos = body_start + size + (size & 1)  # chunks are word-aligned

    walk(12, len(data), False)
    if not handler_ok:
        raise ValueError("corrupt AVI payload (no MJPG video stream header)")
    if not frames:
        raise ValueError("corrupt AVI payload (no video frames)")
    return w, h, max(1, usec_per_frame // 1000), frames


def avi_mjpeg_encode(
    frames: list[bytes | bytearray], width: int, height: int,
    frame_ms: int = 40, channels: int = 3,
) -> bytes:
    """Encode raw frames (row-major 8-bit pixels) as an MJPEG AVI —
    each frame JPEG-encoded, wrapped in the minimal RIFF structure the
    decoder above (and any standard player) reads."""
    import struct as _st

    jpegs = [jpeg_encode(bytes(f), width, height, channels) for f in frames]

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + _st.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = _st.pack(
        "<IIIIIIIIIIIIII",
        frame_ms * 1000,  # dwMicroSecPerFrame
        0, 0, 0x10,       # maxbytespersec, padding, flags (AVIF_HASINDEX off)
        len(jpegs), 0, 1, 0,  # totalframes, initialframes, streams, bufsize
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        # dwFlags wPriority wLanguage dwInitialFrames dwScale dwRate
        # dwStart dwLength dwSuggestedBufferSize dwQuality dwSampleSize
        + _st.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 1000 // frame_ms or 1,
                   0, len(jpegs), 0, 0, 0)
        + _st.pack("<hhhh", 0, 0, width, height)  # rcFrame
    )
    strf = _st.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + _st.pack("<I", len(riff_body)) + riff_body


def avi_features(data: bytes, grid: int = 4) -> list[float]:
    """Mean-intensity grid of an MJPEG AVI's FIRST frame."""
    w, h, _, frames = avi_mjpeg_decode(data)
    fw, fh, c, px = jpeg_decode(frames[0])
    return grid_features(px, fw, fh, c, grid)
