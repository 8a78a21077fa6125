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

MP4/H.264 remains the one documented format-out (no stdlib-
implementable decoder exists).

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
