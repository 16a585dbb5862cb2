"""Real media codecs in pure stdlib — no PIL/ffmpeg in this container,
but PNG and WAV are simple public formats (RFC 2083 / RIFF) decodable
with zlib + struct, which upgrades the multimodal decode seam from a
stub to a working path for the two most common fixture formats.

PNG support: 8-bit greyscale/RGB/RGBA, non-interlaced, all five scanline
filters. WAV support: PCM16 via the stdlib `wave` module. BMP support:
24-bit uncompressed. Decode only; the encoders that build test fixtures
live with the tests. Anything else still routes to the
deterministic fake (functions/multimodal.py) — the seam's contract is
sniff-then-dispatch, never a hard failure on unknown bytes.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # PNG color type -> samples/pixel


def is_png(payload: bytes) -> bool:
    return payload[:8] == PNG_SIG


def is_wav(payload: bytes) -> bool:
    return payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"


def _unfilter(raw: bytes, width: int, height: int, ch: int) -> bytearray:
    """Reverse PNG scanline filters (types 0-4), 8-bit samples."""
    stride = width * ch
    out = bytearray(height * stride)
    pos = 0
    for y in range(height):
        f = raw[pos]
        pos += 1
        line = raw[pos : pos + stride]
        pos += stride
        o = y * stride
        prev = out[o - stride : o] if y else bytes(stride)
        if f == 0:
            out[o : o + stride] = line
        elif f == 1:  # Sub
            for i in range(stride):
                a = out[o + i - ch] if i >= ch else 0
                out[o + i] = (line[i] + a) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                out[o + i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = out[o + i - ch] if i >= ch else 0
                out[o + i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = out[o + i - ch] if i >= ch else 0
                b = prev[i]
                c = out[o + i - ch - stride] if (i >= ch and y) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[o + i] = (line[i] + pr) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
    return out


def decode_png(payload: bytes) -> dict:
    """Parse a PNG: {width, height, channels, pixels (bytes), mean_px
    (integer mean sample value, exact)}. Raises ValueError on anything
    outside the supported profile (8-bit, non-interlaced)."""
    if not is_png(payload):
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    color_type = None
    idat = b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or interlace != 0 or color_type not in _CHANNELS:
                raise ValueError("unsupported PNG profile")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG")
    ch = _CHANNELS[color_type]
    pixels = bytes(_unfilter(zlib.decompress(idat), width, height, ch))
    mean_px = sum(pixels) // len(pixels) if pixels else 0
    return {
        "width": width,
        "height": height,
        "channels": ch,
        "pixels": pixels,
        "mean_px": mean_px,
    }


def decode_wav(payload: bytes) -> dict:
    """Parse a WAV: {channels, sample_rate, n_frames, duration_ms,
    mean_abs (integer mean absolute PCM16 amplitude, exact)}."""
    if not is_wav(payload):
        raise ValueError("not a WAV")
    with wave.open(io.BytesIO(payload), "rb") as w:
        channels = w.getnchannels()
        rate = w.getframerate()
        n = w.getnframes()
        if w.getsampwidth() != 2:
            raise ValueError("only PCM16 supported")
        frames = w.readframes(n)
    vals = struct.unpack(f"<{len(frames) // 2}h", frames)
    mean_abs = sum(abs(v) for v in vals) // len(vals) if vals else 0
    return {
        "channels": channels,
        "sample_rate": rate,
        "n_frames": n,
        "duration_ms": (n * 1000) // rate if rate else 0,
        "mean_abs": mean_abs,
    }


BMP_SIG = b"BM"


def is_bmp(payload: bytes) -> bool:
    return payload[:2] == BMP_SIG


def decode_bmp(payload: bytes) -> dict:
    """Parse a BMP: {width, height, channels, pixels (top-down RGB
    bytes), mean_px}. Supports the dominant profile — 24-bit
    uncompressed (BI_RGB) with BITMAPINFOHEADER, bottom-up or top-down
    (negative height) — and raises ValueError outside it."""
    if not is_bmp(payload):
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    width, raw_h = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0 or planes != 1 or width <= 0:
        raise ValueError("only 24-bit uncompressed BMP supported")
    height = abs(raw_h)
    bottom_up = raw_h > 0
    stride = width * 3
    padded = stride + ((-stride) % 4)
    out = bytearray(height * stride)
    for row_idx in range(height):
        src = off + row_idx * padded
        y = (height - 1 - row_idx) if bottom_up else row_idx
        line = payload[src : src + stride]
        if len(line) < stride:
            raise ValueError("truncated BMP")
        o = y * stride
        out[o + 0 : o + stride : 3] = line[2::3]
        out[o + 1 : o + stride : 3] = line[1::3]
        out[o + 2 : o + stride : 3] = line[0::3]
    pixels = bytes(out)
    mean_px = sum(pixels) // len(pixels) if pixels else 0
    return {
        "width": width,
        "height": height,
        "channels": 3,
        "pixels": pixels,
        "mean_px": mean_px,
    }
