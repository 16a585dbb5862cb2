"""Fixture builders for the media decoders (sources/media.py): minimal
PNG, WAV and BMP encoders whose output the decoders must read back."""

from __future__ import annotations

import io
import struct
import wave
import zlib

from adtech_log_data_pipeline_spark.sources.media import BMP_SIG, PNG_SIG, _CHANNELS


def encode_png(width: int, height: int, pixels: bytes, color_type: int = 2) -> bytes:
    """Minimal PNG encoder: 8-bit, non-interlaced, filter 0 scanlines,
    one IDAT. ``pixels`` is row-major packed samples."""
    ch = _CHANNELS[color_type]
    if len(pixels) != width * height * ch:
        raise ValueError("pixel buffer does not match dimensions")
    stride = width * ch
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )

    def chunk(tag: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def encode_wav(
    samples: list[int], sample_rate: int = 16_000, channels: int = 1
) -> bytes:
    """PCM16 WAV bytes from int16 samples."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def encode_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """Minimal BMP encoder: 24-bit BI_RGB, BITMAPINFOHEADER, bottom-up
    rows, 4-byte row padding. ``pixels`` is row-major TOP-DOWN packed
    RGB (the decode_png convention); rows are flipped and channel order
    swapped to BGR on write."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixel buffer does not match dimensions")
    stride = width * 3
    pad = (-stride) % 4
    rows = []
    for y in range(height - 1, -1, -1):
        row = pixels[y * stride : (y + 1) * stride]
        bgr = bytearray(stride)
        bgr[0::3] = row[2::3]
        bgr[1::3] = row[1::3]
        bgr[2::3] = row[0::3]
        rows.append(bytes(bgr) + b"\x00" * pad)
    body = b"".join(rows)
    off = 14 + 40
    header = struct.pack("<2sIHHI", BMP_SIG, off + len(body), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + info + body
