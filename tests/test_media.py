"""Pure-stdlib PNG/WAV codecs + the sniff-then-dispatch decode seam."""

import struct
import zlib

import pytest

from adtech_log_data_pipeline_spark.sources.media import (
    decode_png,
    decode_wav,
    is_png,
    is_wav,
)
from media_fixtures import encode_bmp, encode_png, encode_wav


def test_png_roundtrip_rgb():
    w, h = 5, 3
    pixels = bytes((x * 7 + c) % 256 for x in range(w * h) for c in range(3))
    png = encode_png(w, h, pixels, color_type=2)
    assert is_png(png)
    meta = decode_png(png)
    assert (meta["width"], meta["height"], meta["channels"]) == (5, 3, 3)
    assert meta["pixels"] == pixels
    assert meta["mean_px"] == sum(pixels) // len(pixels)


def test_png_roundtrip_grayscale():
    pixels = bytes(range(16))
    meta = decode_png(encode_png(4, 4, pixels, color_type=0))
    assert meta["channels"] == 1 and meta["pixels"] == pixels


def test_png_all_filter_types_decode():
    """Hand-build a PNG whose scanlines use filters 1-4: the decoder must
    reconstruct the same image an unfiltered encoding produces."""
    w, h, ch = 4, 4, 3
    stride = w * ch
    pixels = bytes((13 * i) % 256 for i in range(w * h * ch))
    rows = [pixels[y * stride : (y + 1) * stride] for y in range(h)]

    def sub(line, prev):
        return bytes((line[i] - (line[i - ch] if i >= ch else 0)) & 0xFF
                     for i in range(stride))

    def up(line, prev):
        return bytes((line[i] - prev[i]) & 0xFF for i in range(stride))

    def avg(line, prev):
        out = bytearray()
        for i in range(stride):
            a = line[i - ch] if i >= ch else 0
            out.append((line[i] - ((a + prev[i]) >> 1)) & 0xFF)
        return bytes(out)

    def paeth(line, prev, prev_line):
        out = bytearray()
        for i in range(stride):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev_line[i - ch] if i >= ch else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((line[i] - pr) & 0xFF)
        return bytes(out)

    raw = b"\x01" + sub(rows[0], bytes(stride))
    raw += b"\x02" + up(rows[1], rows[0])
    raw += b"\x03" + avg(rows[2], rows[1])
    raw += b"\x04" + paeth(rows[3], rows[2], rows[2])

    def chunk(tag, body):
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png)["pixels"] == pixels


def test_wav_roundtrip():
    samples = [0, 1000, -1000, 32767, -32768] * 320  # 1600 frames @ 16 kHz
    w = encode_wav(samples, sample_rate=16_000)
    assert is_wav(w)
    meta = decode_wav(w)
    assert meta["sample_rate"] == 16_000
    assert meta["n_frames"] == 1600
    assert meta["duration_ms"] == 100
    assert meta["mean_abs"] == sum(abs(s) for s in samples) // len(samples)


def test_decode_media_sniffs_real_png_and_rejects_unknown():
    from adtech_log_data_pipeline_spark.functions.multimodal import decode_media

    png = encode_png(7, 9, bytes(7 * 9 * 3), color_type=2)
    assert decode_media(png) == (7, 9, "png")
    assert decode_media(png, fake=False) == (7, 9, "png")
    # unknown bytes: fake path by default, hard error when fake=False
    w, h, fmt = decode_media(b"not an image")
    assert fmt in ("png", "jpeg", "webp") and w >= 64 and h >= 64
    with pytest.raises(ValueError):
        decode_media(b"not an image", fake=False)


def test_spark_metadata_and_audio_paths_use_real_codecs(spark):
    """End-to-end through the Arrow batch plumbing: real PNG dims out of
    decode_image_metadata, real WAV durations out of audio_chunk_manifest
    (3.5 s -> 4 chunks of 30 s granularity... 1 chunk under 30 s)."""
    from adtech_log_data_pipeline_spark.functions.multimodal import (
        audio_chunk_manifest,
        decode_image_metadata,
    )

    png = encode_png(33, 21, bytes(33 * 21 * 3), color_type=2)
    blobs = spark.createDataFrame([(1, bytearray(png))], "doc_id long, blob binary")
    row = decode_image_metadata(blobs).collect()[0]
    assert (row["width"], row["height"], row["format"]) == (33, 21, "png")

    wav = encode_wav([0] * (16_000 * 65), sample_rate=16_000)  # 65 s
    ablobs = spark.createDataFrame([(2, bytearray(wav))], "doc_id long, blob binary")
    chunks = audio_chunk_manifest(ablobs).collect()
    assert len(chunks) == 3  # 65 s -> 30+30+5
    assert all(r["duration_ms"] == 65_000 for r in chunks)
    assert chunks[-1]["chunk_end_ms"] == 65_000


def test_png_roundtrip_fuzz():
    """Random dims/pixels/color types survive encode -> decode exactly."""
    import hypothesis.strategies as st
    from hypothesis import given, settings

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        ct=st.sampled_from([0, 2, 4, 6]),
        seed=st.integers(0, 2**31),
    )
    def law(w, h, ct, seed):
        from adtech_log_data_pipeline_spark.sources.media import _CHANNELS

        ch = _CHANNELS[ct]
        pixels = bytes((seed * 2654435761 + i * 40503) % 256 for i in range(w * h * ch))
        meta = decode_png(encode_png(w, h, pixels, color_type=ct))
        assert meta["pixels"] == pixels and meta["channels"] == ch

    law()


class TestBmp:
    def test_roundtrip_all_pixels(self):
        from adtech_log_data_pipeline_spark.sources.media import decode_bmp

        # widths 1..5 exercise every row-padding case (stride % 4)
        for w in range(1, 6):
            px = bytes((i * 7) % 256 for i in range(w * 3 * 3))
            m = decode_bmp(encode_bmp(w, 3, px))
            assert (m["width"], m["height"], m["channels"]) == (w, 3, 3)
            assert m["pixels"] == px

    def test_dispatch_recognizes_bmp(self):
        from adtech_log_data_pipeline_spark.functions.multimodal import (
            decode_media,
        )

        b = encode_bmp(4, 2, bytes(24))
        assert decode_media(b, fake=False) == (4, 2, "bmp")

    def test_unsupported_profile_raises(self):
        import pytest

        from adtech_log_data_pipeline_spark.sources.media import decode_bmp

        with pytest.raises(ValueError):
            decode_bmp(b"BM" + b"\x00" * 60)  # hdr_size 0 -> unsupported
