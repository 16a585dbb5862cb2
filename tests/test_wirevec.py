"""Parity pins for the vectorized wire codec (sources/_wirevec.py) and
the chunked crc32c_many (sources/tfrecord.py) — the r14 optimization
round's bit-exactness contracts:

  * encode_bidlog_rows == encode_message(row_to_bidlog(r), BID_LOG) per
    row, byte for byte, across defaults/negatives/unicode/long strings;
  * decode_bidlog_rows == [bidlog_to_row(decode_message(p)) for p] with
    the scalar malformed-drop and default-instance-drop semantics, on
    canonical AND non-canonical (unknown-field, truncated, invalid-UTF-8)
    payloads;
  * the same decode equality as hypothesis properties, over arbitrary
    bytes and over canonical BidLogs with one byte-level mutation each,
    including which rows drop;
  * crc32c_many == crc32c per element on empty/skewed/over-cap batches
    (r13 ADVICE #2/#4), and frame_records_many == concat of per-record
    framing, roundtripped through _unframe_stream with corruption raising;
  * the encode and CRC equalities as hypothesis properties: arbitrary
    rows (None/empty/non-ASCII strings, boundary ints of each declared
    type) encode byte for byte as the scalar encoder does, a batch the
    fast encoder refuses falls back to the scalar encoder, and
    crc32c_many / masked_crc32c_many equal the scalar CRCs over
    arbitrary payload lists, empty payloads included.
"""

from __future__ import annotations

import io
import random
import string

import hypothesis.strategies as st
import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings

from adtech_log_data_pipeline_spark.sources import tfrecord as tfr
from adtech_log_data_pipeline_spark.sources._wirevec import (
    BIDLOG_COLS,
    decode_bidlog_rows,
    encode_bidlog_rows,
)
from adtech_log_data_pipeline_spark.sources.protowire import (
    BID_LOG,
    WireError,
    bidlog_to_row,
    decode_message,
    encode_message,
    is_default_instance,
    row_to_bidlog,
)


def _rand_row(rng: random.Random) -> dict:
    def s(maxlen: int) -> str:
        n = rng.randint(0, maxlen)
        alphabet = string.ascii_letters + string.digits + ".-_ é√"
        return "".join(rng.choice(alphabet) for _ in range(n))

    return {
        "bid_id": rng.choice(["", s(8), s(40), s(200)]),
        "exchange": rng.choice([0, 1, 21, 22, 23, -1, 2**31 - 1, -(2**31)]),
        "bid_result": rng.choice([0, 1, 2, -3]),
        "bid_price": rng.choice([0, 1, 999, 10**9, -7]),
        "received_at": rng.choice([0, 1, 1_700_000_000_000, -5, 2**62]),
        "processed_at": rng.choice([0, 1_700_000_000_123]),
        "device_os": rng.choice(["", "android", "iOS", s(5)]),
        "device_ifa": rng.choice(["", s(36)]),
        "app_bundle": rng.choice(["", "click.app3", s(300)]),
        "geo_country": rng.choice(["", "US", s(2)]),
        "geo_region": rng.choice(["", "CA", s(130)]),
    }


def _scalar_encode(rows: list[dict]) -> list[bytes]:
    return [encode_message(row_to_bidlog(r), BID_LOG) for r in rows]


def test_encode_bidlog_rows_bit_identical():
    rng = random.Random(20260818)
    rows = [_rand_row(rng) for _ in range(500)]
    # all-defaults row and all-fields-set row, explicitly
    rows.append({c: "" if isinstance(rows[0][c], str) else 0 for c in rows[0]})
    rows.append(
        {
            "bid_id": "x" * 129,  # 2-byte varint length boundary
            "exchange": 1,
            "bid_result": 1,
            "bid_price": 128,
            "received_at": 2**40,
            "processed_at": 2**33,
            "device_os": "ANDROID",
            "device_ifa": "i" * 127,
            "app_bundle": "b" * 128,
            "geo_country": "ZZ",
            "geo_region": "r",
        }
    )
    pdf = pd.DataFrame(rows)
    got = encode_bidlog_rows(pdf)
    assert got == _scalar_encode(rows)


def test_encode_bidlog_rows_none_strings_match_scalar():
    rows = [
        {
            "bid_id": None,
            "exchange": 5,
            "bid_result": 0,
            "bid_price": 0,
            "received_at": 7,
            "processed_at": 0,
            "device_os": None,
            "device_ifa": "",
            "app_bundle": "a",
            "geo_country": None,
            "geo_region": "",
        }
    ]
    pdf = pd.DataFrame(rows)
    got = encode_bidlog_rows(pdf)
    # scalar path treats None exactly like "" (falsy -> omitted)
    assert got == _scalar_encode(rows)


def test_encode_bidlog_rows_dirty_dtype_falls_back():
    pdf = pd.DataFrame(
        [{c: "x" if c == "bid_id" else 1.5 for c in BIDLOG_COLS}]
    )
    assert encode_bidlog_rows(pdf) is None  # caller uses the scalar path


def _scalar_decode(payloads: list[bytes], drop_default: bool = True):
    out = []
    for p in payloads:
        try:
            msg = decode_message(p, BID_LOG)
        except WireError:
            continue
        if drop_default and is_default_instance(msg, BID_LOG):
            continue
        out.append(bidlog_to_row(msg))
    return out


def _cols_to_rows(cols: dict) -> list[dict]:
    n = len(cols["bid_id"])
    return [{c: cols[c][i] for c in BIDLOG_COLS} for i in range(n)]


def test_decode_bidlog_rows_roundtrip_parity():
    rng = random.Random(99)
    rows = [_rand_row(rng) for _ in range(400)]
    rows.append({c: "" if isinstance(rows[0][c], str) else 0 for c in rows[0]})
    payloads = _scalar_encode(rows)
    payloads.append(b"")  # default instance -> dropped by both paths
    got = _cols_to_rows(decode_bidlog_rows(payloads))
    want = _scalar_decode(payloads)
    assert got == want


def test_decode_bidlog_rows_keep_default_instances():
    payloads = [b"", _scalar_encode([_rand_row(random.Random(3))])[0]]
    got = _cols_to_rows(decode_bidlog_rows(payloads, drop_default_instance=False))
    want = _scalar_decode(payloads, drop_default=False)
    assert got == want


def test_decode_bidlog_rows_noncanonical_and_malformed():
    rng = random.Random(7)
    base = _scalar_encode([_rand_row(rng) for _ in range(20)])
    adversarial = [
        b"\x08\x01",            # unknown field 1 as varint (wire-type clash)
        b"\x10\x96\x01",        # exchange=150, no bid_request
        b"\x10\x96",            # truncated varint -> scalar raises -> drop
        b"\x0a\x02\x0a\x00",    # bid_request { id="" explicit empty }
        b"\x0a\x03\x0a\x01\xff",  # invalid UTF-8 id -> drop
        b"\x3a\x00",            # unknown field 7 LEN -> skipped by scalar
        b"\x30\x05\x10\x01",    # out-of-canonical-order fields
        b"\x0a\xff\xff\xff\xff\xff\xff\xff\xff\xff\x01",  # huge LEN
        bytes([0x10] + [0x80] * 9 + [0x7F]),  # 11-byte varint -> error
        bytes([0x18] + [0x80] * 9 + [0x03]),  # 10th byte > 1 (>64-bit int)
        b"\x0a\x04\x22\x00\x2a\x00",  # canonical empty app+device
    ]
    payloads = base + adversarial
    got = _cols_to_rows(decode_bidlog_rows(payloads))
    want = _scalar_decode(payloads)
    assert got == want


def test_decode_bidlog_rows_len_near_int64_max_drops_one_row():
    """A 9-byte LEN varint of 2^63 - 1 nested in bid_request is positive
    as int64, so only an overflow-safe bound (length against the room
    left, never cursor + length) catches it: the batch must drop exactly
    the row the scalar decoder drops, not fail with IndexError."""
    good = _scalar_encode([_rand_row(random.Random(11))])[0]
    evil = b"\x0a\x0a\x0a" + b"\xff" * 8 + b"\x7f"  # bid_request { id: len 2^63-1 }
    payloads = [good, evil, good]
    got = _cols_to_rows(decode_bidlog_rows(payloads))
    want = _scalar_decode(payloads)
    assert len(want) == 2
    assert got == want


def test_crc32c_many_parity_and_skew():
    rng = random.Random(5)
    payloads = [b"", b"\x00"]
    payloads += [
        bytes(rng.getrandbits(8) for _ in range(1 + rng.randrange(300)))
        for _ in range(50)
    ]
    # one large payload among many tiny ones (the ADVICE skew shape)
    payloads.append(bytes(rng.getrandbits(8) for _ in range(100_000)))
    got = tfr.crc32c_many(payloads)
    want = np.array([tfr.crc32c(p) for p in payloads], np.uint32)
    assert (got == want).all()


def test_crc32c_many_over_cap_chunking(monkeypatch):
    rng = random.Random(11)
    payloads = [
        bytes(rng.getrandbits(8) for _ in range(rng.randrange(200)))
        for _ in range(64)
    ]
    monkeypatch.setattr(tfr, "_CRC_MATRIX_CAP", 512)  # force the slice walk
    got = tfr.crc32c_many(payloads)
    want = np.array([tfr.crc32c(p) for p in payloads], np.uint32)
    assert (got == want).all()


def test_frame_records_many_roundtrip_and_corruption():
    rng = random.Random(13)
    payloads = [
        bytes(rng.getrandbits(8) for _ in range(rng.randrange(0, 400)))
        for _ in range(40)
    ]
    framed = tfr.frame_records_many(payloads)
    assert framed == b"".join(tfr._frame_record(p) for p in payloads)
    assert tfr._unframe_stream(framed) == payloads
    assert list(tfr.iter_tfrecords(io.BytesIO(framed))) == payloads
    # flip one payload byte -> CRC mismatch raises through both paths
    corrupt = bytearray(framed)
    corrupt[16] ^= 0x40
    with pytest.raises(tfr.TFRecordError):
        tfr._unframe_stream(bytes(corrupt))


# --- differential properties: vectorized decode vs the scalar decoder ------

_int32 = st.integers(-(2**31), 2**31 - 1)
_int64 = st.integers(-(2**63), 2**63 - 1)

_row_strategy = st.fixed_dictionaries(
    {
        "bid_id": st.text(max_size=40),
        "exchange": _int32,
        "bid_result": _int32,
        "bid_price": _int32,
        "received_at": _int64,
        "processed_at": _int64,
        "device_os": st.text(max_size=8),
        "device_ifa": st.text(max_size=40),
        "app_bundle": st.text(max_size=140),
        "geo_country": st.text(max_size=3),
        "geo_region": st.text(max_size=8),
    }
)


@st.composite
def _mutated(draw, payload: bytes) -> bytes:
    """One structural edit of a payload: flip, insert or delete a byte,
    truncate, or splice in random bytes."""
    op = draw(st.sampled_from(["keep", "flip", "insert", "delete", "truncate", "splice"]))
    if op == "keep" or (not payload and op in ("flip", "delete")):
        return payload
    i = draw(st.integers(0, max(len(payload) - 1, 0)))
    if op == "flip":
        return payload[:i] + bytes([payload[i] ^ draw(st.integers(1, 255))]) + payload[i + 1:]
    if op == "insert":
        return payload[:i] + bytes([draw(st.integers(0, 255))]) + payload[i:]
    if op == "delete":
        return payload[:i] + payload[i + 1:]
    if op == "truncate":
        return payload[:i]
    return payload[:i] + draw(st.binary(max_size=12)) + payload[i:]


_mutated_payloads = st.lists(
    _row_strategy.map(lambda r: _scalar_encode([r])[0]).flatmap(_mutated),
    max_size=12,
)


def _assert_decoders_agree(payloads: list[bytes]) -> None:
    """Row for row: the batch decode equals the scalar decode, and every
    payload alone is kept or dropped by both decoders alike."""
    for drop_default in (True, False):
        want = _scalar_decode(payloads, drop_default)
        got = decode_bidlog_rows(payloads, drop_default_instance=drop_default)
        assert _cols_to_rows(got) == want
        for p in payloads:
            one = decode_bidlog_rows([p], drop_default_instance=drop_default)
            assert _cols_to_rows(one) == _scalar_decode([p], drop_default), p


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(payloads=st.lists(st.binary(max_size=80), max_size=12))
def test_decode_bidlog_rows_matches_scalar_on_arbitrary_bytes(payloads):
    _assert_decoders_agree(payloads)


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(payloads=_mutated_payloads)
def test_decode_bidlog_rows_matches_scalar_on_mutated_bidlogs(payloads):
    _assert_decoders_agree(payloads)


# --- differential properties: vectorized encode and CRC vs the scalar code -

_INT_COLS = ("exchange", "bid_result", "bid_price", "received_at", "processed_at")
_INT32_COLS = ("exchange", "bid_result", "bid_price")


def _bounded(lo: int, hi: int) -> st.SearchStrategy[int]:
    """Any int of the declared range, with its edges and the varint
    size boundaries drawn often."""
    edges = [lo, lo + 1, -1, 0, 1, 127, 128, 16383, 16384, 2**31 - 1, hi - 1, hi]
    return st.sampled_from([e for e in edges if lo <= e <= hi]) | st.integers(lo, hi)


_text_or_none = st.none() | st.text(max_size=40)

_encode_row = st.fixed_dictionaries(
    {
        "bid_id": _text_or_none,
        "exchange": _bounded(-(2**31), 2**31 - 1),
        "bid_result": _bounded(-(2**31), 2**31 - 1),
        "bid_price": _bounded(-(2**31), 2**31 - 1),
        "received_at": _bounded(-(2**63), 2**63 - 1),
        "processed_at": _bounded(-(2**63), 2**63 - 1),
        "device_os": _text_or_none,
        "device_ifa": _text_or_none,
        "app_bundle": st.none() | st.text(max_size=300),
        "geo_country": _text_or_none,
        "geo_region": _text_or_none,
    }
)


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(_encode_row, min_size=1, max_size=12))
def test_encode_bidlog_rows_matches_scalar_on_arbitrary_rows(rows):
    pdf = pd.DataFrame(rows, columns=list(BIDLOG_COLS))
    assert all(np.issubdtype(pdf[c].dtype, np.integer) for c in _INT_COLS)
    assert encode_bidlog_rows(pdf) == _scalar_encode(rows)


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(_encode_row, min_size=1, max_size=8),
    col=st.sampled_from(_INT32_COLS),
)
def test_encode_bidlog_rows_refuses_a_float_column(rows, col):
    """A batch whose int column arrives as float64 (an int32 column read
    through a double) is refused by the fast encoder, so the scalar
    encoder, which takes int(v), encodes it to the same bytes."""
    pdf = pd.DataFrame(rows, columns=list(BIDLOG_COLS))
    pdf[col] = pdf[col].astype(np.float64)
    assert encode_bidlog_rows(pdf) is None
    assert [
        encode_message(row_to_bidlog(r), BID_LOG) for r in pdf.to_dict("records")
    ] == _scalar_encode(rows)


def test_encode_wire_proto_takes_the_scalar_path_for_a_refused_batch(spark):
    """Through Spark: a double-typed bid_price makes the fast encoder
    refuse each batch, and the encoded payloads are the scalar bytes."""
    from adtech_log_data_pipeline_spark.sources.protowire import (
        BID_LOG_SQL_SCHEMA,
        encode_wire_proto,
    )

    rows = [_rand_row(random.Random(seed)) for seed in range(20)]
    schema = BID_LOG_SQL_SCHEMA.replace("bid_price int", "bid_price double")
    names = [f.split()[0] for f in schema.split(",")]
    df = spark.createDataFrame(
        [tuple(float(r[c]) if c == "bid_price" else r[c] for c in names) for r in rows],
        schema,
    )
    got = [bytes(r["payload"]) for r in encode_wire_proto(df, BID_LOG, row_to_bidlog).collect()]
    assert sorted(got) == sorted(_scalar_encode(rows))


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    payloads=st.lists(st.binary(max_size=300), max_size=24),
    cap=st.sampled_from([None, 64]),
)
def test_crc32c_many_matches_scalar_on_arbitrary_payloads(payloads, cap):
    """Both vectorized CRCs equal the scalar ones element for element,
    with the dense walk and (cap=64) the length-sorted slice walk."""
    saved = tfr._CRC_MATRIX_CAP
    if cap is not None:
        tfr._CRC_MATRIX_CAP = cap
    try:
        crc = tfr.crc32c_many(payloads)
        masked = tfr.masked_crc32c_many(payloads)
    finally:
        tfr._CRC_MATRIX_CAP = saved
    assert crc.dtype == masked.dtype == np.uint32
    assert crc.tolist() == [tfr.crc32c(p) for p in payloads]
    assert masked.tolist() == [tfr.masked_crc32c(p) for p in payloads]
