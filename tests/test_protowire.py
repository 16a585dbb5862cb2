"""Protobuf wire-format codec (S3/S4 fidelity) — golden bytes, roundtrip,
and the malformed-drop contract of ProtoUtils.decodeMessageBase64
(reference utils/ProtoUtils.java:22-59, drop sites Features.java:72-79)."""

import base64

import pytest

from adtech_log_data_pipeline_spark.sources.protowire import (
    APP_PROFILE,
    DEVICE_ID,
    DEVICE_PROFILE,
    NAME_TO_OS,
    OS_TO_NAME,
    WireError,
    decode_b64_proto,
    decode_message,
    encode_b64_proto,
    encode_message,
    is_default_instance,
)

DEVICE_ID_SQL_SCHEMA = "os string, uuid string"


def device_id_mappers():
    """(row -> DeviceId, DeviceId -> row). Built per call: functions of a
    test module pickle by reference, and Python workers cannot import
    the test module."""
    return (
        lambda row: {"os": NAME_TO_OS[row["os"]], "uuid": row["uuid"]},
        lambda msg: {"os": OS_TO_NAME[msg["os"]], "uuid": msg["uuid"]},
    )


def small_profile():
    return {
        "device_id": {"os": 1, "uuid": "A"},
        "app": [{"bundle": "b", "first_at": 1, "last_at": 2,
                 "count_per_exchange": {1: 2}}],
        "first_at": 1,
        "last_at": 2,
        "geo": [{"country": "us", "region": "ca"}],
    }


GOLDEN = bytes.fromhex(
    "0a0508011201412a0d0a016210011802320408011002480150025a080a02757312026361"
)


def test_golden_wire_bytes():
    """Hand-computed canonical encoding: field-number order, map entries as
    nested {1:key,2:value} messages, defaults omitted."""
    assert encode_message(small_profile(), DEVICE_PROFILE) == GOLDEN


def test_golden_decode_roundtrip():
    assert decode_message(GOLDEN, DEVICE_PROFILE) == small_profile()


def test_decode_any_field_order():
    """parseFrom accepts fields in any order — decode last_at before
    device_id."""
    reordered = GOLDEN[22:24] + GOLDEN[:22] + GOLDEN[24:]
    assert decode_message(reordered, DEVICE_PROFILE) == small_profile()


def test_unknown_fields_skipped():
    """proto3 skips unknown fields (here: field 99 varint, field 98
    length-delimited) instead of erroring."""
    from adtech_log_data_pipeline_spark.sources.protowire import _write_varint

    extra = bytearray()
    _write_varint(extra, 99 << 3 | 0)   # field 99, varint
    extra.append(0x07)
    _write_varint(extra, 98 << 3 | 2)   # field 98, length-delimited
    extra += bytes([0x02, 0x61, 0x62])
    extra = bytes(extra)
    assert decode_message(GOLDEN + extra, DEVICE_PROFILE) == small_profile()


@pytest.mark.parametrize(
    "spec, buf",
    [
        (DEVICE_PROFILE, GOLDEN[:-1]),              # truncated payload
        (DEVICE_PROFILE, bytes([0x48, 0x80])),      # truncated varint
        (DEVICE_PROFILE, bytes([0x4A, 0x01, 0x00])),  # first_at (9) wrong wire type
        (DEVICE_PROFILE, bytes([0x0A, 0x02, 0x12, 0x03])),  # nested truncation
        (APP_PROFILE, bytes([0x0A, 0x02, 0xC3, 0x28])),  # invalid UTF-8 bundle
        (DEVICE_PROFILE, bytes([0x00, 0x01])),      # field number 0
    ],
)
def test_malformed_bytes_raise(spec, buf):
    with pytest.raises(WireError):
        decode_message(buf, spec)


def test_negative_and_large_varints():
    """int32 -1 travels as a 10-byte varint (Java semantics); int64 min/max
    survive."""
    msg = {"bundle": "x", "user_count": -1,
           "user_count_per_exchange": {0: 2147483647}}
    assert decode_message(encode_message(msg, APP_PROFILE), APP_PROFILE) == msg
    did = {"os": 2, "uuid": "u"}
    assert decode_message(encode_message(did, DEVICE_ID), DEVICE_ID) == did


def test_default_instance_detection():
    assert is_default_instance(DEVICE_PROFILE.default(), DEVICE_PROFILE)
    assert not is_default_instance(small_profile(), DEVICE_PROFILE)
    assert decode_message(b"", DEVICE_PROFILE) == DEVICE_PROFILE.default()


def test_spark_roundtrip_and_malformed_drop(spark):
    """DeviceIds -> Base64 wire lines -> decode: exact roundtrip;
    injected garbage / truncated / default-instance lines are dropped."""
    rows = [
        {"os": "ANDROID", "uuid": "ABCDEFAB-1234-5678-9ABC-DEF012345678"},
        {"os": "IOS", "uuid": "00000000-0000-4000-8000-000000000001"},
    ]
    row_to_device_id, device_id_to_row = device_id_mappers()
    df = spark.createDataFrame(rows, schema=DEVICE_ID_SQL_SCHEMA)
    encoded = encode_b64_proto(df, DEVICE_ID, row_to_device_id)
    golden = encode_message(row_to_device_id(rows[0]), DEVICE_ID)

    garbage = spark.createDataFrame(
        [
            ("!!!not-base64!!!",),
            (base64.b64encode(golden[:-1]).decode(),),  # truncated wire
            (base64.b64encode(b"").decode(),),          # default instance
        ],
        "value string",
    )
    decoded = decode_b64_proto(
        encoded.unionByName(garbage),
        DEVICE_ID,
        DEVICE_ID_SQL_SCHEMA,
        device_id_to_row,
    )
    got = sorted((r.asDict() for r in decoded.collect()), key=lambda r: r["uuid"])
    assert got == sorted(rows, key=lambda r: r["uuid"])


def test_spark_decode_interops_with_python_encoder(spark):
    """Lines produced by the raw Python encoder (simulating the reference's
    Java writer) decode through the Spark path bit-exactly."""
    line = base64.b64encode(encode_message({"os": 2, "uuid": "A"}, DEVICE_ID))
    df = spark.createDataFrame([(line.decode(),)], "value string")
    out = decode_b64_proto(
        df, DEVICE_ID, DEVICE_ID_SQL_SCHEMA, device_id_mappers()[1]
    ).collect()
    assert [r.asDict() for r in out] == [{"os": "IOS", "uuid": "A"}]


from hypothesis import given, settings
import hypothesis.strategies as st


@settings(max_examples=300, deadline=None)
@given(buf=st.binary(max_size=60))
def test_decoder_is_total_over_arbitrary_bytes(buf):
    """The malformed-drop contract of the Spark path: ANY byte string
    either decodes to a dict or raises WireError — no other exception
    type may escape (an IndexError/UnicodeError here would fail whole
    Arrow batches instead of dropping one row)."""
    try:
        out = decode_message(buf, DEVICE_PROFILE)
    except WireError:
        return
    assert isinstance(out, dict)


@settings(max_examples=200, deadline=None)
@given(
    bundle=st.text(max_size=12),
    user_count=st.integers(-(2**31), 2**31 - 1),
    counts=st.dictionaries(
        st.integers(0, 22), st.integers(-(2**31), 2**31 - 1), max_size=4
    ),
)
def test_app_profile_roundtrip_law(bundle, user_count, counts):
    """encode -> decode is the identity for every valid AppProfile,
    including negative counts (10-byte varints) and unicode bundles."""
    msg = {
        "bundle": bundle,
        "user_count": user_count,
        "user_count_per_exchange": counts,
    }
    assert decode_message(encode_message(msg, APP_PROFILE), APP_PROFILE) == msg
