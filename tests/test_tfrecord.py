"""TFRecord(gzip) source (S1) — framing golden values, corruption
handling, and the full reference input path (TFRecord of BidLog protos ->
typed rows) against the deterministic bid_logs derivation."""

import gzip
import io

import pytest

from adtech_log_data_pipeline_spark.sources.bidlogs import load_bid_logs
from adtech_log_data_pipeline_spark.sources.protowire import (
    BID_LOG,
    BID_LOG_SQL_SCHEMA,
    bidlog_to_row,
    encode_message,
    row_to_bidlog,
)
from adtech_log_data_pipeline_spark.sources.tfrecord import (
    TFRecordError,
    _frame_record,
    crc32c,
    iter_tfrecords,
    masked_crc32c,
    read_tfrecord,
    read_tfrecord_proto,
    write_tfrecord,
)

SF = "/root/testdata/sf0.001"


def test_crc32c_golden_vectors():
    """Published check values for CRC-32C (Castagnoli)."""
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0x00000000
    assert crc32c(b"\x00" * 32) == 0x8A9136AA


def test_frame_roundtrip_and_corruption():
    payloads = [b"alpha", b"", b"gamma" * 100]
    buf = b"".join(_frame_record(p) for p in payloads)
    assert list(iter_tfrecords(io.BytesIO(buf))) == payloads

    corrupted = bytearray(buf)
    corrupted[14] ^= 0xFF  # inside first payload -> payload CRC mismatch
    with pytest.raises(TFRecordError):
        list(iter_tfrecords(io.BytesIO(bytes(corrupted))))
    with pytest.raises(TFRecordError):
        list(iter_tfrecords(io.BytesIO(buf[:-2])))  # truncated tail


def test_tfrecord_bidlog_input_path(spark, tmp_path):
    """Write real BidLog wire bytes into two gzip'd TFRecord shards, read
    them back through the Spark source, and require bit-exact parity with
    the rows that produced them."""
    rows = [
        r.asDict()
        for r in load_bid_logs(spark, SF).orderBy("bid_id").limit(200).collect()
    ]
    payloads = [encode_message(row_to_bidlog(r), BID_LOG) for r in rows]
    write_tfrecord(str(tmp_path / "bidlog-0.tfrecord.gz"), payloads[:120])
    write_tfrecord(str(tmp_path / "bidlog-1.tfrecord.gz"), payloads[120:])

    out = read_tfrecord_proto(
        spark,
        str(tmp_path / "bidlog-*.tfrecord.gz"),
        BID_LOG,
        BID_LOG_SQL_SCHEMA,
        bidlog_to_row,
    )
    got = sorted((r.asDict() for r in out.collect()), key=lambda r: r["bid_id"])
    want = sorted(rows, key=lambda r: r["bid_id"])
    assert got == want


def test_tfrecord_malformed_payload_dropped(spark, tmp_path):
    """A record whose *payload* is not a valid proto is dropped row-wise
    (ProtoUtils decode semantics); the framing itself stays valid."""
    good = encode_message(
        row_to_bidlog(
            {
                "bid_id": "b1", "exchange": 1, "bid_result": 1, "bid_price": 5,
                "received_at": 10, "processed_at": 20, "device_os": "ios",
                "device_ifa": "x", "app_bundle": "a", "geo_country": "USA",
                "geo_region": "ca",
            }
        ),
        BID_LOG,
    )
    bad = bytes([0x1A, 0x7F])  # received_at claims length-delimited, truncated
    write_tfrecord(str(tmp_path / "mix.tfrecord"), [good, bad, good])
    out = read_tfrecord_proto(
        spark, str(tmp_path / "mix.tfrecord"), BID_LOG,
        BID_LOG_SQL_SCHEMA, bidlog_to_row,
    )
    assert out.count() == 2


def test_read_tfrecord_uncompressed_and_gzip_agree(spark, tmp_path):
    payloads = [b"one", b"two", b"three"]
    write_tfrecord(str(tmp_path / "a.tfrecord"), payloads)
    write_tfrecord(str(tmp_path / "a.tfrecord.gz"), payloads)
    plain = read_tfrecord(spark, str(tmp_path / "a.tfrecord")).collect()
    zipped = read_tfrecord(spark, str(tmp_path / "a.tfrecord.gz")).collect()
    assert sorted(bytes(r["payload"]) for r in plain) == sorted(payloads)
    assert sorted(bytes(r["payload"]) for r in zipped) == sorted(payloads)
    # gzip layer really is gzip (interop: any TFRecord reader can open it)
    with gzip.open(tmp_path / "a.tfrecord.gz", "rb") as f:
        assert list(iter_tfrecords(f)) == payloads


from hypothesis import given, settings
import hypothesis.strategies as st


@settings(max_examples=300, deadline=None)
@given(buf=st.binary(max_size=64))
def test_tfrecord_reader_is_total_over_arbitrary_bytes(buf):
    """Framing totality: ANY byte stream either yields records or raises
    TFRecordError — no struct/index errors escape (the Spark path relies
    on this to drop corrupt FILES, not crash executors)."""
    import io

    from adtech_log_data_pipeline_spark.sources.tfrecord import (
        TFRecordError,
        iter_tfrecords,
    )

    try:
        out = list(iter_tfrecords(io.BytesIO(buf)))
    except TFRecordError:
        return
    assert all(isinstance(r, bytes) for r in out)


@settings(max_examples=100, deadline=None)
@given(payloads=st.lists(st.binary(max_size=40), max_size=6))
def test_tfrecord_frame_roundtrip_law(payloads):
    """frame -> iterate is the identity for any payload list (incl. empty
    payloads and the empty stream)."""
    import io

    from adtech_log_data_pipeline_spark.sources.tfrecord import (
        _frame_record,
        iter_tfrecords,
    )

    buf = b"".join(_frame_record(p) for p in payloads)
    assert list(iter_tfrecords(io.BytesIO(buf))) == payloads


def test_partitioned_rewrite_leaves_no_stale_shards(spark, tmp_path):
    """A second write to the same directory with fewer partitions
    replaces the first write's shards: reading the directory back gives
    exactly the second write's records, with no leftover higher-numbered
    shard from the first."""
    from adtech_log_data_pipeline_spark.sources.tfrecord import (
        write_tfrecord_partitioned,
    )

    shards = str(tmp_path / "shards")

    def write(tag, n_parts):
        rows = [(f"{tag}-{i}".encode(),) for i in range(40)]
        df = spark.createDataFrame(rows, "payload binary").repartition(n_parts)
        write_tfrecord_partitioned(df, shards)
        return sorted(r[0] for r in rows)

    write("first", 4)
    second = write("second", 2)
    assert len(list((tmp_path / "shards").glob("part-*.tfrecord.gz"))) == 2
    back = read_tfrecord(spark, f"{shards}/*.tfrecord.gz").collect()
    assert sorted(bytes(r["payload"]) for r in back) == second
