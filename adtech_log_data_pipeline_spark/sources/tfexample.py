"""tf.train.Example interchange — the standard TFRecord payload format
for training data (public: tensorflow/core/example/example.proto and
feature.proto), built on the engine's own wire codec (protowire.py) and
TFRecord framing (tfrecord.py). No TensorFlow dependency.

Export writes `part-*.tfrecord.gz` shards any TF/JAX/PyTorch input
pipeline reads directly; the read path decodes them back into a typed
DataFrame, giving a full roundtrip law the tests pin. Wire conventions:
deterministic serialization (features sorted by name), packed
Int64List/FloatList, and proto3 unknown-field tolerance on read.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .protowire import Field, Spec, decode_message, encode_message
from .tfrecord import read_tfrecord, write_tfrecord_partitioned

# feature.proto / example.proto field numbers
BYTES_LIST = Spec("BytesList", (Field(1, "value", "bytes", repeated=True),))
FLOAT_LIST = Spec("FloatList", (Field(1, "value", "packed_float"),))
INT64_LIST = Spec("Int64List", (Field(1, "value", "packed_int64"),))
FEATURE = Spec("Feature", (
    Field(1, "bytes_list", "message", message=BYTES_LIST),
    Field(2, "float_list", "message", message=FLOAT_LIST),
    Field(3, "int64_list", "message", message=INT64_LIST),
))
FEATURES = Spec("Features", (
    Field(1, "feature", "map_str_msg", message=FEATURE),
))
EXAMPLE = Spec("Example", (
    Field(1, "features", "message", message=FEATURES),
))


def make_example(features: dict[str, Any]) -> bytes:
    """Encode {name: value} into tf.train.Example wire bytes. Value
    typing follows TF conventions: int -> Int64List, float -> FloatList,
    str/bytes -> BytesList; a list means a multi-valued feature of the
    element type."""
    fmap: dict[str, dict] = {}
    for name, v in features.items():
        vals = v if isinstance(v, list) else [v]
        feat = FEATURE.default()
        if not vals:
            pass
        elif isinstance(vals[0], bool):
            raise TypeError(f"feature {name}: bool is ambiguous; use int")
        elif isinstance(vals[0], int):
            feat["int64_list"] = {"value": [int(x) for x in vals]}
        elif isinstance(vals[0], float):
            feat["float_list"] = {"value": [float(x) for x in vals]}
        elif isinstance(vals[0], str):
            feat["bytes_list"] = {"value": [x.encode("utf-8") for x in vals]}
        elif isinstance(vals[0], (bytes, bytearray)):
            feat["bytes_list"] = {"value": [bytes(x) for x in vals]}
        else:
            raise TypeError(f"feature {name}: unsupported type {type(vals[0])}")
        fmap[name] = feat
    return encode_message({"features": {"feature": fmap}}, EXAMPLE)


def parse_example(payload: bytes) -> dict[str, list]:
    """Decode Example wire bytes to {name: values} (ints, floats, or
    bytes — the caller knows its schema)."""
    msg = decode_message(payload, EXAMPLE)
    out: dict[str, list] = {}
    for name, feat in ((msg.get("features") or {}).get("feature") or {}).items():
        if feat.get("int64_list"):
            out[name] = list(feat["int64_list"]["value"])
        elif feat.get("float_list"):
            out[name] = list(feat["float_list"]["value"])
        elif feat.get("bytes_list"):
            out[name] = list(feat["bytes_list"]["value"])
        else:
            out[name] = []
    return out


DOC_FEATURES = ("doc_id", "text", "lang", "source", "n_chars")


def export_tfrecord_examples(documents: DataFrame, out_dir: str) -> int:
    """Write the documents table as tf.train.Example gzip TFRecord shards
    (one shard per partition — runner-chosen sharding), replacing any
    shards an earlier export left in ``out_dir``. Returns the row
    count written. Map-only: each Arrow batch encodes to wire bytes in
    place; nothing shuffles."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = [
                make_example(
                    {
                        "doc_id": int(r.doc_id),
                        "text": "" if r.text is None else str(r.text),
                        "lang": "" if r.lang is None else str(r.lang),
                        "source": "" if r.source is None else str(r.source),
                        "n_chars": int(r.n_chars),
                    }
                )
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame({"payload": payloads})

    framed = documents.select(*DOC_FEATURES).mapInPandas(
        encode, schema="payload binary"
    ).persist()
    try:
        # persist first: count() + the shard write otherwise run the full
        # mapInPandas encode twice (doubling the export's CPU cost)
        n = framed.count()
        write_tfrecord_partitioned(framed, out_dir)
    finally:
        framed.unpersist()
    return n


def read_tfrecord_examples(spark: SparkSession, path_glob: str) -> DataFrame:
    """Read Example shards back into the documents schema."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload in pdf["payload"]:
                f = parse_example(bytes(payload))
                rows.append(
                    {
                        "doc_id": f["doc_id"][0],
                        "text": f["text"][0].decode("utf-8"),
                        "lang": f["lang"][0].decode("utf-8"),
                        "source": f["source"][0].decode("utf-8"),
                        "n_chars": f["n_chars"][0],
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
            )

    return read_tfrecord(spark, path_glob).mapInPandas(
        decode,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
