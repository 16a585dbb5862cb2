"""JSON text sink — the reference's compact-JSON prediction output
(SURVEY.md §2.1 S5).

The reference's other text format, newline-delimited Base64 protobuf
lines (utils/IOUtils.java:15-19), is written and read by
`protowire.encode_b64_proto` / `decode_b64_proto`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_json_text(df: DataFrame, path: str) -> None:
    """Compact-JSON text sink (S5) preserving snake_case field names
    (reference ProtoUtils printer :50-59 keeps proto field names). JVM
    built-ins only; the sink stays partitioned."""
    out = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    out.write.mode("overwrite").text(path)
