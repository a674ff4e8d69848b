"""Multimodal (binary payload) plumbing for the training-data tier.

Images/audio/video ride as opaque `binary` columns with typed metadata
structs. The Spark-side plumbing — schema, Arrow batch shape, iterator
UDF signature, partitioning — is real and tested; the actual codec
work is stubbed (the package depends on no image/audio library):
`decode_stub` derives deterministic fake metadata from the raw bytes
where PIL/ffmpeg would decode on a real cluster.

Reference analog: the binary image path of `load_image`
(core/ocr_engine.py:84-119) and quality metrics over decoded pixels
(services/quality_check.py:17-91) — here re-expressed as an
iterator-of-batches Arrow UDF (operators/pystage.batch_map) over the
binary column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ocr_service_spark.operators.pystage import batch_map

__all__ = ["MEDIA_META_TYPE", "decode_stub", "with_media_meta"]

MEDIA_META_TYPE = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ]
)


def decode_stub(payload: bytes) -> dict:
    """Deterministic fake decode: metadata is a pure function of the
    bytes, so tests and the SQL oracle can reproduce it. A real
    decode would call PIL.Image.open / av.open here."""
    import hashlib

    if payload is None or len(payload) == 0:
        return {"n_bytes": 0, "sha256": None, "width": None, "height": None,
                "n_frames": None, "codec": None}
    return {
        "n_bytes": len(payload),
        "sha256": hashlib.sha256(payload).hexdigest(),
        "width": payload[0] % 64 + 1,
        "height": (payload[1] if len(payload) > 1 else 0) % 64 + 1,
        "n_frames": len(payload) % 7 + 1,
        "codec": "fake/deterministic",
    }


def with_media_meta(df: DataFrame, payload_col: str, out_col: str = "media_meta") -> DataFrame:
    """Attach the decoded-metadata struct via an Arrow-batched iterator
    UDF (one-time init per partition, bytes never leave Arrow buffers
    until the decode call)."""
    udf = batch_map(lambda: lambda payloads: [decode_stub(p) for p in payloads],
                    MEDIA_META_TYPE)
    return df.withColumn(out_col, udf(F.col(payload_col)))
