"""Streaming extraction: the flagship pipeline as a Structured Stream.

A crawl drop-directory (or Kafka topic / Iceberg incremental scan on a
real cluster) streams document rows through the SAME extraction +
correction + validation stages as the batch pipeline — the operators
are stream-agnostic column transforms, so this module only wires
sources and sinks:

    read_document_stream(dir) → extract/correct/validate → sink

Late/duplicate crawls are handled with watermark + dropDuplicates on
url (state-store backed, keyed by url, expired by the watermark). Unlike
the batch max-of-struct dedup (`dedup_latest`), which keeps each url's
LATEST warc_ts, it keeps the FIRST-ARRIVING crawl of a url (within one
micro-batch, whichever duplicate reaches the state store first): a
later micro-batch's newer crawl of an already-seen url is dropped until
the watermark expires that url's state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_service_spark.corpus import CORPUS_SCHEMA
from ocr_service_spark.operators.extract import (
    flatten_extraction,
    make_extract_correct_udf,
)

__all__ = ["read_document_stream", "streaming_extract", "run_to_parquet"]


def read_document_stream(spark: SparkSession, in_dir: str,
                         max_files_per_trigger: int = 64) -> DataFrame:
    """Parquet drop-directory of documents(doc_id, url, warc_ts, html,
    text, lang) as a stream; each micro-batch reads at most
    `max_files_per_trigger` files."""
    return (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(in_dir)
    )


def streaming_extract(docs: DataFrame, dedup_watermark: str = "1 hour") -> DataFrame:
    """Stream-side extraction: watermarked per-url dedup (first-arriving
    crawl wins, see module docstring), then the same fused Arrow
    extraction + correction UDF as the batch pipeline."""
    deduped = docs.withWatermark("warc_ts", dedup_watermark).dropDuplicates(["url"])
    x = deduped.withColumn("x", make_extract_correct_udf()(F.col("html")))
    return flatten_extraction(x.filter(F.col("x.error").isNull())).select(
        "doc_id", "url", "warc_ts", "lang", "kind", "extracted_text",
        "corrected_text", "corrections_applied", "spans",
    )


def run_to_parquet(spark: SparkSession, in_dir: str, out_dir: str,
                   checkpoint: str) -> None:
    """One availableNow drain: stream → extract → append parquet.
    Restartable from the checkpoint; exactly-once per file via the
    streaming file-source log."""
    q = (
        streaming_extract(read_document_stream(spark, in_dir))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
