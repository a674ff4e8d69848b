"""Streaming extraction: the flagship pipeline as a Structured Stream.

A crawl drop-directory (or Kafka topic / Iceberg incremental scan on a
real cluster) streams document rows through the SAME extraction,
correction, validation and quality stages as the batch pipeline
(`pipeline.extract_records`, stateless column transforms), so this
module only wires the dedup, sources and sinks:

    read_document_stream(dir) → watermarked url dedup → extract_records → sink

Late/duplicate crawls are handled with watermark + dropDuplicates on
url (state-store backed, keyed by url, expired by the watermark). Unlike
the batch max-of-struct dedup (`dedup_latest`), which keeps each url's
LATEST warc_ts, it keeps the FIRST-ARRIVING crawl of a url (within one
micro-batch, whichever duplicate reaches the state store first): a
later micro-batch's newer crawl of an already-seen url is dropped until
the watermark expires that url's state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ocr_service_spark.corpus import CORPUS_SCHEMA
from ocr_service_spark.pipeline import extract_records

__all__ = ["read_document_stream", "streaming_extract", "run_to_parquet"]

# How long a url's dedup state outlives the newest warc_ts seen, and
# how many drop-directory files one micro-batch reads.
DEDUP_WATERMARK = "1 hour"
MAX_FILES_PER_TRIGGER = 64


def read_document_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """Parquet drop-directory of documents(doc_id, url, warc_ts, html,
    text, lang) as a stream."""
    return (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
        .parquet(in_dir)
    )


def streaming_extract(docs: DataFrame) -> DataFrame:
    """Stream-side pipeline: watermarked per-url dedup (first-arriving
    crawl wins, see module docstring), then the batch pipeline's
    extract_records — the same 17 result columns as process_documents."""
    return extract_records(
        docs.withWatermark("warc_ts", DEDUP_WATERMARK).dropDuplicates(["url"]))


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
