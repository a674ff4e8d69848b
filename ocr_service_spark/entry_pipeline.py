"""Flagship entry pipeline over the driver's documents table.

The driver tables carry plain text (no html column), so the flagship
first renders each document into a full Common-Crawl-style page
(nav/header/breadcrumbs/aside/footer boilerplate + the text as the
article body — kernel/htmlgen.htmlify_roundtrip), then runs the real
hot path: Arrow-batched extraction UDF → dedup → validation → quality
(SURVEY.md §3.1 Spark restatement). Page rendering happens in the same
mapInArrow stage as the scan, so the whole flagship is one
scan→render→extract→project chain plus the dedup shuffle.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ocr_service_spark.operators.pystage import arrow_schema
from ocr_service_spark.pipeline import process_documents

__all__ = ["htmlified_documents", "flagship"]


HTMLIFIED_SCHEMA = (
    "doc_id long, url string, warc_ts timestamp, html binary, "
    "text string, lang string"
)


def htmlified_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id, text, lang, ...) → the authoritative input
    shape documents(url, warc_ts, html, text, lang) of BASELINE.json:
    deterministic url/warc_ts derived from doc_id, html rendered from
    the text column."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    schema = arrow_schema(HTMLIFIED_SCHEMA)

    def render(batches):
        from datetime import datetime, timedelta, timezone

        from ocr_service_spark.kernel.htmlgen import htmlify_roundtrip

        epoch = datetime(2025, 1, 1, tzinfo=timezone.utc)
        for batch in batches:
            yield pa.RecordBatch.from_pylist([
                {"doc_id": d["doc_id"],
                 "url": f"https://host{d['doc_id'] % 97}.example/doc/{d['doc_id']}",
                 "warc_ts": epoch + timedelta(seconds=(d["doc_id"] * 37) % 10_000_000),
                 "html": htmlify_roundtrip(d["text"], d["doc_id"]),
                 "text": d["text"], "lang": d["lang"]}
                for d in batch.to_pylist()], schema=schema)

    return docs.select("doc_id", "text", "lang").mapInArrow(render, schema=HTMLIFIED_SCHEMA)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full result-record pipeline on the htmlified documents table."""
    return process_documents(htmlified_documents(spark, sf_dir))
