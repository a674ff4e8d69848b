"""The flagship end-to-end extraction pipeline.

Spark restatement of the reference's `POST /api/v1/process` lifecycle
(reference core/processor.py:97-398; SURVEY.md §3.1): one lazy
DataFrame chain —

  scan(documents)
    → dedup-and-validate shuffle (one exchange, keep latest warc_ts crawl)
    → FUSED extraction + correction UDF (one Arrow batch round-trip;
      HTML density classify / PDF block merge + contextual digit fix +
      dictionary token map — replaces stages 2-5 of the reference
      lifecycle)
    → error filter
    → one projection per dependency level, each column a Spark SQL
      rule from operators/validate.py and operators/quality.py:
      (1) flat columns, document_id, quality stats, span confidence
          and the raw field/surname scans `_cands`;
      (2) the valid candidates `_valids` and overall_quality;
      (3) the final record: critical_fields, important_data and
          needs_review (stages 7, 8, P2/P3, 11; processor.py:346-376)

Building the plan parses a few SQL strings rather than assembling
Column trees node by node over py4j. Catalyst plans it as: one scan
stage into the partial-dedup shuffle, one post-shuffle stage
carrying the single ArrowEvalPython node plus every native expr — vs
the reference's fully serial per-file loop (processor.py:415-417).

Deterministic document id (F14): reference uses uuid4
(processor.py:111) which breaks idempotent restart; we derive
sha2(url) so re-runs overwrite identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_service_spark.operators.dedup import dedup_latest
from ocr_service_spark.operators.extract import extract_documents
from ocr_service_spark.operators.quality import (
    needs_review_sql,
    overall_quality_sql,
    quality_stats,
    span_confidence_sql,
)
from ocr_service_spark.operators.validate import (
    FIELD_EXPRS,
    candidates_sql,
    critical_fields_sql,
    field_valid_sql,
    important_data_sql,
    valid_candidates_sql,
)

__all__ = ["extract_documents", "extract_records", "process_documents"]


def process_documents(docs: DataFrame) -> DataFrame:
    """Full result-record pipeline (P1 final projection): keep each
    url's latest crawl, then extract_records."""
    # Dedup FIRST, on the raw crawl rows: the expensive extraction UDF
    # never runs for rows that lose the keep-latest race, and extraction
    # executes pipelined in the post-shuffle stage. The html payload
    # crosses the wire once, in dedup_latest's single exchange; with an
    # Iceberg table bucketed by url-hash that exchange disappears too.
    # Only the columns read below ride through it: an input's plain
    # `text` would be scanned, shuffled and sorted, then dropped. Rows
    # equal on url, warc_ts, doc_id and html break the tie on lang.
    return extract_records(
        dedup_latest(docs.select("doc_id", "url", "warc_ts", "html", "lang"),
                     key="url", order_cols=("warc_ts", "doc_id")))


def extract_records(docs: DataFrame) -> DataFrame:
    """The result record of every already-deduplicated crawl row (url,
    warc_ts, html, lang): the stages after dedup, shared by
    process_documents and the streaming extraction."""
    names = list(FIELD_EXPRS)
    # Fused extraction + stage-5 autocorrect (processor.py:253) in ONE
    # Arrow round-trip: the unfused extract→correct pair would ship the
    # extracted text JVM→Python→JVM→Python; the fusion corrects while
    # the text is still a hot Python object. Validation then runs on the
    # CORRECTED text (processor.py:279-282 validates post-correction).
    ok = extract_documents(docs).filter("error IS NULL")

    # One projection per dependency level. Every field and surname
    # pattern scans the text once, and every validity filter runs once:
    # the later levels read the projected _cands and _valids columns,
    # which Catalyst keeps rather than inlines.
    level1 = ok.select(
        "*",
        F.expr("concat_ws('_', url, substring(sha2(url, 256), 1, 8)) AS document_id"),
        quality_stats("corrected_text").alias("quality_stats"),
        F.expr(span_confidence_sql("spans") + " AS extraction_confidence"),
        F.expr(candidates_sql("corrected_text") + " AS _cands"),
    )
    level2 = level1.selectExpr(
        "*",
        valid_candidates_sql("_cands", names) + " AS _valids",
        overall_quality_sql("quality_stats.alpha_ratio", "extraction_confidence",
                            "quality_stats.length_score") + " AS overall_quality",
    )
    # final projection — reference processor.py:346-376. Every row
    # passed the error filter, so needs_review carries no issues term.
    return level2.selectExpr(
        "document_id",
        "url",
        "warc_ts",
        "lang",
        "kind",
        "extracted_text",
        "corrected_text",
        "corrections_applied",
        "spans",
        "n_nodes",
        "n_content",
        "extraction_confidence",
        "quality_stats",
        "overall_quality",
        critical_fields_sql("_cands", "_valids", names) + " AS critical_fields",
        important_data_sql("_cands") + " AS important_data",
        needs_review_sql("overall_quality", [field_valid_sql("_valids", n) for n in names])
        + " AS needs_review",
    )
