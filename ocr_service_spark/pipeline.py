"""The flagship end-to-end extraction pipeline.

Spark restatement of the reference's `POST /api/v1/process` lifecycle
(reference core/processor.py:97-398; SURVEY.md §3.1): one lazy
DataFrame chain —

  scan(documents)
    → dedup-and-validate shuffle (salted, keep latest warc_ts crawl)
    → FUSED extraction + correction UDF (one Arrow batch round-trip;
      HTML density classify / PDF block merge + contextual digit fix +
      dictionary token map — replaces stages 2-5 of the reference
      lifecycle)
    → field validation structs (native exprs — stage 7)
    → quality + needs_review (stages 8, P2/P3)
    → final projection (stage 11, processor.py:346-376)

Catalyst plans this as: one scan stage into the salted partial-dedup
shuffle, one post-shuffle stage carrying the single ArrowEvalPython
node plus every native expr — vs the reference's fully serial per-file
loop (processor.py:415-417).

Deterministic document id (F14): reference uses uuid4
(processor.py:111) which breaks idempotent restart; we derive
sha2(url) so re-runs overwrite identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_service_spark.operators.dedup import dedup_latest
from ocr_service_spark.operators.extract import (
    flatten_extraction,
    make_extract_correct_udf,
    with_extraction,
)
from ocr_service_spark.operators.quality import (
    needs_review,
    overall_quality,
    text_quality,
)
from ocr_service_spark.operators.validate import (
    FIELD_EXPRS,
    field_candidates,
    important_data,
    valid_candidates,
    validated_fields,
)

__all__ = ["extract_documents", "process_documents"]


def extract_documents(docs: DataFrame, separator: str = "\n\n") -> DataFrame:
    """Scan → extraction UDF → flat result columns. Keeps error rows
    (error != null) so callers can union/report them — the analog of
    the reference's error result rows (processor.py:431-438)."""
    return flatten_extraction(with_extraction(docs, "html", "x", separator=separator))


def process_documents(
    docs: DataFrame,
    field_names: list[str] | None = None,
    n_salts: int = 16,
    dedup: bool = True,
) -> DataFrame:
    """Full result-record pipeline (P1 final projection)."""
    names = field_names or list(FIELD_EXPRS)
    # Dedup FIRST, on the raw crawl rows: the expensive extraction UDF
    # never runs for rows that lose the keep-latest race, and extraction
    # executes pipelined in the post-shuffle stage. The html payload
    # crosses the wire twice, not once: the salted two-phase
    # max-of-struct has two full-payload exchanges, on (url, _salt) and
    # then on url (see dedup_latest). With an Iceberg table bucketed by
    # url-hash the exchanges disappear entirely.
    if dedup:
        docs = dedup_latest(docs, key="url", order_cols=("warc_ts", "doc_id"),
                            n_salts=n_salts)
    # Fused extraction + stage-5 autocorrect (processor.py:253) in ONE
    # Arrow round-trip: the unfused extract→correct pair would ship the
    # extracted text JVM→Python→JVM→Python; the fusion corrects while
    # the text is still a hot Python object. Validation then runs on the
    # CORRECTED text (processor.py:279-282 validates post-correction).
    x = docs.withColumn("x", make_extract_correct_udf()(F.col("html")))
    ok = flatten_extraction(x.filter(F.col("x.error").isNull()))

    txt = F.col("corrected_text")
    span_conf = F.coalesce(
        F.round(
            F.aggregate(
                F.col("spans"),
                F.lit(0.0),
                lambda acc, s: acc + s["confidence"],
            )
            / F.greatest(F.size("spans"), F.lit(1)),
            4,
        ),
        F.lit(0.0),
    )

    q = text_quality(txt)
    enriched = (
        ok.withColumn("document_id",
                      F.concat_ws("_", F.col("url"),
                                  F.substring(F.sha2(F.col("url"), 256), 1, 8)))
        .withColumn("quality_stats", q)
        .withColumn("extraction_confidence", span_conf)
        .withColumn(
            "overall_quality",
            overall_quality(
                F.col("quality_stats.alpha_ratio"),
                F.col("extraction_confidence"),
                F.col("quality_stats.length_score"),
            ),
        )
        # every field and surname pattern scans the text once, and every
        # validity filter runs once: the structs below read these
        # projected columns, which Catalyst keeps rather than inlines
        .withColumn("_cands", field_candidates(txt))
        .withColumn("_valids", valid_candidates(F.col("_cands"), names))
        .withColumn("critical_fields",
                    validated_fields(txt, names, cands=F.col("_cands"),
                                     valids=F.col("_valids")))
        .withColumn("important_data", important_data(txt, cands=F.col("_cands")))
        .withColumn(
            "needs_review",
            needs_review(
                F.col("overall_quality"),
                F.when(F.col("error").isNotNull(), 1).otherwise(0),
                F.col("critical_fields"),
                names,
            ),
        )
    )
    # final projection — reference processor.py:346-376
    return enriched.select(
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
        "critical_fields",
        "important_data",
        "needs_review",
    )
