"""Extraction UDF stage — the M1 centerpiece (SURVEY.md §2.9).

The package's one Python stage that extracts or corrects text: an
iterator Arrow UDF (operators/pystage.batch_map; plan shows
ArrowEvalPython) that wraps the pure kernel `extract_document` and runs
`correct_document` under the seeded dictionary on each extracted text
in the same batch. Per-batch setup (regex compile, imports) happens
once per partition, like the reference's compile-once validators
(core/validators.py:78-83).

The UDF replaces the reference's whole OCR stack, image preprocess
(core/ocr_engine.py:51-82) → Vision OCR (178-293) → per-page loop
(137-176) → temp-file round-trips (312-325), plus its autocorrection
(core/processor.py:253). Bytes stay in Arrow buffers end-to-end; each
batch's result is one pyarrow StructArray built straight from the
kernels' Python values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ocr_service_spark.operators.correct import (
    CORRECT_RESULT_TYPE,
    DEFAULT_CORRECTIONS,
    correct_row,
)
from ocr_service_spark.operators.pystage import batch_map

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("node_idx", T.IntegerType()),
            T.StructField("confidence", T.DoubleType()),
        ]
    )
)

# one extraction (text … error) followed by its autocorrection
EXTRACT_RESULT_TYPE = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("kind", T.StringType()),
        T.StructField("n_nodes", T.IntegerType()),
        T.StructField("n_content", T.IntegerType()),
        T.StructField("charset", T.StringType()),
        T.StructField("error", T.StringType()),
        *CORRECT_RESULT_TYPE.fields,
    ]
)

# result struct field → flat column name, where they differ
_FLAT_NAMES = {"text": "extracted_text", "corrections": "corrections_applied"}


def make_extract_correct_udf():
    """The package's one extraction stage: each payload's extraction
    plus its autocorrection under DEFAULT_CORRECTIONS, one
    EXTRACT_RESULT_TYPE row, in one Arrow round-trip.

    Correcting each batch's texts while they are still Python objects
    saves the JVM round-trip a separate correction UDF would cost, so
    the plan carries exactly ONE ArrowEvalPython node. Error rows pass
    through with corrected_text=None."""
    def factory():
        # import inside the UDF: runs on executors after --py-files ship
        from ocr_service_spark.kernel.dispatch import extract_document

        def run(payloads: list) -> list[tuple]:
            rows = []
            for raw in payloads:
                r = extract_document(raw)
                rows.append((r.text, r.spans, r.kind, r.n_nodes, r.n_content, r.charset,
                             r.error) + correct_row(r.text, DEFAULT_CORRECTIONS))
            return rows

        return run

    return batch_map(factory, EXTRACT_RESULT_TYPE)


def extract_documents(docs: DataFrame) -> DataFrame:
    """Scan → the extraction stage → the document key columns plus every
    result field as its own column (text → extracted_text, corrections
    → corrections_applied). Keeps error rows (error != null) so callers
    can union/report them — the analog of the reference's error result
    rows (processor.py:431-438)."""
    x = docs.select("*", make_extract_correct_udf()(F.col("html")).alias("x"))
    return x.selectExpr(
        "doc_id", "url", "warc_ts", "lang",
        *(f"x.{f} AS {_FLAT_NAMES.get(f, f)}" for f in EXTRACT_RESULT_TYPE.names),
    )
