"""Extraction UDF stage — the M1 centerpiece (SURVEY.md §2.9).

A single iterator-style Arrow UDF (operators/pystage.batch_map; plan
shows ArrowEvalPython, never BatchEvalPython) wraps the pure kernel
`extract_document` and, given a correction map, runs `correct_document`
on each extracted text in the same batch. Iterator form so per-batch
setup (regex compile, imports) happens once per partition, mirroring
the reference's compile-once validators (core/validators.py:78-83).

The UDF replaces the reference's whole OCR stack: image preprocess
(core/ocr_engine.py:51-82) → Vision OCR (178-293) → per-page loop
(137-176) → temp-file round-trips (312-325). Bytes stay in Arrow
buffers end-to-end; each batch's result is one pyarrow StructArray
built straight from the kernel's Python values, and per-page
results stay inside the row's array until the caller explodes them.
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

EXTRACT_RESULT_TYPE = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("kind", T.StringType()),
        T.StructField("n_nodes", T.IntegerType()),
        T.StructField("n_content", T.IntegerType()),
        T.StructField("charset", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

# result struct field → flat column name, where they differ
_FLAT_NAMES = {"text": "extracted_text", "corrections": "corrections_applied"}


def make_extract_udf(separator: str = "\n\n",
                     corrections: dict[str, str] | None = None):
    """Build the extraction UDF.

    separator='\\n\\n' is the production default; the round-trip
    correctness query uses ' ' so a plain-SQL oracle can reproduce the
    expected output (see __spark_entry__.py).

    With a `corrections` map the result also carries `corrected_text`
    and `corrections` (CORRECT_RESULT_TYPE): the fused extraction +
    autocorrection kernel, one Arrow round-trip for the whole Python
    hot path. The unfused pair (extract UDF → filter → correct UDF)
    ships the extracted text back to the JVM only to ship it straight
    into the next Python worker; the fusion corrects each batch's texts
    while they are still Python objects (error rows pass through with
    corrected_text=None), so the plan carries exactly ONE
    ArrowEvalPython node.
    """
    fields = EXTRACT_RESULT_TYPE.fields
    if corrections is not None:
        fields = fields + CORRECT_RESULT_TYPE.fields
        corrections = dict(corrections)

    def factory():
        # import inside the UDF: runs on executors after --py-files ship
        from ocr_service_spark.kernel.dispatch import extract_document

        def run(payloads: list) -> list[tuple]:
            rows = []
            for raw in payloads:
                r = extract_document(raw, separator=separator)
                row = (r.text, r.spans, r.kind, r.n_nodes, r.n_content, r.charset, r.error)
                rows.append(row if corrections is None
                            else row + correct_row(r.text, corrections))
            return rows

        return run

    return batch_map(factory, T.StructType(fields))


def make_extract_correct_udf():
    """The fused extraction + default-corrections UDF."""
    return make_extract_udf(corrections=DEFAULT_CORRECTIONS)


def with_extraction(df, html_col: str = "html", out_col: str = "extraction",
                    separator: str = "\n\n"):
    """df + one struct column with the extraction result. Single
    projection — Catalyst keeps it in the same stage as the scan, so
    the whole extract path is scan→ArrowEvalPython→project with no
    shuffle."""
    udf = make_extract_udf(separator=separator)
    return df.withColumn(out_col, udf(F.col(html_col)))


def flatten_extraction(df: DataFrame, col: str = "x") -> DataFrame:
    """The document key columns plus every field of the extraction
    struct `col` as its own column (text → extracted_text,
    corrections → corrections_applied)."""
    return df.selectExpr(
        "doc_id", "url", "warc_ts", "lang",
        *(f"{col}.{f} AS {_FLAT_NAMES.get(f, f)}" for f in df.schema[col].dataType.names),
    )
