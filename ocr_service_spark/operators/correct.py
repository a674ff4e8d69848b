"""Autocorrection stage (reference lifecycle stage 5,
core/processor.py:253 → correctors.py:201-293).

One iterator Arrow UDF (operators/pystage.batch_map) applies, per document:
  1. contextual digit→letter fix (0→о/О, 8→в/В inside mixed
     Cyrillic/digit tokens, kernel/correct.contextual_digit_fix —
     reference core/correctors.py:201-267);
  2. exact dictionary corrections as a single-pass token map
     (kernel/correct.apply_corrections_map — replaces the reference's
     per-correction whole-string rescan, correctors.py:270-291).

and emits (corrected_text, corrections array) — the corrections array
is the T3 auto-feedback stream (core/processor.py:379-392): explode it
and append to the feedback table; no callback plumbing needed.

The corrections dictionary is a driver-side dict broadcast into the
UDF closure — the Spark analog of the reference's in-memory
corrections_db (correctors.py:30-58). The seeded defaults below are
the reference's own (correctors.py:42-49). For big dictionaries use
the broadcast-join path instead (queries.correction_join, J1/J2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ocr_service_spark.kernel.correct import correct_document
from ocr_service_spark.operators.pystage import batch_map

__all__ = ["DEFAULT_CORRECTIONS", "CORRECT_RESULT_TYPE", "correct_row", "with_corrections"]

# reference core/correctors.py:42-49 seeded defaults
DEFAULT_CORRECTIONS = {
    "Маркуталь": "Мариуполь",
    "О": "0",
    "I": "1",
    "З": "3",
    "Б": "6",
    "В": "8",
}

CORRECTION_TYPE = T.StructType(
    [
        T.StructField("original", T.StringType()),
        T.StructField("corrected", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("method", T.StringType()),
    ]
)

CORRECT_RESULT_TYPE = T.StructType(
    [
        T.StructField("corrected_text", T.StringType()),
        T.StructField("corrections", T.ArrayType(CORRECTION_TYPE)),
    ]
)


def correct_row(text: str | None, cmap: dict[str, str]) -> tuple[str | None, list[dict]]:
    """(corrected_text, corrections) of one text, a CORRECT_RESULT_TYPE
    row. A null text passes through as null with an empty corrections
    list."""
    return (None, []) if text is None else correct_document(text, cmap)


def with_corrections(
    df: DataFrame,
    text_col: str = "extracted_text",
    out_col: str = "correction",
    corrections: dict[str, str] | None = None,
) -> DataFrame:
    """df + struct(corrected_text, corrections). Null text passes
    through as null with an empty corrections array."""
    cmap = dict(DEFAULT_CORRECTIONS if corrections is None else corrections)
    udf = batch_map(lambda: lambda texts: [correct_row(t, cmap) for t in texts],
                    CORRECT_RESULT_TYPE)
    return df.withColumn(out_col, udf(F.col(text_col)))
