"""Autocorrection (reference lifecycle stage 5,
core/processor.py:253 → correctors.py:201-293): the seeded dictionary,
the result types and the per-text row that the fused extraction UDF
(operators/extract.make_extract_correct_udf) appends to each
extraction. Per document:
  1. contextual digit→letter fix (0→о/О, 8→в/В inside mixed
     Cyrillic/digit tokens, kernel/correct.contextual_digit_fix —
     reference core/correctors.py:201-267);
  2. exact dictionary corrections as a single-pass token map
     (kernel/correct.apply_corrections_map — replaces the reference's
     per-correction whole-string rescan, correctors.py:270-291).

The corrections array is the T3 auto-feedback stream
(core/processor.py:379-392): explode it and append to the feedback
table; no callback plumbing needed.

The seeded dictionary is the reference's own (correctors.py:42-49),
the Spark analog of its in-memory corrections_db (correctors.py:30-58),
shipped in the UDF closure. For big dictionaries use the
broadcast-join path instead (queries.correction_join, J1/J2).
"""

from __future__ import annotations

from pyspark.sql import types as T

from ocr_service_spark.kernel.correct import correct_document

__all__ = ["DEFAULT_CORRECTIONS", "CORRECT_RESULT_TYPE", "correct_row"]

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

