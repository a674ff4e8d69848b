"""Autocorrection stage (reference lifecycle stage 5,
core/processor.py:253 → correctors.py:201-293).

One iterator Arrow UDF (pyarrow arrays in and out) applies, per document:
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

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ocr_service_spark.kernel.correct import correct_document

__all__ = ["DEFAULT_CORRECTIONS", "CORRECT_RESULT_TYPE", "with_corrections"]

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
_CORRECT_ARROW_TYPE = to_arrow_type(CORRECT_RESULT_TYPE)


def struct_list_array(list_type: pa.ListType, offsets: list[int],
                      rows: list[tuple]) -> pa.ListArray:
    """A list<struct> array of `list_type`: `rows` are every list's
    struct values back to back (tuples in field order), and list i
    holds rows[offsets[i]:offsets[i + 1]]."""
    item = list_type.value_type
    columns = list(zip(*rows)) or [()] * item.num_fields
    values = pa.StructArray.from_arrays(
        [pa.array(c, f.type) for c, f in zip(columns, item)], fields=list(item))
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values,
                                    type=list_type)


def correction_arrays(texts: list[str | None],
                      cmap: dict[str, str]) -> list[pa.Array]:
    """[corrected_text, corrections] arrays (CORRECT_RESULT_TYPE) for a
    batch of texts. A null text passes through as null with an empty
    corrections list."""
    fixed, offsets, records = [], [0], []
    for t in texts:
        if t is not None:
            t, cs = correct_document(t, cmap)
            records += [(c["original"], c["corrected"], c["confidence"],
                         c["method"]) for c in cs]
        fixed.append(t)
        offsets.append(len(records))
    return [pa.array(fixed, pa.string()),
            struct_list_array(_CORRECT_ARROW_TYPE.field("corrections").type,
                              offsets, records)]


def with_corrections(
    df: DataFrame,
    text_col: str = "extracted_text",
    out_col: str = "correction",
    corrections: dict[str, str] | None = None,
) -> DataFrame:
    """df + struct(corrected_text, corrections). Null text passes
    through as null with an empty corrections array."""
    cmap = dict(DEFAULT_CORRECTIONS if corrections is None else corrections)

    @F.arrow_udf(CORRECT_RESULT_TYPE)
    def correct(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for texts in batches:
            yield pa.StructArray.from_arrays(
                correction_arrays(texts.to_pylist(), cmap),
                fields=list(_CORRECT_ARROW_TYPE))

    # same double-evaluation hazard as the extraction UDF: pin one eval
    return df.withColumn(out_col, correct.asNondeterministic()(F.col(text_col)))
