"""Targeted re-extraction of selected regions (SURVEY.md M2).

Reference: selected-areas flow re-rasters the page at DPI 900, crops
each user-selected bbox, OCRs it, and splices the labeled area texts
ahead of the main text ("[Область i]: ...", core/processor.py:117-200,
249-250; high-DPI crop OCR core/ocr_engine.py:327-403).

Graft: a "selected area" is a DOM node index into the flat node array
(the span column already carries node_idx per span, so callers can
target e.g. every `<table>`/`<pre>` node). The UDF re-parses the
payload and returns the selected nodes' texts verbatim — the
higher-fidelity pass — and the splice is plain column concat (F11),
exactly the reference's ordering: labeled areas first, then main text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ocr_service_spark.operators.pystage import batch_map

__all__ = ["extract_area_texts", "with_area_extraction", "spliced_text"]


def extract_area_texts(raw: bytes, node_indices: list[int]) -> list[str | None]:
    """Kernel: re-parse and return the text of each requested node
    (None for out-of-range indices) — the pytest oracle and UDF body."""
    from ocr_service_spark.kernel.extract_html import parse_nodes

    nodes, _ = parse_nodes(raw)
    out: list[str | None] = []
    for i in node_indices:
        out.append(nodes[i].text if 0 <= i < len(nodes) else None)
    return out


def with_area_extraction(
    df: DataFrame,
    html_col: str = "html",
    areas_col: str = "selected_nodes",
    out_col: str = "area_texts",
) -> DataFrame:
    """df + array<string> of the selected nodes' re-extracted texts."""

    def areas(rows: list[dict]) -> list[list[str | None]]:
        return [extract_area_texts(r[html_col], r[areas_col])
                if r[html_col] is not None and r[areas_col] else [] for r in rows]

    udf = batch_map(lambda: areas, T.ArrayType(T.StringType()))
    return df.withColumn(out_col, udf(F.struct(html_col, areas_col)))


def spliced_text(area_texts, main_text):
    """'[Область i]: …' blocks ahead of the main text, '\\n\\n'-joined
    (reference core/processor.py:197,249-250)."""
    labeled = F.zip_with(
        area_texts,
        F.sequence(F.lit(1), F.greatest(F.size(area_texts), F.lit(1))),
        lambda t, i: F.concat(F.lit("[Область "), i.cast("string"), F.lit("]: "), t),
    )
    return F.when(
        F.size(area_texts) > 0,
        F.concat(F.array_join(labeled, "\n\n"), F.lit("\n\n"), main_text),
    ).otherwise(main_text)
