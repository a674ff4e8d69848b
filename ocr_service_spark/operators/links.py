"""Link-extraction operator: one Arrow-batched pass over payload
bytes producing an array<struct<href,text>> column (the edge-list
feedstock for link-graph queries). Same plumbing as
operators/extract.py, with an iterator pandas UDF where extraction
builds pyarrow arrays: asNondeterministic pin so Catalyst never
duplicates the Python stage."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

LINKS_TYPE = ArrayType(
    StructType(
        [
            StructField("href", StringType()),
            StructField("text", StringType()),
        ]
    )
)


def make_links_udf():
    @F.pandas_udf(LINKS_TYPE)
    def links(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # import inside the UDF: runs on executors after --py-files ship
        from ocr_service_spark.kernel.links import extract_links

        for payloads in batches:
            yield pd.Series(
                [
                    [
                        {"href": h, "text": t}
                        for h, t in extract_links(
                            bytes(raw) if raw is not None else None)
                    ]
                    for raw in payloads
                ]
            )

    # same rationale as the pin in operators/extract.make_extract_udf:
    # deterministic kernels get duplicated by Catalyst when a downstream
    # filter references the UDF column; pin exactly one evaluation per row
    return links.asNondeterministic()


def with_link_extraction(df, html_col: str = "html",
                         out_col: str = "links"):
    """df + one array<struct<href,text>> column; single projection so
    the whole pass stays scan -> ArrowEvalPython -> project."""
    return df.withColumn(out_col, make_links_udf()(F.col(html_col)))
