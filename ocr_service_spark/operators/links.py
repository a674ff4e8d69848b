"""Link-extraction operator: one Arrow-batched pass over payload
bytes producing an array<struct<href,text>> column (the edge-list
feedstock for link-graph queries). Same plumbing as
operators/extract.py: one operators/pystage.batch_map stage."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from ocr_service_spark.operators.pystage import batch_map

LINKS_TYPE = ArrayType(
    StructType(
        [
            StructField("href", StringType()),
            StructField("text", StringType()),
        ]
    )
)


def make_links_udf():
    def factory():
        # import inside the UDF: runs on executors after --py-files ship
        from ocr_service_spark.kernel.links import extract_links

        return lambda payloads: [extract_links(raw) for raw in payloads]

    return batch_map(factory, LINKS_TYPE)


def with_link_extraction(df, html_col: str = "html",
                         out_col: str = "links"):
    """df + one array<struct<href,text>> column; single projection so
    the whole pass stays scan -> ArrowEvalPython -> project."""
    return df.withColumn(out_col, make_links_udf()(F.col(html_col)))
