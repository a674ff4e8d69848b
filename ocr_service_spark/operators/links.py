"""Link-extraction operator: one operators/pystage.batch_map pass over
payload bytes producing the edge-list feedstock of link-graph queries."""

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


def with_link_extraction(df):
    """df + `links`, the array<struct<href,text>> of each `html`
    payload; single projection so the whole pass stays scan ->
    ArrowEvalPython -> project."""
    def factory():
        # import inside the UDF: runs on executors after --py-files ship
        from ocr_service_spark.kernel.links import extract_links

        return lambda payloads: [extract_links(raw) for raw in payloads]

    return df.withColumn("links", batch_map(factory, LINKS_TYPE)(F.col("html")))
