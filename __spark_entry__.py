"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``ocr_service_spark/``; this module is a
thin adapter. `tools/check_correctness.py` replays the same comparison
locally.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: htmlify the documents
    table into full boilerplated pages, run the vectorized extraction
    UDF + dedup + validation + quality pipeline (the reference's
    POST /process lifecycle, SURVEY.md §3.1), return the result records.
    """
    from ocr_service_spark.entry_pipeline import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ocr_service_spark.queries import QUERIES

    return QUERIES


def oracle_sql() -> dict[str, str]:
    from ocr_service_spark.queries import ORACLE_SQL, QUERIES

    return {k: v for k, v in ORACLE_SQL.items() if k in QUERIES}
