"""Iceberg gate tests: the sandbox has no iceberg-spark-runtime jar, so
the integration layer must (a) detect that honestly, (b) keep every
statement builder ready to run unchanged once the jar ships, and
(c) never be silently depended on by the emulation paths."""

import re

from pyspark.sql import types as T

from ocr_service_spark.corpus import corpus_df
from ocr_service_spark.iceberg import (
    ICEBERG_RUNTIME_ARTIFACT,
    catalog_conf,
    create_extracted_table_ddl,
    iceberg_available,
    mark_applied_sql,
    merge_corrections_sql,
    upsert_feedback_sql,
)
from ocr_service_spark.pipeline import process_documents


def test_probe_reports_absent_in_sandbox(spark):
    # If this ever flips to True the emulation call-sites should be
    # switched to the MERGE/DDL builders below (see module docstring
    # mapping table).
    assert iceberg_available(spark) is False
    assert "iceberg-spark-runtime" in ICEBERG_RUNTIME_ARTIFACT


def test_catalog_conf_shape():
    conf = catalog_conf("/warehouse", catalog="c")
    assert conf["spark.sql.catalog.c"] == "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.c.warehouse"] == "/warehouse"
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]


def test_ddl_has_bucket_partition_and_sort_order():
    stmts = create_extracted_table_ddl("t.db.x", n_buckets=512)
    assert re.search(r"PARTITIONED BY \(bucket\(512, url\)\)", stmts[0])
    assert "WRITE ORDERED BY warc_ts" in stmts[1]
    assert "USING iceberg" in stmts[0]


def test_ddl_columns_hold_the_pipeline_output(spark):
    # the flip-on table must take process_documents' rows as they are:
    # every output column, in order, with its type (nullability is
    # Spark's inference, not part of the table contract)
    cols = re.search(r"CREATE TABLE IF NOT EXISTS \S+ \((.*)\)\s*USING iceberg",
                     create_extracted_table_ddl()[0], re.S).group(1)
    declared = T.StructType.fromDDL(" ".join(cols.split()))
    out = process_documents(corpus_df(spark, 20)).schema
    assert declared.simpleString() == out.simpleString()


def test_merge_statements_cover_emulated_steps():
    up = merge_corrections_sql()
    assert "WHEN MATCHED THEN UPDATE" in up and "WHEN NOT MATCHED THEN INSERT" in up
    assert "t.original = s.original" in up

    flag = mark_applied_sql()
    assert "t.applied = true" in flag
    assert "t.corrected = s.corrected" in flag  # pair-keyed, not original-keyed

    ingest = upsert_feedback_sql()
    assert "t.id = s.id" in ingest  # replay-idempotent key
