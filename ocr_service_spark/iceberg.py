"""Iceberg integration layer (S9/S11 + north rule: "Iceberg table ...
bucket(url-hash) with warc_ts sort order", "writes extracted text +
span offsets back to Iceberg").

The sandbox ships NO Iceberg runtime jar (verified: no iceberg/delta
artifact under pyspark/jars, no network to fetch
`org.apache.iceberg:iceberg-spark-runtime-*` — see BENCH.md "Iceberg
jar gap"). Everything here is therefore built to flip on with CONFIG
ONLY once the jar is on the classpath:

- `iceberg_available(spark)` probes the classpath for
  org.apache.iceberg.spark.SparkCatalog;
- `catalog_conf(warehouse)` returns the exact session confs a cluster
  deployment adds to `build_session(extra_conf=...)`;
- the DDL/DML builders produce the real statements (CREATE TABLE with
  bucket partition transform + WRITE ORDERED BY, MERGE INTO for the
  corrections upsert and the applied-flag write-back) so the emulation
  call-sites (`lineage.run_with_lineage`,
  `streaming.feedback.run_feedback_loop`) have a 1:1 named replacement
  for each emulated step.

Reference analogs: corrections upsert = core/correctors.py:60-77
(dictionary learn/overwrite); applied-flag write-back =
services/feedback_collector.py:236-249; the output/lineage sink
replaces the JSON summary sink scripts/process_dataset_phase1.py:238-251.

Emulation ↔ real mapping (kept in sync by tests/test_iceberg_gate.py):

  parquet emulation                      | Iceberg path (jar present)
  ---------------------------------------+----------------------------------
  lineage.bucket_expr + partitionBy      | PARTITIONED BY (bucket(N, url))
  warc_ts implicit file order            | WRITE ORDERED BY warc_ts
  clean_uncommitted orphan-dir drop      | snapshot rollback (no orphan
                                         |   visible: commit is atomic)
  feedback batch_id partition overwrite  | MERGE INTO feedback (by id)
  corrections anti-join append           | MERGE INTO corrections
  applied-flag table rewrite             | MERGE INTO feedback SET applied
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ocr_service_spark.operators.validate import FIELD_EXPRS

__all__ = [
    "ICEBERG_RUNTIME_ARTIFACT",
    "iceberg_available",
    "catalog_conf",
    "create_extracted_table_ddl",
    "merge_corrections_sql",
    "mark_applied_sql",
    "upsert_feedback_sql",
]

# The one missing artifact. For pyspark 4.1.x / Scala 2.13:
ICEBERG_RUNTIME_ARTIFACT = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13"

_PROBE_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(_PROBE_CLASS)
        return True
    except Exception:
        return False


def catalog_conf(warehouse: str, catalog: str = "graft") -> dict[str, str]:
    """Session confs for a Hadoop-catalog Iceberg deployment; pass to
    build_session(extra_conf=...). (On a real cluster swap type=hadoop
    for the metastore/REST catalog of the environment.)"""
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def create_extracted_table_ddl(
    table: str = "graft.db.extracted", n_buckets: int = 1024
) -> list[str]:
    """North-rule output table: bucket(url) partitioning so restart
    pruning and the dedup shuffle co-locate, warc_ts write order for
    range-pruned incremental reads. Returned as executable statements.
    The columns are process_documents' output, in its order and with
    its types (tests/test_iceberg_gate.py compares them)."""
    field = "STRUCT<field_name: STRING, value: STRING, valid: BOOLEAN, confidence: DOUBLE>"
    critical = ", ".join(f"{name}: {field}" for name in FIELD_EXPRS)
    return [
        f"""
        CREATE TABLE IF NOT EXISTS {table} (
            document_id STRING,
            url STRING,
            warc_ts TIMESTAMP,
            lang STRING,
            kind STRING,
            extracted_text STRING,
            corrected_text STRING,
            corrections_applied ARRAY<STRUCT<original: STRING, corrected: STRING,
                                             confidence: DOUBLE, method: STRING>>,
            spans ARRAY<STRUCT<start: INT, end: INT, node_idx: INT,
                               confidence: DOUBLE>>,
            n_nodes INT,
            n_content INT,
            extraction_confidence DOUBLE,
            quality_stats STRUCT<alpha_ratio: DOUBLE, length_score: DOUBLE,
                                 n_chars: INT, n_tokens: INT>,
            overall_quality DOUBLE,
            critical_fields STRUCT<{critical}>,
            important_data STRUCT<inn: ARRAY<STRING>, snils: ARRAY<STRING>,
                                  surnames: ARRAY<STRING>>,
            needs_review BOOLEAN
        )
        USING iceberg
        PARTITIONED BY (bucket({n_buckets}, url))
        """,
        f"ALTER TABLE {table} WRITE ORDERED BY warc_ts",
    ]


def merge_corrections_sql(table: str = "graft.db.corrections",
                          source_view: str = "new_corrections") -> str:
    """S11 corrections upsert (reference core/correctors.py:60-77):
    newly mined pairs insert; a re-mined original updates its target +
    confidence instead of duplicating."""
    return f"""
    MERGE INTO {table} t
    USING {source_view} s
    ON t.original = s.original
    WHEN MATCHED THEN UPDATE SET
        t.corrected = s.corrected,
        t.method = s.method,
        t.confidence = s.confidence
    WHEN NOT MATCHED THEN INSERT *
    """


def mark_applied_sql(table: str = "graft.db.feedback",
                     source_view: str = "learned_pairs") -> str:
    """Applied-flag write-back (reference
    services/feedback_collector.py:236-249) as one atomic MERGE —
    replaces the whole-table parquet rewrite of the emulation."""
    return f"""
    MERGE INTO {table} t
    USING {source_view} s
    ON t.original = s.original AND t.corrected = s.corrected
    WHEN MATCHED AND NOT t.applied THEN UPDATE SET t.applied = true
    """


def upsert_feedback_sql(table: str = "graft.db.feedback",
                        source_view: str = "feedback_batch") -> str:
    """T1 ingest as an idempotent MERGE keyed on feedback id — replay
    of a micro-batch rewrites rather than duplicates (the Iceberg twin
    of the emulation's per-batch_id partition overwrite)."""
    return f"""
    MERGE INTO {table} t
    USING {source_view} s
    ON t.id = s.id
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *
    """
