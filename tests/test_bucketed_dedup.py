"""Proof of the BENCH.md scale claim: with the input table bucketed by
the dedup key, the dedup aggregation's shuffle Exchange DISAPPEARS —
the plan reads bucket-local partitions and aggregates in place. On the
100 TB Iceberg table this is the `bucket(N, url_hash)` layout; here the
same property is demonstrated with Spark's native bucketBy metastore
tables (identical physical mechanism: scan output partitioning
satisfies the aggregation's distribution requirement)."""

import pyspark.sql.functions as F

from ocr_service_spark.operators.dedup import dedup_latest


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_scan_eliminates_dedup_exchange(spark, tmp_path):
    docs = spark.range(2000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 97).cast("string"),
                 F.lit("/p"), F.col("id").cast("string")).alias("url"),
        (F.col("id") * 37 % 10_000).alias("warc_ts"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )

    spark.sql("DROP TABLE IF EXISTS bucketed_docs")
    (docs.write.mode("overwrite").bucketBy(8, "url").sortBy("url")
     .option("path", str(tmp_path / "bucketed_docs"))
     .saveAsTable("bucketed_docs"))

    flat = dedup_latest(docs, order_cols=("warc_ts",))
    bucketed = dedup_latest(spark.table("bucketed_docs"), order_cols=("warc_ts",))

    flat_plan, bucketed_plan = _plan(flat), _plan(bucketed)
    assert "Exchange" in flat_plan, "unbucketed dedup must shuffle"
    assert "Exchange" not in bucketed_plan, \
        "bucketed-by-url scan must satisfy the dedup distribution " \
        "(this is the Iceberg bucket(N, url) claim in BENCH.md)"

    # same answer either way
    a = sorted(map(tuple, flat.collect()))
    b = sorted(map(tuple, bucketed.collect()))
    assert a == b and len(a) == 2000

    spark.sql("DROP TABLE IF EXISTS bucketed_docs")
