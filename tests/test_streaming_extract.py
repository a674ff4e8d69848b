"""Streaming extraction: drop-dir → watermarked url dedup → fused Arrow
extraction + correction → parquet sink, incremental across drains,
byte-identical to the batch kernel oracle."""

import pyspark.sql.functions as F

from ocr_service_spark.corpus import corpus_df, gen_docs
from ocr_service_spark.kernel.correct import correct_document
from ocr_service_spark.operators.correct import DEFAULT_CORRECTIONS
from ocr_service_spark.streaming.extract_stream import run_to_parquet, streaming_extract


def test_streaming_extract_plans_one_fused_arrow_node(spark):
    plan = streaming_extract(corpus_df(spark, 20, partitions=2)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_streaming_extract_matches_kernel(spark, tmp_path):
    in_dir = str(tmp_path / "drop")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    corpus_df(spark, 60, partitions=2).write.mode("append").parquet(in_dir)
    run_to_parquet(spark, in_dir, out_dir, ck)
    out = spark.read.parquet(out_dir)
    n1 = out.count()
    assert n1 > 0

    got = {r.doc_id: r for r in out.collect()}
    expected = {d.doc_id: d.expected_text for d in gen_docs(60)
                if d.expected_text is not None}
    # per-url dedup keeps ONE crawl per url; every surviving row with a
    # golden expectation must be byte-identical, and so must its
    # correction (truncated-html docs extract best-effort and carry no
    # golden)
    checked = 0
    for doc_id, r in got.items():
        if doc_id in expected:
            assert r.extracted_text == expected[doc_id]
            fixed, cs = correct_document(expected[doc_id], DEFAULT_CORRECTIONS)
            assert r.corrected_text == fixed
            assert [c.asDict() for c in r.corrections_applied] == [
                {k: c[k] for k in ("original", "corrected", "confidence", "method")}
                for c in cs]
            checked += 1
    assert checked >= 40

    urls = out.select("url").collect()
    assert len({r.url for r in urls}) == len(urls), "stream dedup per url"

    # second drain with new files only processes the delta
    spark.range(0).collect()
    corpus_more = corpus_df(spark, 90, partitions=2).filter(F.col("doc_id") >= 60)
    corpus_more.write.mode("append").parquet(in_dir)
    run_to_parquet(spark, in_dir, out_dir, ck)
    out2 = spark.read.parquet(out_dir)
    assert out2.count() > n1
    assert out2.filter(F.col("doc_id") >= 60).count() > 0
