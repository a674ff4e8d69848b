"""Streaming extraction: drop-dir → watermarked url dedup → the batch
pipeline's record stages → parquet sink, incremental across drains,
byte-identical to the batch kernel oracle."""

import pyspark.sql.functions as F

from ocr_service_spark.corpus import corpus_df, gen_docs
from ocr_service_spark.kernel.correct import correct_document
from ocr_service_spark.operators.correct import DEFAULT_CORRECTIONS
from ocr_service_spark.pipeline import process_documents
from ocr_service_spark.streaming.extract_stream import run_to_parquet, streaming_extract


def _key(url, warc_ts):
    return url, int(warc_ts.timestamp())


def test_streaming_extract_plans_one_fused_arrow_node(spark):
    plan = streaming_extract(corpus_df(spark, 20, partitions=2)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_stream_emits_the_batch_record(spark):
    docs = corpus_df(spark, 20, partitions=2)
    assert streaming_extract(docs).schema == process_documents(docs).schema


def test_streaming_extract_matches_kernel(spark, tmp_path):
    in_dir = str(tmp_path / "drop")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    corpus_df(spark, 60, partitions=2).write.mode("append").parquet(in_dir)
    run_to_parquet(spark, in_dir, out_dir, ck)
    out = spark.read.parquet(out_dir)
    n1 = out.count()
    assert n1 > 0

    # doc_id stays behind with the input: a crawl is (url, warc_ts)
    got = {_key(r.url, r.warc_ts): r for r in out.collect()}
    expected = {_key(d.url, d.warc_ts): d.expected_text for d in gen_docs(60)
                if d.expected_text is not None}
    # per-url dedup keeps ONE crawl per url; every surviving row with a
    # golden expectation must be byte-identical, and so must its
    # correction (truncated-html docs extract best-effort and carry no
    # golden)
    checked = 0
    for key, r in got.items():
        if key in expected:
            assert r.extracted_text == expected[key]
            fixed, cs = correct_document(expected[key], DEFAULT_CORRECTIONS)
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
    delta = {_key(d.url, d.warc_ts) for d in gen_docs(90)[60:]}
    assert any(_key(r.url, r.warc_ts) in delta for r in out2.collect())
