"""Semantic pins for the skew-observability + search tier queries
(host_stats / tfidf_keywords) — properties the DuckDB value-hash
gate can't express: flag exactness at the threshold, rank bounds."""

import pyspark.sql.functions as F

from ocr_service_spark.queries import host_stats, tfidf_keywords

SF = "/root/testdata/sf0.001"


def test_host_stats_detects_planted_skew(spark):
    rows = host_stats(spark, SF).collect()
    heavy = {r.host for r in rows if r.heavy}
    assert heavy == {"mega.example", "mid.example"}, heavy
    # shares partition the corpus exactly
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-2
    total = sum(r.n_docs for r in rows)
    for r in rows:
        # integer-exact threshold: heavy <=> n*20 >= total (share >= 5%)
        assert r.heavy == (r.n_docs * 20 >= total)


def test_tfidf_top3_ranked_and_bounded(spark):
    rows = tfidf_keywords(spark, SF).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_rows in by_doc.values():
        assert 1 <= len(doc_rows) <= 3
        doc_rows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in doc_rows] == list(range(1, len(doc_rows) + 1))
        # ordering is integer-exact: tf desc, then df asc, then term asc
        keys = [(-r.tf, r.df, r.term) for r in doc_rows]
        assert keys == sorted(keys)
        for r in doc_rows:
            assert r.tfidf > 0


def test_boilerplate_strip_keep_first_and_reconstruction(spark):
    from ocr_service_spark.functions.textstats import norm_ws
    from ocr_service_spark.queries import boilerplate_strip

    rows = boilerplate_strip(spark, SF).collect()
    by_id = {r.doc_id: r for r in rows}
    docs = {
        r.doc_id: r.norm
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", norm_ws(F.col("text")).alias("norm"))
        .collect()
    }
    assert set(by_id) == {d for d, t in docs.items() if t}
    for r in rows:
        if r.n_dropped == 0:
            # untouched docs reconstruct their normalized text exactly
            assert r.clean_text == docs[r.doc_id]
        if r.n_kept == 0:
            assert r.clean_text == ""
    # keep-first identity: exactly one survivor per distinct chunk
    from ocr_service_spark.functions.textstats import tokens
    from ocr_service_spark.queries import _t

    d = _t(spark, SF, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")).filter(F.size("toks") > 0)
    nb = F.ceil(F.size("toks") / F.lit(16.0)).cast("int")
    ch = d.select(F.explode(F.transform(
        F.sequence(F.lit(0), nb - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i * 16 + 1, 16)),
    )).alias("chunk"))
    n_occ, n_distinct = ch.count(), ch.distinct().count()
    assert sum(r.n_kept for r in rows) == n_distinct
    assert sum(r.n_dropped for r in rows) == n_occ - n_distinct


def test_unigram_logprob_bounds_and_token_counts(spark):
    import math

    from ocr_service_spark.functions.textstats import tokens
    from ocr_service_spark.queries import unigram_logprob

    rows = unigram_logprob(spark, SF).collect()
    n_by_doc = {
        r.doc_id: r.n
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n"))
        .collect()
    }
    total = sum(n for n in n_by_doc.values() if n > 0)
    lo = math.log(1.0 / total)
    for r in rows:
        assert r.n_tokens == n_by_doc[r.doc_id]
        assert lo - 1e-6 <= r.avg_logprob < 0
