"""Native field validation (operators/validate.py) against the pure-Python
kernel oracle (kernel/fields.py), row for row, on the pipeline's own
output: critical_fields and important_data of every process_documents
row must equal validate_fields / extract_important_data of its
corrected_text."""

import pytest
from pyspark.sql import functions as F

from ocr_service_spark.corpus import corpus_df
from ocr_service_spark.kernel.fields import extract_important_data, validate_fields
from ocr_service_spark.operators.quality import needs_review, overall_quality, text_quality
from ocr_service_spark.operators.validate import FIELD_EXPRS, important_data, validated_fields
from ocr_service_spark.pipeline import process_documents

N = 1500


@pytest.fixture(scope="module")
def pipeline(spark):
    df = process_documents(corpus_df(spark, N, partitions=8)).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def processed(pipeline):
    return pipeline.select(
        "url", "corrected_text", "critical_fields", "important_data").collect()


def test_process_documents_fields_match_kernel_oracle(processed):
    assert len(processed) > N // 2
    diffs = []
    for r in processed:
        want_fields = validate_fields(r.corrected_text)
        got_fields = {k: v.asDict() for k, v in r.critical_fields.asDict().items()}
        if got_fields != want_fields:
            diffs.append((r.url, "critical_fields", got_fields, want_fields))
        want_data = extract_important_data(r.corrected_text)
        if r.important_data.asDict() != want_data:
            diffs.append((r.url, "important_data", r.important_data.asDict(), want_data))
    assert not diffs, f"{len(diffs)} rows differ; first: {diffs[0]}"


def test_corpus_exercises_every_field(processed):
    """The parity above is only as strong as the corpus: every field must
    be found valid somewhere, and important_data lists must be filled."""
    for name in ("ogrn", "inn", "kpp", "date", "snils", "phone", "email"):
        assert any(r.critical_fields[name].valid for r in processed), name
    for key in ("inn", "snils", "surnames"):
        assert any(r.important_data[key] for r in processed), key


def test_column_api_matches_pipeline(pipeline):
    """The standalone Column API, chained over corrected_text alone, gives
    process_documents' own columns row for row: both bind the same SQL
    rules, one through projected columns and one through Column
    arguments."""
    txt = F.col("corrected_text")
    stats, fields = text_quality(txt), validated_fields(txt)
    quality = overall_quality(stats["alpha_ratio"], F.col("extraction_confidence"),
                              stats["length_score"])
    api = [fields, important_data(txt), stats, quality,
           needs_review(quality, F.lit(0), fields, list(FIELD_EXPRS))]
    names = ["critical_fields", "important_data", "quality_stats", "overall_quality",
             "needs_review"]
    rows = pipeline.select("url", F.struct(*names).alias("pipeline"),
                           F.struct(*[c.alias(n) for c, n in zip(api, names)]).alias("api")
                           ).collect()
    assert len(rows) > N // 2
    diffs = [(r.url, r.pipeline, r.api) for r in rows
             if r.pipeline.asDict(recursive=True) != r.api.asDict(recursive=True)]
    assert not diffs, f"{len(diffs)} rows differ; first: {diffs[0]}"
