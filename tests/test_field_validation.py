"""Native field validation (operators/validate.py) against the pure-Python
kernel oracle (kernel/fields.py), row for row, on the pipeline's own
output: critical_fields and important_data of every process_documents
row must equal validate_fields / extract_important_data of its
corrected_text."""

import pytest

from ocr_service_spark.corpus import corpus_df
from ocr_service_spark.kernel.fields import extract_important_data, validate_fields
from ocr_service_spark.pipeline import process_documents

N = 1500


@pytest.fixture(scope="module")
def processed(spark):
    return process_documents(corpus_df(spark, N, partitions=8)).select(
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
