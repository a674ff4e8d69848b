"""The Arrow extraction/correction UDFs build their result arrays
straight from the kernel's values: on rows that take every branch of
that array construction they equal the pure kernels field for field."""

import pytest

from ocr_service_spark.corpus import gen_doc
from ocr_service_spark.kernel.correct import correct_document
from ocr_service_spark.kernel.dispatch import extract_document
from ocr_service_spark.operators.correct import DEFAULT_CORRECTIONS, with_corrections
from ocr_service_spark.operators.extract import make_extract_udf, with_extraction

RU_BOTH_METHODS = (
    "<html><body><article><p>В г0роде Маркуталь открылся новый д8ор "
    "культуры, и жители г0рода пришли на праздник.</p></article></body></html>"
).encode()

EDGE_ROWS = {
    "null": None,
    "empty": b"",
    "pdf": gen_doc(9).html,  # synthetic PDF blocks branch
    "cp1251": gen_doc(11).html,
    "truncated": gen_doc(7).html,
    "real_pdf_stub": gen_doc(91).html,  # kernel error row
    "ru_corrections": RU_BOTH_METHODS,
}


def _corrected(text):
    if text is None:
        return {"corrected_text": None, "corrections": []}
    fixed, cs = correct_document(text, DEFAULT_CORRECTIONS)
    return {"corrected_text": fixed,
            "corrections": [{k: c[k] for k in ("original", "corrected", "confidence", "method")}
                            for c in cs]}


def _extracted(raw, separator):
    r = extract_document(raw, separator=separator)
    return {"text": r.text,
            "spans": [dict(zip(("start", "end", "node_idx", "confidence"), s)) for s in r.spans],
            "kind": r.kind, "n_nodes": r.n_nodes, "n_content": r.n_content,
            "charset": r.charset, "error": r.error}


def test_edge_rows_cover_each_branch():
    kinds = {n: extract_document(p) for n, p in EDGE_ROWS.items()}
    assert kinds["pdf"].kind == "pdf" and kinds["pdf"].error is None
    assert kinds["cp1251"].charset == "windows-1251"
    assert kinds["real_pdf_stub"].error and kinds["null"].error and kinds["empty"].error
    methods = {c["method"] for c in _corrected(kinds["ru_corrections"].text)["corrections"]}
    assert methods == {"contextual_russian_word", "exact_match"}


@pytest.mark.parametrize("variant", ["extract", "extract_space", "fused", "with_corrections"])
def test_arrow_udf_matches_kernel_on_edge_rows(spark, variant):
    names = list(EDGE_ROWS)
    if variant == "with_corrections":
        df = spark.createDataFrame(
            [(n, extract_document(EDGE_ROWS[n]).text) for n in names],
            "name string, extracted_text string")
        got = with_corrections(df, out_col="r")
        expected = {n: _corrected(extract_document(EDGE_ROWS[n]).text) for n in names}
    else:
        df = spark.createDataFrame([(n, EDGE_ROWS[n]) for n in names],
                                   "name string, html binary")
        sep = " " if variant == "extract_space" else "\n\n"
        if variant == "fused":
            got = df.withColumn("r", make_extract_udf(corrections=DEFAULT_CORRECTIONS)(df.html))
        else:
            got = with_extraction(df, out_col="r", separator=sep)
        expected = {n: _extracted(EDGE_ROWS[n], sep) for n in names}
        if variant == "fused":
            for n in names:
                expected[n] |= _corrected(expected[n]["text"])
    rows = {r.name: r.r.asDict(recursive=True) for r in got.select("name", "r").collect()}
    assert rows == expected
