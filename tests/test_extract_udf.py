"""The fused Arrow extraction + correction UDF builds its result array
straight from the kernels' values: on rows that take every branch of
that array construction it equals the pure kernels field for field."""

from ocr_service_spark.corpus import gen_doc
from ocr_service_spark.kernel.correct import correct_document
from ocr_service_spark.kernel.dispatch import extract_document
from ocr_service_spark.operators.correct import DEFAULT_CORRECTIONS
from ocr_service_spark.operators.extract import make_extract_correct_udf

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


def _extracted(raw):
    r = extract_document(raw)
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


def test_arrow_udf_matches_kernel_on_edge_rows(spark):
    names = list(EDGE_ROWS)
    df = spark.createDataFrame([(n, EDGE_ROWS[n]) for n in names], "name string, html binary")
    got = df.withColumn("r", make_extract_correct_udf()(df.html))
    expected = {n: _extracted(EDGE_ROWS[n]) for n in names}
    for n in names:
        expected[n] |= _corrected(expected[n]["text"])
    rows = {r.name: r.r.asDict(recursive=True) for r in got.select("name", "r").collect()}
    assert rows == expected
