"""Self-tests for the benchmark's own code: input generators, the
reference the passes are checked against, and span arithmetic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ocr_service_spark.kernel.dispatch import extract_document  # noqa: E402
from perfbench import inputs  # noqa: E402
from perfbench.spans import Tracer, self_times  # noqa: E402


def test_heavy_pages_keep_expected_text_byte_identical():
    docs = inputs.crawl_docs(120, seed=5)
    sizes = []
    for d in docs:
        heavy = inputs.heavy_html(d.html, d.doc_id, seed=5)
        got = extract_document(heavy).text
        want = d.expected_text if d.kind != "malformed" else extract_document(d.html).text
        assert got == want, f"doc {d.doc_id} ({d.kind})"
        if d.kind == "html":
            sizes.append(len(heavy))
    assert min(sizes) > 20 * 1024, "heavy pages carry tens of KB of boilerplate"


def test_heavy_pages_are_deterministic_and_leave_non_html_alone():
    docs = inputs.crawl_docs(100, seed=9)
    for d in docs:
        assert inputs.heavy_html(d.html, d.doc_id, 9) == inputs.heavy_html(d.html, d.doc_id, 9)
    pdf = next(d for d in docs if d.kind == "pdf")
    assert inputs.heavy_html(pdf.html, pdf.doc_id, 9) == pdf.html


def test_warc_crawls_keep_the_last_crawl_per_url():
    crawls = inputs.warc_crawls(30, seed=4)
    assert len(crawls) == 30 * inputs.CRAWLS_PER_URL
    ref = inputs.reference(crawls)
    final = {d.url: d for d in inputs.crawl_docs(30, seed=4)}
    for url, text in ref.items():
        d = final[url]
        assert text == (d.expected_text if d.expected_text is not None
                        else extract_document(d.html).text)


def _span(id_, parent, start, end):
    return {"id": id_, "name": f"s{id_}", "trace": 1, "parent": parent,
            "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),    # overlaps span 2: counted once
        _span(4, 1, 8.0, 12.0),   # runs past the parent's end: clipped
        _span(5, 3, 2.5, 4.5),    # grandchild: only its own parent loses it
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(10.0 - (4.0 + 2.0))
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(3.0 - 2.0)
    assert got[4] == pytest.approx(4.0)
    assert got[5] == pytest.approx(2.0)


def test_tracer_links_parents_and_trace_ids():
    tr = Tracer()
    tr.new_trace()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    tr.new_trace()
    with tr.span("next"):
        pass
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]
    assert by_name["outer"]["parent"] is None
    assert by_name["inner"]["trace"] == by_name["outer"]["trace"] != by_name["next"]["trace"]
    selfs = self_times(tr.spans)
    assert all(v >= 0 for v in selfs.values())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from perfbench.harness import build, host_settings

    s = build(host_settings(str(tmp_path_factory.mktemp("work"))), cores=2)
    yield s
    s.stop()


def test_reference_matches_process_documents(spark, tmp_path):
    from pyspark.sql import functions as F

    from ocr_service_spark.pipeline import process_documents
    from perfbench.harness import checksums

    docs = inputs.crawl_docs(150, seed=3)
    inputs.write_parquet_input(docs, str(tmp_path / "in"), n_files=3)
    out = process_documents(spark.read.parquet(str(tmp_path / "in")))
    got = out.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64("url", "extracted_text"))).first()
    assert [(got[0], got[1])] == checksums(spark, inputs.reference(docs))


def test_warc_reference_matches_lineage_commit(spark, tmp_path):
    from ocr_service_spark.lineage import run_with_lineage, verify_lineage
    from ocr_service_spark.pipeline import process_documents
    from perfbench.harness import checksums, lineage_fold, warc_documents

    crawls = inputs.warc_crawls(60, seed=8)
    inputs.write_warc_input(crawls, str(tmp_path / "warc"), n_files=4)
    out = str(tmp_path / "out")
    run_with_lineage(spark, process_documents(warc_documents(spark, str(tmp_path / "warc"))),
                     out, n_buckets=4)
    got, bad = lineage_fold(verify_lineage(spark, out).collect())
    assert bad == 0
    assert [got] == checksums(spark, inputs.reference(crawls))
