"""Seeded inputs and their reference outputs for the three workloads.

Every input is a pure function of (workload, seed, size). The program
under test only ever sees the files written here; the reference
(row count and checksum of ``(url, extracted_text)`` after keep-latest
dedup) is derived from the generator's own ``expected_text``, the same
oracle ``tests/test_corpus_golden.py`` uses. The generator defines no
expected text for its ~2% malformed pages (truncated HTML); for those
the reference takes the kernel's text, and the real-PDF stub pages,
which the kernel rejects, are absent from the reference as they are
from the output.
"""

from __future__ import annotations

import os
import random
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_service_spark.corpus import GenDoc, gen_doc
from ocr_service_spark.kernel.dispatch import extract_document
from ocr_service_spark.sources.warc import write_warc_bytes

__all__ = ["heavy_html", "crawl_docs", "reference", "write_parquet_input",
           "warc_crawls", "write_warc_input", "CRAWLS_PER_URL"]

CRAWLS_PER_URL = 3
_CRAWL_STEP = timedelta(days=3)  # not a multiple of the corpus' 1-day re-crawl gap

_JS_WORDS = ("analytics consent banner carousel lazyload tracker widget "
             "viewport observer prefetch hydrate render bundle chunk").split()
_CSS_PROPS = ("margin padding color background border font-size line-height "
              "display flex-basis grid-template transition opacity").split()
_MENU = ("World Politics Business Markets Tech Science Health Sports Culture "
         "Travel Style Opinion Video Podcasts Weather Archive").split()


def _style_block(rng: random.Random, n_rules: int) -> str:
    rules = []
    for i in range(n_rules):
        decls = ";".join(f"{rng.choice(_CSS_PROPS)}:{rng.randrange(999)}px"
                         for _ in range(rng.randrange(3, 8)))
        rules.append(f".c{i}-{rng.choice(_JS_WORDS)} > a:hover{{{decls}}}")
    return "<style>" + "\n".join(rules) + "</style>"


def _script_block(rng: random.Random, n_funcs: int) -> str:
    # minified-bundle shape, including markup inside string literals
    parts = []
    for i in range(n_funcs):
        w = rng.choice(_JS_WORDS)
        parts.append(
            f"function {w}{i}(e,t){{var n=document.querySelectorAll('.{w}');"
            f"for(var r=0;r<n.length;r++){{n[r].innerHTML='<div class=\"{w}\">"
            f"<p>'+t[r%{rng.randrange(2, 9)}]+'</p></div>';}}"
            f"return e&&e.{w}?e.{w}({rng.randrange(1 << 20)}):null}}")
    return "<script>" + ";".join(parts) + "</script>"


def _json_ld(rng: random.Random, doc_id: int, n_items: int) -> str:
    items = ",".join(
        f'{{"@type":"ListItem","position":{i},"name":"{rng.choice(_MENU)} '
        f'{rng.choice(_JS_WORDS)}","item":"https://example.org/{doc_id}/{i}"}}'
        for i in range(n_items))
    return ('<script type="application/ld+json">{"@context":"https://schema.org",'
            f'"@type":"BreadcrumbList","itemListElement":[{items}]}}</script>')


def _menu(rng: random.Random, depth: int, width: int, prefix: str) -> str:
    if depth == 0:
        return ""
    items = []
    for i in range(width):
        label = f"{rng.choice(_MENU)} {rng.choice(_MENU)}"
        sub = _menu(rng, depth - 1, max(2, width - 2), f"{prefix}/{i}")
        items.append(f'<li class="m{depth}"><a href="{prefix}/{i}">{label}</a>'
                     f'<div class="drop">{sub}</div></li>' if sub else
                     f'<li class="m{depth}"><a href="{prefix}/{i}">{label}</a></li>')
    return "<ul>" + "".join(items) + "</ul>"


def heavy_html(html: bytes, doc_id: int, seed: int) -> bytes:
    """Wrap one corpus page in tens of KB of boilerplate: large inline
    <style>, a minified <script> bundle and JSON-LD in <head>, a deep
    mega-menu <nav> and a sitemap <footer>. Only classifier-rejected
    regions grow, so the extracted text is unchanged; the charset
    <meta> stays inside the sniffed prefix because everything lands
    after it. Non-HTML payloads (PDF branch, truncated pages) pass
    through untouched."""
    head_end = html.find(b"</head>")
    body_start = html.find(b"<body>")
    body_end = html.rfind(b"</body>")
    if min(head_end, body_start, body_end) < 0:
        return html
    rng = random.Random(seed * 1_000_003 + doc_id)
    head = (_style_block(rng, 60 + rng.randrange(40))
            + _script_block(rng, 50 + rng.randrange(30))
            + _json_ld(rng, doc_id, 30 + rng.randrange(20))).encode("ascii")
    nav = ('<nav class="mega">' + _menu(rng, 4, 6, "/m") + "</nav>").encode("ascii")
    footer = ('<footer class="sitemap">' + _menu(rng, 3, 8, "/f")
              + "</footer>").encode("ascii")
    body_start += len(b"<body>")
    return (html[:head_end] + head + html[head_end:body_start] + nav
            + html[body_start:body_end] + footer + html[body_end:])


def crawl_docs(n_docs: int, seed: int) -> list[GenDoc]:
    return [gen_doc(i, seed) for i in range(n_docs)]


def _final_text(doc: GenDoc) -> str | None:
    if doc.expected_text is not None:
        return doc.expected_text
    return extract_document(doc.html).text  # malformed: kernel's own text


def reference(docs: list[GenDoc]) -> dict[str, str]:
    """url -> expected extracted text of the crawl that keep-latest dedup
    (greatest warc_ts) keeps; urls whose kept crawl the kernel rejects
    are absent, as they are from the pipeline output."""
    latest: dict[str, GenDoc] = {}
    for d in docs:
        cur = latest.get(d.url)
        if cur is None or d.warc_ts > cur.warc_ts:
            latest[d.url] = d
    out = {}
    for url, d in latest.items():
        text = _final_text(d)
        if text is not None:
            out[url] = text
    return out


def write_parquet_input(docs: list[GenDoc], path: str, n_files: int) -> None:
    """Write the documents table as `n_files` parquet files, so the scan
    has one split per file."""
    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array([d.doc_id for d in docs], pa.int64()),
        "url": pa.array([d.url for d in docs], pa.string()),
        "warc_ts": pa.array([d.warc_ts.replace(tzinfo=None) for d in docs],
                            pa.timestamp("us")),
        "html": pa.array([d.html for d in docs], pa.binary()),
        "text": pa.array([None] * len(docs), pa.string()),
        "lang": pa.array([d.lang for d in docs], pa.string()),
    })
    step = -(-len(docs) // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def warc_crawls(n_urls: int, seed: int) -> list[GenDoc]:
    """Every corpus url crawled CRAWLS_PER_URL times: crawl k is the same
    doc_id generated under a per-crawl seed (same url and kind, new
    content), CRAWLS_PER_URL-1-k steps earlier; the last crawl is the
    run's own seed. Returned url-major, so consecutive crawls of one url
    land in consecutive archive files."""
    crawls = []
    for k in range(CRAWLS_PER_URL):
        crawl_seed = seed if k == CRAWLS_PER_URL - 1 else seed * 7919 + 104_729 * (k + 1)
        shift = _CRAWL_STEP * (CRAWLS_PER_URL - 1 - k)
        docs = crawl_docs(n_urls, crawl_seed)
        for d in docs:
            d.warc_ts -= shift
        crawls.append(docs)
    return [d for per_doc in zip(*crawls) for d in per_doc]  # url-major


def write_warc_input(crawls: list[GenDoc], path: str, n_files: int) -> None:
    """Pack the crawls into Common-Crawl-layout archives (one gzip member
    per record), spreading each url's crawls over different files."""
    os.makedirs(path, exist_ok=True)
    files: list[list] = [[] for _ in range(n_files)]
    for i, d in enumerate(crawls):
        files[i % n_files].append((d.url, d.warc_ts.replace(tzinfo=None), d.html))
    for i, recs in enumerate(files):
        with open(os.path.join(path, f"crawl-{i:03d}.warc.gz"), "wb") as f:
            f.write(write_warc_bytes(recs))
