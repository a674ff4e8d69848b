"""Unit tests for the HTML extraction kernel (the pytest oracle)."""

from ocr_service_spark.corpus import gen_docs
from ocr_service_spark.kernel.extract_html import (
    classify_nodes,
    extract_html,
    parse_nodes,
    sniff_charset,
)
from ocr_service_spark.kernel.extract_pdf import is_pdf
from ocr_service_spark.kernel.htmlgen import htmlify_roundtrip


def test_flat_node_array_shape():
    html = b"""<html><body>
    <nav><li><a href="/">Home</a></li></nav>
    <article><p>A paragraph of body text that is long enough to count.</p></article>
    </body></html>"""
    nodes, charset = parse_nodes(html)
    assert charset == "utf-8"
    tags = [n.tag for n in nodes]
    assert "li" in tags and "p" in tags
    li = nodes[tags.index("li")]
    assert li.in_boilerplate and li.link_density == 1.0
    p = nodes[tags.index("p")]
    assert not p.in_boilerplate and p.link_chars == 0


def test_classification_rules():
    html = b"""<html><body>
    <div><a href="/a">all links here are rejected entirely ok</a></div>
    <p>This paragraph is clearly long enough to be treated as content.</p>
    <p>short tail.</p>
    <footer><p>Long footer boilerplate sentence that would otherwise qualify as content.</p></footer>
    </body></html>"""
    nodes, _ = parse_nodes(html)
    keep = classify_nodes(nodes)
    kept = [n.text for n, k in zip(nodes, keep) if k]
    assert any("clearly long enough" in t for t in kept)
    assert any(t == "short tail." for t in kept), "neighbour smoothing"
    assert not any("footer boilerplate" in t for t in kept)
    assert not any("all links" in t for t in kept)


def test_span_offsets_index_into_text():
    html = b"<p>First block of sufficient length for content.</p><p>Second block also of sufficient length.</p>"
    r = extract_html(html)
    assert r.n_content == 2
    for start, end, node_idx, conf in r.spans:
        assert 0.0 <= conf <= 1.0
        assert r.text[start:end] == r.nodes[node_idx].text


def test_entities_and_whitespace_normalized():
    html = b"<p>A &amp; B   \n\t with   runs &lt;kept&gt; and enough padding text here.</p>"
    r = extract_html(html)
    assert r.text == "A & B with runs <kept> and enough padding text here."


def test_charset_sniff_cp1251():
    body = "<html><head><meta charset=\"windows-1251\"></head><body><p>Привет это достаточно длинный русский абзац текста.</p></body></html>"
    raw = body.encode("windows-1251")
    assert sniff_charset(raw) == "windows-1251"
    r = extract_html(raw)
    assert "русский абзац" in r.text


def test_malformed_html_never_raises():
    cases = [
        b"<p>unclosed paragraph with plenty of text to qualify as content",
        b"<div><p>bad <b>nesting</div></p> trailing",
        b"\xff\xfe garbage bytes then <p>some recoverable paragraph text here ok.</p>",
        b"",
    ]
    for raw in cases:
        extract_html(raw)  # must not raise
    r = extract_html(cases[0])
    assert "unclosed paragraph" in r.text


def test_script_style_dropped():
    html = b"<style>p{color:red}</style><script>var x = '<p>fake</p>';</script><p>Real visible paragraph content that is long enough.</p>"
    r = extract_html(html)
    assert "fake" not in r.text and "color" not in r.text
    assert "Real visible paragraph" in r.text


def test_htmlify_roundtrip_exact():
    text = "alpha beta gamma " * 20 + "tail words"
    page = htmlify_roundtrip(text, 7)
    assert extract_html(page).text.replace("\n\n", " ") == " ".join(text.split())


def test_paragraph_breaks_are_the_only_newlines():
    # no node text holds a "\n", so the only "\n\n" in an extracted
    # HTML text are the breaks between kept nodes, and a query may read
    # each one as a space (queries._spaced)
    docs = gen_docs(300)
    pages = [d.html for d in docs if not is_pdf(d.html)]
    pages += [htmlify_roundtrip(d.expected_text, d.doc_id) for d in docs if d.expected_text]
    for raw in pages:
        nodes, _ = parse_nodes(raw)
        assert not any("\n" in nd.text for nd in nodes)
        kept = [nd.text for nd, k in zip(nodes, classify_nodes(nodes)) if k]
        text = extract_html(raw).text
        assert (text.split("\n\n") if text else []) == kept
