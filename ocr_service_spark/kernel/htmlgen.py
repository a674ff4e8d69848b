"""Deterministic HTML templating.

One page template, `render_page`: rich Common-Crawl-style pages
(nav/header/footer boilerplate, link farms, article body). corpus.py
renders the synthetic corpus with it, and `htmlify_roundtrip` wraps the
`documents.text` column in it so the extraction UDF can be checked
against a plain-SQL DuckDB oracle (extracted text with its paragraph
breaks read as spaces == whitespace-normalized original).

Everything is a pure function of (text, doc_id) — no randomness beyond
`random.Random` seeded from doc_id, no wall clock.
"""

from __future__ import annotations

import html as _html
import random

__all__ = ["chunk_text", "htmlify_roundtrip", "render_page"]


def chunk_text(text: str, target_words: int = 12, min_tail_chars: int = 25) -> list[str]:
    """Split on single-space boundaries into ~target_words chunks whose
    ' '-join reconstructs the input exactly when the input has no
    whitespace runs. A short tail merges into the previous chunk so
    every paragraph independently passes the MIN_CONTENT_CHARS gate."""
    words = text.split(" ")
    chunks: list[str] = []
    for i in range(0, len(words), target_words):
        chunks.append(" ".join(words[i : i + target_words]))
    if len(chunks) > 1 and len(chunks[-1]) < min_tail_chars:
        tail = chunks.pop()
        chunks[-1] = chunks[-1] + " " + tail
    return chunks


_NAV_LINKS = ["Home", "World", "Politics", "Business", "Tech", "Science",
              "Sports", "Culture", "Archive", "About", "Contact", "RSS"]


def htmlify_roundtrip(text: str, doc_id: int) -> bytes:
    """Wrap a flat text in a full boilerplated page whose extracted
    text, with each paragraph break read as one space, is the
    whitespace-normalized text. doc_id seeds the boilerplate (nav
    links, breadcrumbs, sidebar, footer), proving the classifier
    rejects it structurally rather than by accident."""
    rng = random.Random(0x5EED ^ (doc_id * 2654435761 % (1 << 32)))
    return render_page(f"doc {doc_id}", chunk_text(text), rng)


def render_page(
    title: str,
    paragraphs: list[str],
    rng: random.Random,
    charset: str = "utf-8",
    heading: str | None = None,
) -> bytes:
    """Rich corpus page. Content = [heading?] + paragraphs (in order);
    everything else (nav, header, breadcrumbs, aside, footer, script,
    style, comments) must be classified boilerplate."""
    nav = "".join(
        f'<li><a href="/s/{i}">{w}</a></li>'
        for i, w in enumerate(rng.sample(_NAV_LINKS, 8))
    )
    crumbs = " &gt; ".join(
        f'<a href="/c/{i}">{rng.choice(_NAV_LINKS)}</a>' for i in range(5)
    )
    body_parts = []
    if heading:
        body_parts.append(f"<h2>{_html.escape(heading)}</h2>")
    for p in paragraphs:
        body_parts.append(f"<p>{_html.escape(p)}</p>")
    body = "\n".join(body_parts)
    sidebar = "".join(
        f'<li><a href="/rel/{i}">Related item number {i} worth reading</a></li>'
        for i in range(rng.randrange(4, 9))
    )
    footer = " | ".join(f'<a href="/f/{i}">{rng.choice(_NAV_LINKS)}</a>' for i in range(6))
    meta_cs = f'<meta charset="{charset}">'
    page = f"""<!DOCTYPE html>
<html><head>{meta_cs}<title>{_html.escape(title)}</title>
<style>.a {{ color: #333 }}</style>
<script type="text/javascript">window.__d = "{rng.randrange(1 << 30)}";</script>
</head><body>
<!-- layout shell -->
<nav><ul>{nav}</ul></nav>
<header><h1>{_html.escape(title)}</h1></header>
<div class="crumbs">{crumbs}</div>
<article>
{body}
</article>
<aside><ul>{sidebar}</ul></aside>
<footer>{footer}</footer>
</body></html>"""
    return page.encode(charset, errors="replace")
