"""HTML main-content extraction kernel.

Boilerpipe/trafilatura-style text-density + link-density heuristics over
a *flat DOM-node array* — the graft analog of the reference's OCR text
regions (reference core/ocr_engine.py:244-267 builds
``{text, confidence, bbox}`` observations; here each block-level text
run becomes ``(tag, depth, text_len, link_density)``), followed by a
content/boilerplate classification replacing Vision OCR
(reference core/ocr_engine.py:178-293).

Design constraints (BASELINE.json north_rule):
- pure Python + stdlib only, fully deterministic (no wall clock, no
  randomness, no float accumulation order dependence): confidences are
  derived from integers and rounded at fixed points;
- the same function is the pytest byte-identity oracle AND the body of
  the Arrow UDF, so "byte-identical extracted text per url" holds by
  construction;
- whitespace inside a node is normalized exactly like the reference's
  F6 normalizer (``re.sub(r'\\s+', ' ', s.strip())``,
  reference core/validators.py:106).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html import unescape
from html.parser import HTMLParser

__all__ = ["Node", "HtmlExtraction", "parse_nodes", "classify_nodes", "extract_html"]

_WS_RE = re.compile(r"\s+")

# Block-level elements: each opens a new node in the flat array.
BLOCK_TAGS = frozenset(
    """p div li td th h1 h2 h3 h4 h5 h6 pre blockquote article section
    main figcaption caption dd dt summary title""".split()
)
# Elements whose entire subtree is boilerplate by position.
BOILERPLATE_CONTAINERS = frozenset("nav header footer aside form menu".split())
# Elements whose raw content is dropped entirely.
DROP_TAGS = frozenset("script style template noscript svg head".split())
# Void elements never pushed on the open-tag stack.
VOID_TAGS = frozenset(
    "br hr img input meta link area base col embed source track wbr".split()
)

# Classification thresholds (fixed; integer/char-count based).
MAX_LINK_DENSITY = 0.3334  # reject link farms (link chars / text chars)
MIN_CONTENT_CHARS = 25  # a node this long with low link density is content
MIN_HEADING_CHARS = 8  # headings get a lower bar (trafilatura keeps them)
HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())

DEFAULT_SEPARATOR = "\n\n"

# single-lookup dispatch table: tag → flag bitmask (hot path — the
# handlers run once per tag of every document)
_F_VOID, _F_DROP, _F_BOILER, _F_LINK, _F_BLOCK = 1, 2, 4, 8, 16
_TAG_FLAGS: dict[str, int] = {}
for _t in VOID_TAGS:
    _TAG_FLAGS[_t] = _F_VOID
for _t in DROP_TAGS:
    _TAG_FLAGS[_t] = _F_DROP
for _t in BOILERPLATE_CONTAINERS:
    _TAG_FLAGS[_t] = _F_BOILER
_TAG_FLAGS["a"] = _F_LINK
for _t in BLOCK_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_BLOCK


@dataclass(slots=True)
class Node:
    """One block-level text run — the flat DOM-node array element
    ``(tag, depth, text_len, link_density)`` of the north rule."""

    idx: int
    tag: str
    depth: int
    text: str
    n_chars: int
    link_chars: int
    in_boilerplate: bool

    @property
    def link_density(self) -> float:
        if self.n_chars <= 0:
            return 1.0
        # Ratio of two ints — deterministic.
        return self.link_chars / self.n_chars


@dataclass
class HtmlExtraction:
    text: str
    # span = (start, end, node_idx, confidence) — offsets into `text`,
    # graft analog of the reference's bbox'd text regions
    # (core/ocr_engine.py:244-267).
    spans: list[tuple[int, int, int, float]]
    nodes: list[Node]
    n_content: int
    charset: str


class _FlatDomParser(HTMLParser):
    """Streams HTML into the flat node array. Tolerant of malformed
    markup (HTMLParser never raises on bad nesting — the analog of the
    reference's per-page error-skip, core/ocr_engine.py:163-165)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.nodes: list[Node] = []
        self._depth = 0
        self._boiler_depth = 0
        self._drop_depth = 0
        self._link_depth = 0
        self._block_stack: list[list] = []  # [tag, depth, [texts], link_chars, boiler]

    # -- helpers -------------------------------------------------------
    def _open_block(self, tag: str) -> None:
        self._block_stack.append(
            [tag, self._depth, [], 0, self._boiler_depth > 0]
        )

    def _close_block(self) -> None:
        tag, depth, texts, link_chars, boiler = self._block_stack.pop()
        raw = "".join(texts)
        # equivalent to _WS_RE.sub(" ", raw).strip() — str.split() and
        # \s+ agree on the Unicode whitespace set — at ~3x the speed
        norm = " ".join(raw.split())
        if not norm:
            return
        self.nodes.append(
            Node(
                idx=len(self.nodes),
                tag=tag,
                depth=depth,
                text=norm,
                n_chars=len(norm),
                # clamp: normalization can only shrink text, keep ratio sane
                link_chars=min(link_chars, len(norm)),
                in_boilerplate=boiler,
            )
        )

    # -- HTMLParser hooks ----------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        f = _TAG_FLAGS.get(tag, 0)
        if f & _F_VOID:
            return
        self._depth += 1
        if not f:
            return
        if f & _F_DROP:
            self._drop_depth += 1
            return
        if f & _F_BOILER:
            self._boiler_depth += 1
        if f & _F_LINK:
            self._link_depth += 1
        if f & _F_BLOCK:
            self._open_block(tag)

    def handle_endtag(self, tag: str) -> None:
        f = _TAG_FLAGS.get(tag, 0)
        if f & _F_VOID:
            return
        if f & _F_DROP:
            if self._drop_depth > 0:
                self._drop_depth -= 1
            self._depth = max(0, self._depth - 1)
            return
        if f & _F_BOILER and self._boiler_depth > 0:
            self._boiler_depth -= 1
        if f & _F_LINK and self._link_depth > 0:
            self._link_depth -= 1
        if f & _F_BLOCK and self._block_stack:
            if self._block_stack[-1][0] == tag:  # well-nested fast path
                self._close_block()
            else:
                # close innermost matching block (tolerates bad nesting)
                for i in range(len(self._block_stack) - 1, -1, -1):
                    if self._block_stack[i][0] == tag:
                        # close any blocks opened inside it first
                        while len(self._block_stack) > i + 1:
                            self._close_block()
                        self._close_block()
                        break
        self._depth = max(0, self._depth - 1)

    def handle_data(self, data: str) -> None:
        if self._drop_depth > 0 or not data:
            return
        if not self._block_stack:
            return  # stray text outside any block element: ignored
        top = self._block_stack[-1]
        top[2].append(data)
        if self._link_depth > 0:
            # normalized length without building the string:
            # len(" ".join(ws)) = sum(word lens) + (n_words - 1)
            ws = data.split()
            if ws:
                top[3] += sum(map(len, ws)) + len(ws) - 1

    def close_blocks(self) -> None:  # flush unclosed blocks (truncated docs)
        while self._block_stack:
            self._close_block()

    def close(self) -> None:
        super().close()
        self.close_blocks()


# --------------------------------------------------------------------------
# Fast tokenizer: a regex-driven drive of the same hooks. The extractor
# needs only tag names, text runs, and script/style raw-text semantics —
# never attributes — so a hand-rolled scan reproduces html.parser's
# observable behavior (single handle_data per inter-tag run, charref
# unescape via the same html.unescape table, `<x/>` = start+end, stray
# '<' emitted as data, script/style content swallowed to the matching
# close tag) at a fraction of the cost. `_FlatDomParser` above remains
# the reference implementation; tests A/B the two on the full corpus.
# --------------------------------------------------------------------------

_TAG_RE = re.compile(
    r"<(?:"
    r"!--.*?(?:-->|$)"                      # comment (or truncated)
    r"|!\[CDATA\[.*?(?:\]\]>|$)"            # CDATA section
    r"|![^>]*>?"                            # doctype / decl
    r"|\?[^>]*>?"                           # processing instruction
    r"|(/?)([a-zA-Z][^\t\n\r\f />]*)"       # 1: end-slash  2: tag name
                                            #    (html.parser-tolerant:
                                            #    anything but ws, /, >)
    r"((?:\"[^\"]*\"|'[^']*'|[^>\"'])*?)"   # 3: attrs (quote-aware, lazy
                                            #    so a trailing / reaches 4)
    r"(/?)>"                                # 4: self-closing slash
    r"|/[^>]*(?:>|$)"                       # null/bogus end tag ('</>',
                                            #    '</3>', '</ x>', or '</x'
                                            #    truncated at EOF):
                                            #    swallowed silently
    r"|([a-zA-Z])"                          # 5: start tag that never
                                            #    completes (no '>' ahead /
                                            #    quote open to EOF): rest
                                            #    of the doc becomes data
    r")",
    re.S,
)
_RAW_CLOSE = {
    "script": re.compile(r"</script[^>]*>", re.I | re.S),
    "style": re.compile(r"</style[^>]*>", re.I | re.S),
}


# (raw-name → (lowercased tag, flags)) memo: skips str.lower() + the
# flag dict probe per tag occurrence. Bounded so adversarial tag soup
# (fuzz garbage) can't grow it without limit.
_NAME_CACHE: dict[str, tuple[str, int]] = {}
_NAME_CACHE_MAX = 4096


def _fused_parse(text: str) -> list[Node]:
    """Tokenizer + node-builder state machine fused into one frame.

    Behaviorally identical to driving _FlatDomParser's hooks with the
    regex tokenizer (the previous fast path) — the hook bodies are
    inlined here because at ~180 tags/doc the three Python calls per
    tag (start/end/data) were ~30% of kernel CPU. _FlatDomParser
    remains the behavioral reference; test_kernel_fuzz A/Bs the two on
    corpus HTML, tag soup, and garbage bytes."""
    nodes: list[Node] = []
    search = _TAG_RE.search
    flags = _TAG_FLAGS
    cache = _NAME_CACHE
    depth = 0
    boiler_d = 0
    drop_d = 0
    link_d = 0
    stack: list[list] = []  # [tag, depth, [texts], link_chars, boiler]

    def close_top() -> None:
        tag, d0, texts, link_chars, boiler = stack.pop()
        norm = " ".join((texts[0] if len(texts) == 1 else "".join(texts)).split())
        if not norm:
            return
        ln = len(norm)
        nodes.append(Node(len(nodes), tag, d0, norm, ln,
                          link_chars if link_chars < ln else ln, boiler))

    def emit(d: str) -> None:  # handle_data inlined (drop/stray-text gates)
        if drop_d > 0 or not stack or not d:
            return
        top = stack[-1]
        top[2].append(d)
        if link_d > 0:
            # normalized length without building the string:
            # len(" ".join(ws)) = sum(word lens) + (n_words - 1)
            ws = d.split()
            if ws:
                top[3] += sum(map(len, ws)) + len(ws) - 1

    pos, n = 0, len(text)
    while pos < n:
        # ONE C-level scan per construct: the pattern's literal '<'
        # prefix makes search() do find + match together. Every '<'
        # that opens NO construct (stray '<', '<'+unicode-letter, bare
        # '<' at EOF) is skipped by the engine and lands inside the
        # next data run; the two extra alternations keep the match-
        # failure semantics the old two-step loop handled in Python
        # (bogus end tags swallowed, unterminated start tag = group 5).
        m = search(text, pos)
        if m is None:
            # remainder holds no construct — only stray '<'s (never
            # '<'+ascii-letter: group 5 would have matched). Replay
            # html.parser piecewise: each stray '<' and each inter-
            # stray run is its own handle_data call.
            for i, piece in enumerate(text[pos:].split("<")):
                if i:
                    emit("<")
                if piece:
                    emit(unescape(piece) if "&" in piece else piece)
            break
        st = m.start()
        if st > pos:
            # hottest data site (one run per inter-tag gap): emit()
            # inlined to skip the call. A run containing stray '<'s is
            # rare — replay those piecewise to keep handle_data
            # boundaries identical to html.parser's.
            d = text[pos:st]
            if "<" in d:
                for i, piece in enumerate(d.split("<")):
                    if i:
                        emit("<")
                    if piece:
                        emit(unescape(piece) if "&" in piece else piece)
            elif drop_d == 0 and stack:
                if "&" in d:
                    d = unescape(d)
                top = stack[-1]
                top[2].append(d)
                if link_d > 0:
                    ws = d.split()
                    if ws:
                        top[3] += sum(map(len, ws)) + len(ws) - 1
        end_slash, name, self_close = m.group(1, 2, 4)
        if name is None:
            if m.group(5) is not None:
                # start tag that never completes — no '>' ahead, or an
                # attribute quote left open to EOF (quoted values may
                # contain '>', so the branch only wins when the
                # construct really extends to EOF). html.parser flushes
                # the whole remainder as data at close(); mirror that.
                d = text[st:]
                emit(unescape(d) if "&" in d else d)
                break
            pos = m.end()
            continue  # comment / CDATA / doctype / PI / bogus end tag
        pos = m.end()
        got = cache.get(name)
        if got is None:
            tag = name.lower()
            f = flags.get(tag, 0)
            # length cap: the tag-name charclass is unbounded, so an
            # adversarial doc could otherwise pin huge strings in this
            # process-lifetime dict (every real HTML tag is far shorter)
            if len(name) <= 64 and len(cache) < _NAME_CACHE_MAX:
                cache[name] = (tag, f)
        else:
            tag, f = got
        if end_slash:
            # handle_endtag inlined
            if f & _F_VOID:
                continue
            if f & _F_DROP:
                if drop_d > 0:
                    drop_d -= 1
                if depth > 0:
                    depth -= 1
                continue
            if f & _F_BOILER and boiler_d > 0:
                boiler_d -= 1
            if f & _F_LINK and link_d > 0:
                link_d -= 1
            if f & _F_BLOCK and stack:
                if stack[-1][0] == tag:  # well-nested fast path
                    close_top()
                else:
                    # close innermost matching block (tolerates bad nesting)
                    for i in range(len(stack) - 1, -1, -1):
                        if stack[i][0] == tag:
                            # close any blocks opened inside it first
                            while len(stack) > i:
                                close_top()
                            break
            if depth > 0:
                depth -= 1
            continue
        # handle_starttag inlined
        if not f & _F_VOID:
            depth += 1
            if f:
                if f & _F_DROP:
                    drop_d += 1
                else:
                    if f & _F_BOILER:
                        boiler_d += 1
                    if f & _F_LINK:
                        link_d += 1
                    if f & _F_BLOCK:
                        stack.append([tag, depth, [], 0, boiler_d > 0])
        if self_close:
            # immediate handle_endtag for <x/>
            if f & _F_VOID:
                continue
            if f & _F_DROP:
                if drop_d > 0:
                    drop_d -= 1
                if depth > 0:
                    depth -= 1
                continue
            if f & _F_BOILER and boiler_d > 0:
                boiler_d -= 1
            if f & _F_LINK and link_d > 0:
                link_d -= 1
            if f & _F_BLOCK and stack and stack[-1][0] == tag:
                close_top()
            if depth > 0:
                depth -= 1
        elif tag in _RAW_CLOSE:
            mm = _RAW_CLOSE[tag].search(text, pos)
            if mm:
                emit(text[pos:mm.start()])  # raw text: never unescaped
                pos = mm.end()
                # matching close tag found: end-tag effect (both raw
                # tags are DROP_TAGS, so only drop/depth bookkeeping)
                if f & _F_DROP:
                    if drop_d > 0:
                        drop_d -= 1
                    if depth > 0:
                        depth -= 1
                else:
                    if f & _F_BLOCK and stack and stack[-1][0] == tag:
                        close_top()
                    if depth > 0:
                        depth -= 1
            else:  # unterminated raw text: swallowed, tag left open
                emit(text[pos:])
                pos = n
    while stack:  # flush unclosed blocks (truncated docs)
        close_top()
    return nodes


_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?([A-Za-z0-9_\-]+)", re.I)
_KNOWN_CHARSETS = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "windows-1251": "windows-1251",
    "cp1251": "windows-1251",
    "iso-8859-1": "iso-8859-1",
    "latin-1": "iso-8859-1",
    "ascii": "utf-8",
}


def sniff_charset(raw: bytes) -> str:
    """Charset sniff over the first 2 KiB (the graft analog of the
    reference's image-format dispatch, core/ocr_engine.py:98-112)."""
    m = _CHARSET_RE.search(raw[:2048])
    if m:
        return _KNOWN_CHARSETS.get(m.group(1).decode("ascii", "replace").lower(), "utf-8")
    return "utf-8"


def parse_nodes(raw: bytes, fast: bool = True) -> tuple[list[Node], str]:
    """bytes → flat DOM-node array. Never raises on malformed HTML.

    fast=True runs the fused regex tokenizer + node builder (~6x
    throughput); fast=False uses stdlib html.parser — kept as the
    behavioral reference (tests assert both produce identical nodes on
    the full corpus)."""
    charset = sniff_charset(raw)
    text = raw.decode(charset, errors="replace")
    if fast:
        return _fused_parse(text), charset
    p = _FlatDomParser()
    p.feed(text)
    p.close()
    return p.nodes, charset


def node_confidence(node: Node) -> float:
    """Deterministic per-node confidence in [0,1] — graft analog of OCR
    per-region confidence (reference core/ocr_engine.py:254). Derived
    only from integer counts with a single fixed rounding point."""
    density_term = min(1.0, node.n_chars / 200.0)
    link_term = 1.0 - node.link_density
    return round(0.5 * density_term + 0.5 * link_term, 4)


def classify_nodes(nodes: list[Node]) -> list[bool]:
    """Content-vs-boilerplate classification.

    Rules (Boilerpipe-style number-of-words + link-density with
    neighbour smoothing):
      1. nodes under nav/header/footer/aside/form/menu → boilerplate;
      2. link_density > 1/3 → boilerplate (link farm);
      3. length >= MIN_CONTENT_CHARS → content;
         headings with length >= MIN_HEADING_CHARS → content;
      4. smoothing: a short low-link node adjacent (idx±1) to a node
         accepted by rule 3 is content (captures short sentences inside
         the article body).
    """
    n = len(nodes)
    strong = [False] * n
    for i, nd in enumerate(nodes):
        if nd.in_boilerplate or nd.tag == "title":
            continue
        # integer cross-multiply == link_density > MAX_LINK_DENSITY
        # (0.3334 == 3334/10000; n_chars <= 0 mirrors the property's 1.0)
        if nd.n_chars <= 0 or nd.link_chars * 10000 > 3334 * nd.n_chars:
            continue
        if nd.n_chars >= MIN_CONTENT_CHARS or (
            nd.tag in HEADING_TAGS and nd.n_chars >= MIN_HEADING_CHARS
        ):
            strong[i] = True
    keep = list(strong)
    for i, nd in enumerate(nodes):
        if keep[i] or nd.in_boilerplate or nd.tag == "title":
            continue
        if nd.n_chars <= 0 or nd.link_chars * 10000 > 3334 * nd.n_chars:
            continue
        if (i > 0 and strong[i - 1]) or (i + 1 < n and strong[i + 1]):
            keep[i] = True
    return keep


def extract_html(raw: bytes) -> HtmlExtraction:
    """Full kernel: bytes → (kept nodes' texts joined, spans, nodes).

    Span offsets index into the returned text; ``node_idx`` points into
    the full node array (not just the kept ones), so downstream targeted
    re-extraction (SURVEY.md M2) can find the source node.
    """
    nodes, charset = parse_nodes(raw)
    keep = classify_nodes(nodes)
    parts: list[str] = []
    spans: list[tuple[int, int, int, float]] = []
    pos = 0
    for nd, k in zip(nodes, keep):
        if not k:
            continue
        if parts:
            pos += len(DEFAULT_SEPARATOR)
        start = pos
        end = start + nd.n_chars
        spans.append((start, end, nd.idx, node_confidence(nd)))
        parts.append(nd.text)
        pos = end
    return HtmlExtraction(
        text=DEFAULT_SEPARATOR.join(parts),
        spans=spans,
        nodes=nodes,
        n_content=len(parts),
        charset=charset,
    )
