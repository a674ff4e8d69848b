"""Single-document extraction dispatch: the one function the Arrow UDF
wraps and pytest oracles against.

Dispatch on payload magic replaces the reference's extension dispatch
(core/ocr_engine.py:84-119). Errors never propagate: a failed document
yields (text=None, error=...) — the row-level analog of the reference's
per-page skip (core/ocr_engine.py:163-165) and per-file error rows
(core/processor.py:431-438).
"""

from __future__ import annotations

from dataclasses import dataclass

from ocr_service_spark.kernel.extract_html import extract_html
from ocr_service_spark.kernel.extract_pdf import extract_pdf, is_pdf

__all__ = ["ExtractResult", "extract_document"]


@dataclass
class ExtractResult:
    text: str | None
    spans: list[tuple[int, int, int, float]]
    kind: str  # 'html' | 'pdf'
    n_nodes: int
    n_content: int
    charset: str | None
    error: str | None


def extract_document(raw: bytes | None) -> ExtractResult:
    if raw is None or len(raw) == 0:
        return ExtractResult(None, [], "html", 0, 0, None, "empty payload")
    try:
        if is_pdf(raw):
            r = extract_pdf(raw)
            return ExtractResult(
                text=r.text,
                spans=r.spans,
                kind="pdf",
                n_nodes=len(r.blocks),
                n_content=len(r.spans),
                charset=None,
                error=None,
            )
        r = extract_html(raw)
        return ExtractResult(
            text=r.text,
            spans=r.spans,
            kind="html",
            n_nodes=len(r.nodes),
            n_content=r.n_content,
            charset=r.charset,
            error=None,
        )
    except NotImplementedError as e:  # real-PDF stub path
        return ExtractResult(None, [], "pdf", 0, 0, None, f"unsupported: {e}")
    except Exception as e:  # pragma: no cover — defensive skip-on-error
        return ExtractResult(None, [], "html", 0, 0, None, f"{type(e).__name__}: {e}")
