"""Text-correction kernels — byte-parity reimplementations of the
reference's OCR-error correctors, used both as the pytest oracle and
inside Arrow UDF batches.

- contextual_digit_fix: digits 0/8 that leaked into Cyrillic words →
  о/О, в/В with case chosen from the token's own casing
  (reference core/correctors.py:201-267, confidence 0.95).
- apply_corrections_map: dictionary token replacement
  (reference core/correctors.py:270-291).
- correct_document: the two in one tokenization pass — the hot path;
  the other two are the reference it is tested against.
"""

from __future__ import annotations

import re

__all__ = [
    "TOKEN_RE",
    "contextual_digit_fix",
    "apply_corrections_map",
    "correct_document",
]

# token grammar of the reference's contextual corrector
# (core/correctors.py:220: \b[А-Яа-яЁё0-9]+\b)
TOKEN_RE = re.compile(r"\b[А-Яа-яЁё0-9]+\b")
_CYR_RE = re.compile(r"[Ѐ-ӿ]")
_LOWER_CYR_RE = re.compile(r"[а-яё]")


def contextual_digit_fix(text: str) -> tuple[str, list[dict]]:
    """Replace 0→о/О and 8→в/В inside tokens that mix Cyrillic letters
    with those digits; emit one correction record per changed token
    (reference core/correctors.py:220-267). Deterministic single pass,
    left-to-right (the reference's whole-string replace-once rescans —
    an anti-pattern we do not copy, SURVEY.md §4.1)."""
    corrections: list[dict] = []
    out: list[str] = []
    last = 0
    for m in TOKEN_RE.finditer(text):
        tok = m.group(0)
        if not _CYR_RE.search(tok):
            continue
        if "0" not in tok and "8" not in tok:
            continue
        if tok.isdigit():
            continue
        has_lower = bool(_LOWER_CYR_RE.search(tok))
        zero = "о" if has_lower else "О"
        eight = "в" if has_lower else "В"
        fixed = tok.replace("0", zero).replace("8", eight)
        if fixed == tok:
            continue
        corrections.append(
            {
                "original": tok,
                "corrected": fixed,
                "confidence": 0.95,
                "method": "contextual_russian_word",
                "zeros": tok.count("0"),
                "eights": tok.count("8"),
            }
        )
        out.append(text[last:m.start()])
        out.append(fixed)
        last = m.end()
    out.append(text[last:])
    return "".join(out), corrections


def correct_document(text: str, corrections: dict[str, str]) -> tuple[str, list[dict]]:
    """contextual_digit_fix ∘ apply_corrections_map in ONE tokenization
    pass — the hot-path composition used by the fused extraction UDF.

    Byte-identical to running the two kernels in sequence (pinned by
    test_correct_areas): the digit fix never changes token boundaries
    (0/8 → Cyrillic letters inside a [А-Яа-яЁё0-9]+ token), so the
    second pass's re-tokenization sees the same spans, and the map
    lookup here uses the digit-FIXED token exactly as the sequential
    version would. Correction records keep the sequential order: all
    digit fixes first, then all map hits."""
    c1: list[dict] = []
    c2: list[dict] = []
    out: list[str] = []
    last = 0
    for m in TOKEN_RE.finditer(text):
        tok = m.group(0)
        fixed = tok
        if (
            ("0" in tok or "8" in tok)
            and not tok.isdigit()
            and _CYR_RE.search(tok)
        ):
            has_lower = bool(_LOWER_CYR_RE.search(tok))
            fixed = tok.replace("0", "о" if has_lower else "О").replace(
                "8", "в" if has_lower else "В")
            if fixed != tok:
                c1.append(
                    {"original": tok, "corrected": fixed, "confidence": 0.95,
                     "method": "contextual_russian_word",
                     "zeros": tok.count("0"), "eights": tok.count("8")}
                )
        repl = corrections.get(fixed)
        if repl is not None and repl != fixed:
            c2.append(
                {"original": fixed, "corrected": repl, "confidence": 1.0,
                 "method": "exact_match"}
            )
            fixed = repl
        if fixed != tok:
            out.append(text[last:m.start()])
            out.append(fixed)
            last = m.end()
    out.append(text[last:])
    return "".join(out), c1 + c2


def apply_corrections_map(text: str, corrections: dict[str, str]) -> tuple[str, list[dict]]:
    """Single-pass token-map dictionary correction — replaces the
    reference's per-correction whole-string rescan loop
    (core/correctors.py:270-291) with one tokenization pass."""
    applied: list[dict] = []
    out: list[str] = []
    last = 0
    for m in TOKEN_RE.finditer(text):
        tok = m.group(0)
        repl = corrections.get(tok)
        if repl is None or repl == tok:
            continue
        applied.append(
            {"original": tok, "corrected": repl, "confidence": 1.0,
             "method": "exact_match"}
        )
        out.append(text[last:m.start()])
        out.append(repl)
        last = m.end()
    out.append(text[last:])
    return "".join(out), applied
