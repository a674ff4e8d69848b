"""Field validation as native column expressions (P13/F7/W1 of
SURVEY.md §2) — no UDFs, stays inside whole-stage codegen.

Per field (reference core/validators.py:25-76):
  candidates = regexp_extract_all(text, pattern)
  valid ones = F.filter(candidates, validity-lambda)
  best       = first valid, else first candidate   # == reference's
               max-by-confidence with first-wins ties
               (core/validators.py:186-191: conf is 0.9 valid / 0.5 not)
  confidence = 0.9 valid / 0.5 found-invalid / 0.0 missing
               (core/validators.py:113,157,197)

Scan once, filter once. `field_candidates` holds every raw scan the
module needs — the 7 field patterns and 3 surname patterns — as one
struct, and `valid_candidates` each field's valid candidates.
`process_documents` projects both once per row and `validated_fields`
and `important_data` read them, so each pattern scans the text exactly
once, `inn`/`snils` are shared, and each validity filter runs once
(Catalyst keeps a projected column but inlines an expression at every
reference). No scan sits behind a raw filter (Palkar et al., "Filter
Before You Parse", VLDB 2018): an '@' filter in front of email did not
win end to end (BENCH.md), and digit or capital-Cyrillic filters would
rarely skip on real pages, which nearly always hold a digit.

Regex dialect note: Spark uses Java regex. The reference's Python
patterns port verbatim for the digit fields (\\b is ASCII-word-bounded
in both); the Cyrillic surname lookaheads also work in Java regex. For
byte-parity-critical paths the same rules run inside the kernel oracle
(kernel/fields.py); tests/test_field_validation.py asserts agreement
row for row on the pipeline's output.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["FIELD_EXPRS", "SCANS", "field_candidates", "valid_candidates",
           "field_struct", "validated_fields", "important_data"]


def _digits(c: Column) -> Column:
    return F.regexp_replace(c, r"\D", "")


# field -> (java_regex, validity lambda Column->Column)
FIELD_EXPRS: dict[str, tuple[str, object]] = {
    "ogrn": (r"\b\d{13,15}\b", lambda v: F.length(_digits(v)).isin(13, 15)),
    "inn": (r"\b\d{10,12}\b", lambda v: F.length(_digits(v)).isin(10, 12)),
    "kpp": (r"\b\d{9}\b", lambda v: F.length(_digits(v)) == 9),
    "date": (
        r"\b\d{1,2}[./-]\d{1,2}[./-]\d{2,4}\b",
        lambda v: v.rlike(r"^\d{1,2}[./-]\d{1,2}[./-]\d{2,4}"),
    ),
    "snils": (
        r"\b\d{3}-\d{3}-\d{3}\s\d{2}\b|\b\d{11}\b",
        lambda v: F.length(_digits(v)) == 11,
    ),
    "phone": (
        r"[+7]?\s*\(?\d{3}\)?\s*\d{3}[-.\s]?\d{2}[-.\s]?\d{2}",
        lambda v: F.length(_digits(v)) >= 10,
    ),
    "email": (
        r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b",
        lambda v: v.rlike(r"@[^@]*\."),
    ),
}

_SURNAME_PATTERNS = (
    r"[А-ЯЁ][а-яё]{2,}(?=\s+[А-ЯЁ]\.\s*[А-ЯЁ]\.)",
    r"[А-ЯЁ][а-яё]{2,}(?=\s+[А-ЯЁ][а-яё]+\s+[А-ЯЁ][а-яё]+)",
    r"[А-ЯЁ][а-яё]{3,}(?=\s+[А-ЯЁ]\.)",
)

# scan name -> java_regex: the 7 field patterns, then the 3 surname patterns
SCANS: dict[str, str] = {
    **{name: pattern for name, (pattern, _) in FIELD_EXPRS.items()},
    **{f"surname{i}": pattern for i, pattern in enumerate(_SURNAME_PATTERNS)},
}

_STOPWORDS = ("россия", "российская", "федерация", "республика", "область", "край")


def _scan(text: Column, name: str) -> Column:
    return F.regexp_extract_all(text, F.lit(SCANS[name]), F.lit(0))


def field_candidates(text: Column) -> Column:
    """Struct of every raw scan in SCANS, one array<string> per scan.
    Project it once and pass it as `cands` to `validated_fields` and
    `important_data`: a scan read through a projected column runs once
    per row, however many expressions read it."""
    return F.struct(*[_scan(text, n).alias(n) for n in SCANS])


def _raw(text: Column, cands: Column | None, name: str) -> Column:
    """One scan's candidates: read from a projected `field_candidates`
    struct, or, without one, scanned inline."""
    return _scan(text, name) if cands is None else cands[name]


def _valid(name: str, raw: Column) -> Column:
    """The raw candidates that pass the field's validity check."""
    return F.filter(raw, FIELD_EXPRS[name][1])


def valid_candidates(cands: Column, fields: list[str] | None = None) -> Column:
    """Struct of each field's valid raw candidates, read from a projected
    `field_candidates` struct. Project it after `cands` and pass it as
    `valids` to `validated_fields`, so each filter also runs once."""
    names = fields or list(FIELD_EXPRS)
    return F.struct(*[_valid(n, cands[n]).alias(n) for n in names])


def _field_result(name: str, raw: Column, valids: Column) -> Column:
    """ValidationResult struct (reference core/validators.py:10-18
    dataclass → fixed StructType) from one field's raw and valid
    candidates. Only the chosen value is whitespace-normalized: the
    normalization touches whitespace alone, which no validity check
    reads, so a candidate is valid before it exactly when after."""
    has_valid = F.size(valids) > 0
    value = F.coalesce(F.get(valids, 0), F.get(raw, 0))
    return F.struct(
        F.lit(name).alias("field_name"),
        F.coalesce(F.trim(F.regexp_replace(value, r"\s+", " ")), F.lit("")).alias("value"),
        has_valid.alias("valid"),
        F.when(has_valid, 0.9).when(F.size(raw) > 0, 0.5).otherwise(0.0)
        .alias("confidence"),
    )


def field_struct(text: Column, name: str) -> Column:
    """ValidationResult struct for one field of `text`."""
    raw = _scan(text, name)
    return _field_result(name, raw, _valid(name, raw))


def validated_fields(text: Column, fields: list[str] | None = None,
                     cands: Column | None = None, valids: Column | None = None) -> Column:
    """critical_fields as a fixed struct-of-structs (preferred over map,
    SURVEY.md §1.1: schema is static). `cands` is a projected
    `field_candidates(text)` and `valids` a projected
    `valid_candidates(cands)`; without them the scans and filters are
    built inline."""
    names = fields or list(FIELD_EXPRS)
    results = []
    for n in names:
        raw = _raw(text, cands, n)
        results.append(_field_result(n, raw, _valid(n, raw) if valids is None else valids[n])
                       .alias(n))
    return F.struct(*results)


def important_data(text: Column, cands: Column | None = None) -> Column:
    """important_data struct (reference core/validators.py:213-250):
    list-valued extraction; surnames de-duped and ORDER-DETERMINISTIC
    (array_sort, then slice 10 — reference's set() order is not
    reproducible across runs, ours must be). `cands` as in
    `validated_fields`."""
    merged = F.array_distinct(F.concat(*[_raw(text, cands, f"surname{i}")
                                         for i in range(len(_SURNAME_PATTERNS))]))
    stop = F.array([F.lit(w) for w in _STOPWORDS])
    surnames = F.slice(
        F.array_sort(
            F.filter(
                merged,
                lambda s: (F.length(s) >= 3) & ~F.array_contains(stop, F.lower(s)),
            )
        ),
        1,
        10,
    )
    return F.struct(
        _raw(text, cands, "inn").alias("inn"),
        _raw(text, cands, "snils").alias("snils"),
        surnames.alias("surnames"),
    )
