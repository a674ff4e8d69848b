"""Field validation as Spark SQL text (P13/F7/W1 of SURVEY.md §2) — no
UDFs, stays inside whole-stage codegen.

One rule table, FIELD_EXPRS: field -> (Java regex, validity predicate as
SQL over the candidate `v`) — the reference's core/validators.py:25-76
table. Per field:
  candidates = regexp_extract_all(text, pattern)
  valid ones = filter(candidates, v -> predicate)
  best       = first valid, else first candidate   # == reference's
               max-by-confidence with first-wins ties
               (core/validators.py:186-191: conf is 0.9 valid / 0.5 not)
  confidence = 0.9 valid / 0.5 found-invalid / 0.0 missing
               (core/validators.py:113,157,197)

Each result is a SQL fragment of the SQL of its inputs:
`candidates_sql(text)` is one struct of every raw scan in SCANS (the 7
field patterns and 3 surname patterns), `valid_candidates_sql(cands)`
each field's valid candidates, and `critical_fields_sql(cands, valids)`
and `important_data_sql(cands)` read both. `process_documents` projects
the first two as columns and passes their names, so each pattern scans
the text exactly once, `inn`/`snils` are shared, and each validity
filter runs once (Catalyst keeps a projected column but inlines an
expression at every reference). The Column API (`validated_fields`,
`important_data`) binds its text Column into the same fragments.
No scan sits behind a raw filter (Palkar et al., "Filter Before You
Parse", VLDB 2018): an '@' filter in front of email did not win end to
end (BENCH.md), and digit or capital-Cyrillic filters would rarely skip
on real pages, which nearly always hold a digit.

Regex dialect note: Spark uses Java regex, written as raw r'…' SQL
literals so the backslashes reach the regex engine. The reference's
Python patterns port verbatim for the digit fields (\\b is
ASCII-word-bounded in both); the Cyrillic surname lookaheads also work
in Java regex. For byte-parity-critical paths the same rules run inside
the kernel oracle (kernel/fields.py); tests/test_field_validation.py
asserts agreement row for row on the pipeline's output.
"""

from __future__ import annotations

from pyspark.sql import Column

from ocr_service_spark.functions.textstats import sql_over

__all__ = ["FIELD_EXPRS", "SCANS", "candidates_sql", "valid_candidates_sql",
           "field_valid_sql", "critical_fields_sql", "important_data_sql",
           "validated_fields", "important_data"]

_DIGITS = r"length(regexp_replace(v, r'\D', ''))"

# field -> (java_regex, validity predicate as SQL over the candidate v)
FIELD_EXPRS: dict[str, tuple[str, str]] = {
    "ogrn": (r"\b\d{13,15}\b", f"{_DIGITS} IN (13, 15)"),
    "inn": (r"\b\d{10,12}\b", f"{_DIGITS} IN (10, 12)"),
    "kpp": (r"\b\d{9}\b", f"{_DIGITS} = 9"),
    "date": (r"\b\d{1,2}[./-]\d{1,2}[./-]\d{2,4}\b",
             r"v RLIKE r'^\d{1,2}[./-]\d{1,2}[./-]\d{2,4}'"),
    "snils": (r"\b\d{3}-\d{3}-\d{3}\s\d{2}\b|\b\d{11}\b", f"{_DIGITS} = 11"),
    "phone": (r"[+7]?\s*\(?\d{3}\)?\s*\d{3}[-.\s]?\d{2}[-.\s]?\d{2}", f"{_DIGITS} >= 10"),
    "email": (r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b",
              r"v RLIKE r'@[^@]*\.'"),
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


def _named_struct(fields: dict[str, str]) -> str:
    return "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in fields.items()) + ")"


def candidates_sql(text: str, names: list[str] | None = None) -> str:
    """Struct of the raw scans `names` (default: all of SCANS) over
    `text`, one array<string> per scan."""
    return _named_struct({n: f"regexp_extract_all({text}, r'{SCANS[n]}', 0)"
                          for n in names or SCANS})


def valid_candidates_sql(cands: str, names: list[str]) -> str:
    """Struct of each field's raw candidates in `cands` that pass the
    field's validity predicate."""
    return _named_struct({n: f"filter({cands}.{n}, v -> {FIELD_EXPRS[n][1]})" for n in names})


def field_valid_sql(valids: str, name: str) -> str:
    """Whether the field has a valid candidate."""
    return f"size({valids}.{name}) > 0"


def critical_fields_sql(cands: str, valids: str, names: list[str]) -> str:
    """critical_fields: a fixed struct of ValidationResult structs
    (reference core/validators.py:10-18 dataclass → fixed StructType;
    preferred over map, SURVEY.md §1.1: schema is static). Only the
    chosen value is whitespace-normalized: the normalization touches
    whitespace alone, which no validity check reads, so a candidate is
    valid before it exactly when after."""
    def result(n: str) -> str:
        raw, valid, has_valid = f"{cands}.{n}", f"{valids}.{n}", field_valid_sql(valids, n)
        return _named_struct({
            "field_name": f"'{n}'",
            "value": f"coalesce(trim(regexp_replace(coalesce(get({valid}, 0), get({raw}, 0)), "
                     r"r'\s+', ' ')), '')",
            "valid": has_valid,
            "confidence": f"CASE WHEN {has_valid} THEN 0.9D WHEN size({raw}) > 0 THEN 0.5D "
                          "ELSE 0.0D END",
        })
    return _named_struct({n: result(n) for n in names})


def important_data_sql(cands: str) -> str:
    """important_data (reference core/validators.py:213-250): list-valued
    extraction; surnames de-duped and ORDER-DETERMINISTIC (array_sort,
    then slice 10 — reference's set() order is not reproducible across
    runs, ours must be)."""
    merged = ", ".join(f"{cands}.surname{i}" for i in range(len(_SURNAME_PATTERNS)))
    stop = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return _named_struct({
        "inn": f"{cands}.inn",
        "snils": f"{cands}.snils",
        "surnames": f"slice(array_sort(filter(array_distinct(concat({merged})), "
                    f"s -> length(s) >= 3 AND NOT array_contains(array({stop}), lower(s)))), 1, 10)",
    })


def validated_fields(text: Column, fields: list[str] | None = None) -> Column:
    """critical_fields of `text`: each scan runs once per row."""
    names = fields or list(FIELD_EXPRS)
    return sql_over(critical_fields_sql("t.c", valid_candidates_sql("t.c", names), names),
                    c=sql_over(candidates_sql("t.text", names), text=text))


def important_data(text: Column) -> Column:
    """important_data of `text`: each surname, inn and snils scan is read
    once, so it runs once per row."""
    return sql_over(important_data_sql(candidates_sql("t.text")), text=text)
