"""Quality scoring + review predicates as Spark SQL text (F17/P2-P4 of
SURVEY.md §2) — whole-stage-codegen friendly, no UDF.

Graft mapping of the reference's image-quality metrics
(services/quality_check.py:17-91) onto text-quality statistics:
  sharpness   → alpha ratio (letters / chars)
  contrast    → mean span confidence (extraction confidence)
  brightness  → length adequacy (chars vs a 200-char target)
Weighted mix 0.3/0.5/0.2 with clamp to [0,1] replicates
services/quality_check.py:193-199; the review predicate
(overall < 0.7 OR issues present) replicates quality_check.py:222 and
processor.py:373-374.

Each score is a SQL fragment of the SQL of its inputs, so
`process_documents` writes it over its projected column names and the
Column API (`text_quality`, `overall_quality`, `needs_review`) binds its
Column arguments into the same text. Doubles are written 0.0D: a bare
0.0 is a DECIMAL literal in Spark SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_service_spark.functions.textstats import sql_over, tokens
from ocr_service_spark.operators.pystage import batch_map

__all__ = ["quality_stats", "overall_quality_sql", "span_confidence_sql", "needs_review_sql",
           "text_quality", "overall_quality", "needs_review", "compression_ratio"]


def _stats_fields(text: str) -> str:
    """named_struct arguments: alpha_ratio, length_score and n_chars."""
    return (f"'alpha_ratio', CASE WHEN length({text}) > 0 THEN "
            rf"length(regexp_replace({text}, r'[^\p{{L}}]', '')) / length({text}) ELSE 0.0D END, "
            f"'length_score', least(1.0D, length({text}) / 200.0D), 'n_chars', length({text})")


def quality_stats(text: str) -> Column:
    """struct(alpha_ratio, length_score, n_chars, n_tokens) of the column
    named `text` — integer counts ratioed once, deterministic. n_tokens
    shares the tier-wide tokenizer (textstats.tokens: F6-normalized,
    empty -> 0), so quality stats and the dedup/filter tier can never
    disagree on a count."""
    return F.expr(f"named_struct({_stats_fields(text)})").withField(
        "n_tokens", F.size(tokens(F.col(text))))


def overall_quality_sql(alpha_ratio: str, extraction_conf: str, length_score: str) -> str:
    """0.3*structure + 0.5*extraction + 0.2*length, clamped
    (reference services/quality_check.py:193-199 weights)."""
    return (f"greatest(0.0D, least(1.0D, round({alpha_ratio} * 0.3D + {extraction_conf} * 0.5D"
            f" + {length_score} * 0.2D, 4)))")


def span_confidence_sql(spans: str) -> str:
    """Mean span confidence to 4 places, 0.0 without spans."""
    return (f"coalesce(round(aggregate({spans}, 0.0D, (acc, s) -> acc + s.confidence)"
            f" / greatest(size({spans}), 1), 4), 0.0D)")


def needs_review_sql(quality: str, valid_flags: list[str], n_issues: str | None = None) -> str:
    """P3 (quality_check.py:222): quality under 0.7 or issues present,
    OR'd with P2's any-invalid-field (processor.py:373-374) over the
    fields' validity flags."""
    terms = [f"{quality} < 0.7D"]
    if n_issues is not None:
        terms.append(f"{n_issues} > 0")
    if valid_flags:
        terms.append(f"exists(array({', '.join(valid_flags)}), v -> NOT v)")
    return " OR ".join(terms)


def text_quality(text: Column) -> Column:
    """quality_stats of a Column."""
    return sql_over(f"named_struct({_stats_fields('t.text')}, 'n_tokens', t.n_tokens)",
                    text=text, n_tokens=F.size(tokens(text)))


def overall_quality(alpha_ratio: Column, extraction_conf: Column,
                    length_score: Column) -> Column:
    """overall_quality_sql of Columns."""
    return sql_over(overall_quality_sql("t.a", "t.c", "t.l"),
                    a=alpha_ratio, c=extraction_conf, l=length_score)


def needs_review(quality: Column, n_issues: Column,
                 fields: Column | None = None,
                 field_names: list[str] | None = None) -> Column:
    """needs_review_sql of Columns; the any-invalid-field term reads
    `fields[name].valid` when a fields struct and its names are given."""
    cols = {"q": quality, "i": n_issues}
    if fields is not None and field_names:
        cols["fields"] = fields
    flags = [f"t.fields.{n}.valid" for n in field_names] if "fields" in cols else []
    return sql_over(needs_review_sql("t.q", flags, "t.i"), **cols)


def compression_ratio(text: Column) -> Column:
    """Deflate-compressibility quality signal (CCNet/RefinedWeb-style):
    highly repetitive boilerplate compresses far below natural prose,
    so `compressed_bytes / utf8_bytes` separates template spam from
    content. zlib level 6 on UTF-8 bytes; NULL for empty/NULL text.
    One batch_map stage (no SQL twin exists for deflate — the driver
    records this query rows-only; tests pin exact values against direct
    zlib). Scale: pure map, no state, ~100
    MB/s/core — at 10^12 docs it rides the same Arrow stage as
    extraction."""
    import zlib

    def ratios(texts: list) -> list[float | None]:
        encoded = (t.encode("utf-8") if t else b"" for t in texts)
        return [len(zlib.compress(b, 6)) / len(b) if b else None for b in encoded]

    return batch_map(lambda: ratios, T.DoubleType())(text)
