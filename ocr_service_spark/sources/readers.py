"""Source readers (SURVEY.md §2.1 S1-S8).

The reference reads documents one file at a time with extension
dispatch (load_image, core/ocr_engine.py:84-119) and directory globs
(scripts/process_certificates_all_phases.py:40). Spark-native
equivalents:

- S1/S5: `read_binary_pages` — `binaryFile` scan with pathGlobFilter;
  each file row becomes an input-shape document row
  (url=file path, html=content, warc_ts=modificationTime). Format
  dispatch happens downstream on payload magic (kernel/dispatch.py),
  not on extension — content sniffing beats extensions at 10^12 docs.
- S6: `read_corrections` — small JSON dim table (original, corrected),
  seeded with the reference defaults when the path is absent
  (core/correctors.py:30-58), meant to be broadcast.
- S8: `read_goldens` — golden-reference texts for evaluation joins
  (utils/dataset_loader.py:104-152): one file per document
  (.txt/.docx/.xlsx, same format set the reference loads with
  python-docx / pandas.read_excel; here pure-stdlib zip+XML parsers in
  sources/office.py run inside an Arrow batch), keyed by normalized
  base name (F21 prefix strip).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ocr_service_spark.operators.correct import DEFAULT_CORRECTIONS
from ocr_service_spark.operators.pystage import batch_map

__all__ = ["read_binary_pages", "read_corrections", "read_goldens"]


def read_binary_pages(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Directory of raw page files → the authoritative input shape
    documents(url, warc_ts, html, text, lang)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    return raw.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def read_corrections(spark: SparkSession, path: str | None = None) -> DataFrame:
    """Corrections dimension (original, corrected); falls back to the
    reference's seeded defaults. Callers broadcast it (J1/J2)."""
    if path is not None:
        try:
            df = spark.read.json(path)
            if {"original", "corrected"} <= set(df.columns):
                return df.select("original", "corrected")
        except Exception:
            pass
    return spark.createDataFrame(
        list(DEFAULT_CORRECTIONS.items()), "original string, corrected string")


def _golden_text(files: list[dict]) -> list[str]:
    """Extension-dispatched golden decode of binaryFile (path, content)
    rows, one Arrow batch at a time (the reference's load_reference_text,
    utils/dataset_loader.py:104-152): txt → utf-8, docx/doc → paragraph
    join, xlsx → per-sheet grid; anything unreadable → '' (reference
    logs-and-returns-'')."""
    from ocr_service_spark.sources.office import docx_text, xlsx_text

    out = []
    for f in files:
        p, b = f["path"], f["content"]
        ext = p.rsplit(".", 1)[-1].lower() if "." in p else ""
        if ext == "txt":
            try:
                out.append(b.decode("utf-8"))
            except UnicodeDecodeError:
                out.append("")
        elif ext in ("docx", "doc"):
            out.append(docx_text(b))
        elif ext == "xlsx":
            out.append(xlsx_text(b))
        else:
            out.append("")
    return out


def read_goldens(spark: SparkSession, path: str,
                 glob: str = "*.{txt,doc,docx,xlsx}") -> DataFrame:
    """Golden texts keyed by normalized base name: strip directory,
    extension, and any leading '<number> ' token (F21,
    utils/dataset_loader.py:88-102). Join to extraction output on the
    same key for evaluation (J3 pairing). Format dispatch is on
    extension — goldens are curated eval fixtures, exactly the case
    where extensions are trustworthy (unlike the crawl payload path,
    which sniffs magic)."""
    raw = (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    )
    golden_udf = batch_map(lambda: _golden_text, T.StringType())
    stem = F.regexp_replace(
        F.element_at(F.split(F.col("path"), "/"), -1), r"\.[^.]*$", "")
    return raw.select(
        F.regexp_replace(stem, r"^\d+\s+", "").alias("base_name"),
        golden_udf(F.struct("path", "content")).alias("expected_text"),
    )
