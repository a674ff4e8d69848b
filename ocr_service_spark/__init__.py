"""ocr_service_spark — a from-scratch, PySpark-native main-content
extraction engine with the query/data-processing capabilities of the
reference `adel-safin/ocr-service` (see SURVEY.md), re-expressed
Spark-first over Common-Crawl-style web-page tables.

Layout
------
kernel/     pure-Python, dependency-free extraction kernels. These are
            the pytest oracles; the Spark Arrow UDFs wrap the *same*
            functions so byte-identity is by construction (mirrors the
            reference's kernel/pipeline split: core/ocr_engine.py vs
            core/processor.py).
operators/  Spark DataFrame operator library: extraction UDF stage,
            validators as column expressions, corrections joins, dedup
            (exact + MinHash/SimHash/embedding), text stats, similarity
            search, feedback/active-learning aggregations, lineage.
streaming/  Structured Streaming feedback loop (foreachBatch + merge).
corpus.py   deterministic, distributed synthetic Common-Crawl-style
            corpus generator (no external data; seeded by doc_id).
pipeline.py end-to-end extraction pipeline (the flagship query).
session.py  SparkSession builder tuned for the sandbox (local[N]).

Importing the package gates zipimport's directory re-read on archive
change (`_zipimport.py`): before CPython 3.13 (python/cpython gh-103200)
the `importlib.invalidate_caches()` call at the start of every PySpark
task re-parses every zip on the path, ~0.2 CPU-s per task, and every
worker imports this package when it unpickles one of its UDFs.
"""

from ocr_service_spark import _zipimport

_zipimport.install()

__version__ = "0.1.0"
