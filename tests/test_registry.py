"""The query registry's shape, and the queries that re-express
reference operators over extraction output checked against their
DuckDB oracles with the same comparer as tools/check_correctness.py.

The driver checks the first 50 entries of ``__spark_entry__.queries()``,
so a registry of at most 50 is proven whole every round.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

import __spark_entry__
from ocr_service_spark.queries import ORACLE_SQL, QUERIES

ROOT = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"


def _check_correctness():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", ROOT / "tools" / "check_correctness.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_registry_fits_driver_window():
    assert len(QUERIES) <= 50, len(QUERIES)


def test_entry_queries_is_registry_in_order():
    qs = __spark_entry__.queries()
    assert qs is QUERIES
    assert list(qs) == list(QUERIES)


def test_every_query_has_an_oracle_except_rows_only():
    # compression_quality is rows-only by design: no SQL engine has deflate
    rows_only = {"compression_quality"}
    assert set(__spark_entry__.oracle_sql()) == set(QUERIES) - rows_only
    assert set(ORACLE_SQL) == set(QUERIES) - rows_only


# the reference operators re-expressed over extraction output, the
# near-dup, similarity, corpus and link-graph tiers whose Spark side and
# oracle share one helper per job, and the extraction-path queries whose
# oracles build the documents' url
ORACLE_CHECKED = [
    "recrawl_dedup", "batch_summary", "streaming_feedback",
    "minhash_signatures", "minhash_lsh_pairs", "dup_clusters",
    "corpus_build", "incremental_dedup", "train_split",
    "embedding_topk", "embedding_lsh_ann", "embedding_ivf_ann",
    "embedding_ann_recall", "chunk_dedup", "boilerplate_strip",
    "host_stats", "host_cap", "link_graph", "host_pagerank",
    "incremental_pagerank", "area_reextract", "warc_extract",
    "lineage_restart", "lineage_timetravel",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_reexpressed_query_equals_its_oracle(spark, name):
    cc = _check_correctness()
    ok, msg = cc.compare(spark, cc.duckdb_views(SF), SF, name,
                         QUERIES[name], ORACLE_SQL[name])
    assert ok, msg
