"""ensure_bench_corpus: the _SUCCESS-gated bench-corpus materializer.

Regression for the round-5 field failure: a scaling child killed
mid-corpus-write left the parquet dir holding only `_temporary`; the
old bare os.path.exists gate then skipped regeneration forever and
every later spark-submit child died with UNABLE_TO_INFER_SCHEMA.
"""

import os
import shutil

from ocr_service_spark.corpus import ensure_bench_corpus


def _read_count(spark, path):
    return spark.read.parquet(path).count()


def test_fresh_write_completes_and_reads(spark, tmp_path):
    path = str(tmp_path / "corpus.parquet")
    ensure_bench_corpus(spark, path, 30, partitions=4)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert _read_count(spark, path) == 30


def test_complete_dir_is_not_rewritten(spark, tmp_path):
    path = str(tmp_path / "corpus.parquet")
    ensure_bench_corpus(spark, path, 30, partitions=4)
    mtimes = {f: os.path.getmtime(os.path.join(path, f))
              for f in os.listdir(path)}
    ensure_bench_corpus(spark, path, 30, partitions=4)
    assert {f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)} == mtimes


def test_torn_dir_regenerates(spark, tmp_path):
    path = str(tmp_path / "corpus.parquet")
    ensure_bench_corpus(spark, path, 30, partitions=4)
    # Simulate a kill mid-write: no _SUCCESS, only committer scratch.
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    os.makedirs(os.path.join(path, "_temporary", "0"))
    ensure_bench_corpus(spark, path, 30, partitions=4)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert _read_count(spark, path) == 30


def test_missing_dir_regenerates(spark, tmp_path):
    path = str(tmp_path / "corpus.parquet")
    ensure_bench_corpus(spark, path, 30, partitions=4)
    shutil.rmtree(path)
    ensure_bench_corpus(spark, path, 30, partitions=4)
    assert _read_count(spark, path) == 30


def test_complete_dir_of_another_size_regenerates(spark, tmp_path):
    # a complete corpus written for another doc count must not be
    # reused: every docs/s figure divides by n_docs
    path = str(tmp_path / "corpus.parquet")
    ensure_bench_corpus(spark, path, 30, partitions=4)
    ensure_bench_corpus(spark, path, 45, partitions=4)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert _read_count(spark, path) == 45
