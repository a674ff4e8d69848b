"""The scaling job in its spark-submit form, the north rule's deployment
contract: `spark-submit --py-files ocr_service_spark.zip
tools/scaling_job.py`, which `python bench.py --scaling` runs at two
widths.

The package is imported FROM THE ZIP shipped via --py-files (this
script never adds the repo checkout to sys.path), so the job is
cluster-deployable: the same command line with `--master yarn/k8s` and
the same zip runs unchanged. The width is the session's task slots
($SPARK_GRAFT_CPUS). The corpus, DOCS synthetic pages, is written once
to $SPARK_GRAFT_BENCH_CORPUS (default `.bench/corpus_<DOCS>.parquet`).
After one untimed warm pass, REPS timed passes write every column of
`process_documents` to the `noop` sink. Prints one JSON line: the
slots, the corpus doc count and each pass's wall seconds and CPU
seconds of the whole session tree (driver, JVM, Python workers).
"""

from __future__ import annotations

import json
import os
import time

# the scaling protocol, read by bench.py --scaling too
DOCS = 40_000  # synthetic ~3 KB pages in the corpus
REPS = 3  # timed passes per child, after one untimed warm pass
ROUNDS = 2  # interleaved small/big children per `bench.py --scaling`


def main() -> None:
    # NOTE: imports resolve from the --py-files zip (spark-submit puts
    # it on sys.path before this script runs). No repo-path insert.
    from ocr_service_spark.bench_probe import materialize, session_tree_cpu_seconds
    from ocr_service_spark.corpus import ensure_bench_corpus
    from ocr_service_spark.pipeline import process_documents
    from ocr_service_spark.session import build_session

    corpus_path = os.environ.get(
        "SPARK_GRAFT_BENCH_CORPUS",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".bench", f"corpus_{DOCS}.parquet"))
    spark = build_session("scaling_job")
    ensure_bench_corpus(spark, corpus_path, DOCS)
    docs = spark.read.parquet(corpus_path)
    materialize(process_documents(docs))
    runs = []
    for _ in range(REPS):
        cpu0, t0 = session_tree_cpu_seconds(), time.perf_counter()
        materialize(process_documents(docs))
        runs.append({"sec": round(time.perf_counter() - t0, 3),
                     "cpu_s": round(session_tree_cpu_seconds() - cpu0, 2)})
    print(json.dumps({"slots": spark.sparkContext.defaultParallelism,
                      "docs": docs.count(), "runs": runs}))
    spark.stop()


if __name__ == "__main__":
    main()
