"""The scaling-bench job in its spark-submit form — the north rule's
two-cluster contract: `spark-submit --py-files ocr_service_spark.zip
tools/scaling_job.py` at N and 4N parallelism.

The package is imported FROM THE ZIP shipped via --py-files (this
script never adds the repo checkout to sys.path), proving the job is
cluster-deployable: on a real cluster the same command line with
`--master yarn/k8s` and the same zip runs unchanged. Configuration via
env (same knobs as bench.py --scaling-child): SPARK_GRAFT_CPUS,
SPARK_GRAFT_BENCH_DOCS, SPARK_GRAFT_BENCH_CORPUS, SPARK_GRAFT_UI_PORT,
SPARK_GRAFT_CHILD_REPS. Prints one JSON line (same schema as
--scaling-child).
"""

from __future__ import annotations

import json
import os
import time


def main() -> None:
    # NOTE: imports resolve from the --py-files zip (spark-submit puts
    # it on sys.path before this script runs). No repo-path insert.
    from ocr_service_spark.bench_probe import (
        host_cpu_seconds,
        loadavg1,
        materialize,
        session_tree_cpu_seconds,
        stage_metrics,
        wait_for_quiet,
    )
    from ocr_service_spark.pipeline import process_documents
    from ocr_service_spark.session import build_session

    n_corpus = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "240000"))
    reps = int(os.environ.get("SPARK_GRAFT_CHILD_REPS", "2"))
    ui_port = int(os.environ.get("SPARK_GRAFT_UI_PORT", "4048"))
    corpus_path = os.environ.get(
        "SPARK_GRAFT_BENCH_CORPUS",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".bench", f"corpus_{n_corpus}.parquet"))

    spark = build_session(
        "scaling_job",
        extra_conf={"spark.ui.enabled": "true",
                    "spark.ui.port": str(ui_port)})
    cores = spark.sparkContext.defaultParallelism
    from ocr_service_spark.corpus import ensure_bench_corpus
    ensure_bench_corpus(spark, corpus_path, n_corpus)
    docs = spark.read.parquet(corpus_path)
    docs.count()  # warm JVM + page cache

    runs = []
    seen: set[int] = set()
    for _ in range(reps):
        waited = wait_for_quiet()
        load0 = loadavg1()
        cpu0, host0 = session_tree_cpu_seconds(), host_cpu_seconds()
        t0 = time.time()
        materialize(process_documents(docs))
        wall = time.time() - t0
        ours = round(session_tree_cpu_seconds() - cpu0, 1)
        host = round(host_cpu_seconds() - host0, 1)
        stages, seen = stage_metrics(spark, ui_port, seen)
        runs.append({
            "sec": round(wall, 3),
            "load_before": load0,
            "load_after": loadavg1(),
            "gate_wait_s": waited,
            "ours_cpu_s": ours,
            "host_cpu_s": host,
            "host_minus_ours_cpu_s": round(host - ours, 1),
            "stages": stages,
        })
    best = min(runs, key=lambda r: r["sec"])
    print(json.dumps({"corpus_docs_per_sec": round(n_corpus / best["sec"], 1),
                      "cores": cores, "sec": best["sec"],
                      "submit": True, "best": best, "runs": runs}))
    spark.stop()


if __name__ == "__main__":
    main()
