"""Benchmark emitter; the last stdout line is one compact JSON object.

    python bench.py              # headline, data at $SPARK_GRAFT_SF_DIR
    python bench.py --scaling    # scaling efficiency via spark-submit

Headline: `extract_corpus` and `extract_docs_per_sec` come from
perfbench's checked `crawl_extract` run, a subprocess run before this
process starts a JVM. The flagship (documents rendered into pages,
through `process_documents` into the `noop` sink) and the HEADLINE
registry queries share one build_session() session: each gets one
untimed warm run, then the median of TIMED_RUNS timed runs.

Scaling: tools/scaling_job.py through `spark-submit --py-files <package
zip>` (the north rule's deployment contract) at big = build_session's
default task slots and small = max(1, big // 4), ROUNDS interleaved
rounds; efficiency is the median-pass speedup over the slot ratio.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "recrawl_dedup", "minhash_signatures", "simhash", "embedding_topk",
    "extract_roundtrip", "jaccard_pairs", "chunk_dedup", "embedding_ivf_ann",
    "token_entropy", "ngram_repetition", "corpus_build", "host_cap",
    "link_graph", "host_pagerank", "incremental_pagerank",
]
# The 16-query set BENCH_r03 recorded, a round-over-round subtotal; 12
# remain in the registry: the two extraction figures and HEADLINE[1:11].
OVERLAP16 = ["extract_flagship", "extract_corpus", *HEADLINE[1:11]]
TIMED_RUNS = 3
CRAWL_DOCS = 3000  # perfbench's crawl_extract input, docs per pass
PERFBENCH = [sys.executable, os.path.join(REPO, "perfbench", "run.py"),
             "--workload", "crawl_extract", "--seed", "1", "--seconds", "10", "--trace", "0"]


def scale_factor(sf_dir: str) -> float:
    """The X of an `sfX` data directory."""
    name = os.path.basename(sf_dir.rstrip("/"))
    if not re.fullmatch(r"sf\d+(\.\d+)?", name):
        raise ValueError(f"SPARK_GRAFT_SF_DIR must name an sfX directory, got {sf_dir!r}")
    return float(name[2:])


def parse_perfbench(stdout: str) -> float:
    """docs/s from perfbench's final line; raises unless every pass was
    checked correct."""
    last = json.loads(stdout.strip().splitlines()[-1])
    if not last["correct"]:
        raise RuntimeError(f"perfbench crawl_extract failed its output check: {last}")
    return last["metrics"]["docs_per_s"]["value"]


def run_headline(sf_dir: str, extract_docs_per_sec: float) -> dict:
    from ocr_service_spark.bench_probe import materialize
    from ocr_service_spark.entry_pipeline import htmlified_documents
    from ocr_service_spark.pipeline import process_documents
    from ocr_service_spark.queries import QUERIES
    from ocr_service_spark.session import build_session

    spark = build_session("bench")
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()  # JVM warm-up

    def median_s(fn) -> tuple[float, int]:
        n = fn()  # untimed: first runs pay one-off caching and codegen
        secs = []
        for _ in range(TIMED_RUNS):
            t0 = time.perf_counter()
            fn()
            secs.append(time.perf_counter() - t0)
        return statistics.median(secs), n

    flagship_s, n_docs = median_s(
        lambda: materialize(process_documents(htmlified_documents(spark, sf_dir))))
    queries = {"extract_flagship": round(flagship_s, 3),
               "extract_corpus": round(CRAWL_DOCS / extract_docs_per_sec, 3)}
    for name in HEADLINE:
        queries[name] = round(median_s(lambda: QUERIES[name](spark, sf_dir).count())[0], 3)
    r = {"queries": queries, "cores": spark.sparkContext.defaultParallelism,
         "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
         "extract_docs_per_sec": round(extract_docs_per_sec, 1),
         "flagship_docs_per_sec": round(n_docs / flagship_s, 1)}
    spark.stop()
    return r


def headline_line(r: dict, sf: float) -> str:
    """The last stdout line of a headline run: one compact JSON object
    from run_headline's result `r`."""
    q = r["queries"]
    return json.dumps({"metric": "headline_total", "value": round(sum(q.values()), 3),
                       "unit": "sec", **r, "sf": sf,
                       "overlap16_total": round(sum(q.get(k, 0.0) for k in OVERLAP16), 3)})


def scaling() -> dict:
    from ocr_service_spark.session import _driver_memory, default_cores

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_pyfiles import build
    from scaling_job import ROUNDS

    big = default_cores()
    small = max(1, big // 4)
    zip_path = build(os.path.join(REPO, ".bench", "ocr_service_spark.zip"))
    runs = {small: [], big: []}
    for _ in range(ROUNDS):
        for c in (small, big):
            # --driver-memory rides the command line: the JVM exists before
            # build_session runs, so the builder's spark.driver.memory is ignored.
            cmd = ["spark-submit", "--master", f"local[{c}]", "--driver-memory",
                   os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory(),
                   "--py-files", zip_path, os.path.join(REPO, "tools", "scaling_job.py")]
            # a session of its own: the child's CPU count is its tree alone
            out = subprocess.run(cmd, env=dict(os.environ, SPARK_GRAFT_CPUS=str(c)), text=True,
                                 stdout=subprocess.PIPE, check=True, start_new_session=True)
            child = json.loads(out.stdout.strip().splitlines()[-1])
            docs = child["docs"]
            runs[c] += child["runs"]
    med = {c: {k: statistics.median(r[k] for r in rs) for k in ("sec", "cpu_s")}
           for c, rs in runs.items()}
    return {"metric": f"scaling_efficiency_{small}_to_{big}_slots", "unit": "ratio",
            "value": round(med[small]["sec"] / med[big]["sec"] / (big / small), 3), "docs": docs,
            "docs_per_sec": {c: round(docs / m["sec"], 1) for c, m in med.items()},
            "cpu_s_per_1k_docs": {c: round(m["cpu_s"] / docs * 1e3, 3) for c, m in med.items()},
            "runs": runs}


def main() -> None:
    if "--scaling" in sys.argv:
        print(json.dumps(scaling()))
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = scale_factor(sf_dir)
    out = subprocess.run(PERFBENCH, stdout=subprocess.PIPE, text=True, check=True)
    print(headline_line(run_headline(sf_dir, parse_perfbench(out.stdout)), sf))


if __name__ == "__main__":
    main()
