"""Dump physical plans for the headline queries into PLANS.md with a
hygiene summary per query: parquet pushed filters, whole-stage codegen
coverage, Python-eval node kinds (Arrow only — BatchEvalPython and
MapInPandas are hot-path bugs), shuffle (Exchange) count.

Usage: python tools/dump_plans.py [--sf DIR]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SHOW = [
    "extract_roundtrip",
    "recrawl_dedup",
    "batch_summary",
    "correction_join",
    "minhash_signatures",
    "embedding_topk",
    "jaccard_pairs",
    "chunk_dedup",
    "pii_scrub",
    "pdf_extract",
    "url_filter",
    "decontaminate",
    "corpus_build",
    "incremental_dedup",
    "host_stats",
    "tfidf_keywords",
    "boilerplate_strip",
    "unigram_logprob",
    "sequence_pack",
    "source_mix",
    "host_cap",
    "link_graph",
    "host_pagerank",
    "incremental_pagerank",
    "token_entropy",
    "kmv_distinct",
    "gopher_rules",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from ocr_service_spark.queries import QUERIES
    from ocr_service_spark.session import build_session

    spark = build_session("plans")
    out = ["# PLANS — physical-plan hygiene for headline queries",
           "",
           "Generated by `tools/dump_plans.py` (sf0.01). Checks per query:",
           "pushed parquet filters, WholeStageCodegen spans, Python eval",
           "nodes (must be Arrow), Exchange (shuffle) count.", ""]
    for name in SHOW:
        df = QUERIES[name](spark, args.sf)
        df.count()  # let AQE finalize so codegen/exchange counts are real
        plan = df._jdf.queryExecution().executedPlan().toString()
        pushed = sorted(set(re.findall(r"PushedFilters: \[([^\]]*)\]", plan)))
        pushed = [p for p in pushed if p.strip()]
        n_codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
        n_shuffle = len(re.findall(r"Exchange (?:hash|range|Single|rebalance)", plan))
        n_bcast = plan.count("BroadcastExchange")
        arrow = plan.count("ArrowEvalPython") + plan.count("MapInArrow")
        batchpy = plan.count("BatchEvalPython")
        pandas = plan.count("MapInPandas")
        out.append(f"## {name}")
        out.append("")
        out.append(f"- WholeStageCodegen spans: {n_codegen}; shuffle Exchanges: {n_shuffle}; "
                   f"broadcasts: {n_bcast}; Arrow Python nodes: {arrow}; "
                   f"per-row Python nodes: {batchpy}" + (" ❌" if batchpy else "")
                   + (f"; pandas map nodes: {pandas} ❌" if pandas else ""))
        if pushed:
            out.append(f"- PushedFilters: {'; '.join(pushed[:4])}")
        scan_schemas = sorted(set(re.findall(r"ReadSchema: (struct<[^>]{0,120})", plan)))
        for s in scan_schemas[:4]:
            out.append(f"- ReadSchema: `{s}...`")
        out.append("")
    text = "\n".join(out) + "\n"
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(text)
    print(text[:1500])
    spark.stop()


if __name__ == "__main__":
    main()
