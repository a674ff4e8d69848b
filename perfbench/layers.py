"""Traced run: time every layer from outside, through its module's public
call, and report the per-layer metrics.

Each layer pass gets its own trace id and a root span named after the
layer; spans come only from this file's calls into the program. The
end-to-end metrics never come from here: this run reports its traced
`pipeline.s` next to untraced passes of the same job, which gives the
tracing overhead.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Observation, functions as F, types as T

from ocr_service_spark.kernel.correct import correct_document
from ocr_service_spark.kernel.dispatch import extract_document
from ocr_service_spark.kernel.extract_html import classify_nodes, parse_nodes
from ocr_service_spark.kernel.extract_pdf import is_pdf
from ocr_service_spark.lineage import run_with_lineage, verify_lineage
from ocr_service_spark.operators.correct import DEFAULT_CORRECTIONS
from ocr_service_spark.operators.dedup import dedup_latest
from ocr_service_spark.operators.extract import make_extract_correct_udf
from ocr_service_spark.operators.quality import needs_review, overall_quality, text_quality
from ocr_service_spark.operators.validate import important_data, validated_fields
from ocr_service_spark.pipeline import process_documents
from ocr_service_spark.sources.warc import read_warc, warc_file_stats
from perfbench import inputs
from perfbench.harness import MIB, N_BUCKETS, build, lineage_fold, log, measure
from perfbench.spans import Tracer, self_times

__all__ = ["traced_run", "kernel_us_per_doc"]

TRACE_WARM_PASSES = 2  # fewer than a timed run: layer metrics carry no bound
PIPELINE_REPS = 2  # untraced and traced passes each
ONE_SLOT_REPS = 2  # checked passes in the one-slot session, after a warm one
KERNEL_SAMPLE = 200  # docs in the in-process kernel sample
HEAVY_KERNEL_SAMPLE = 50
KERNEL_REPS = 3  # loops over the kernel sample, per step


@F.pandas_udf(T.BinaryType())
def _identity(s: pd.Series) -> pd.Series:
    return s


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs) -> float:
    """Median, or NaN when no pass passed its check: the failed passes are
    already counted as failed operations."""
    xs = list(xs)
    return statistics.median(xs) if xs else math.nan


def kernel_us_per_doc(payloads: list[bytes]) -> dict[str, float]:
    """In-process, single-threaded kernel cost per doc over a fixed sample:
    the median over KERNEL_REPS loops of each step."""
    html = [p for p in payloads if not is_pdf(p)]
    nodes = [parse_nodes(p)[0] for p in html]
    texts = [t for t in (extract_document(p).text for p in payloads) if t is not None]
    steps = {
        "parse": (parse_nodes, html),
        "classify": (classify_nodes, nodes),
        "extract": (extract_document, payloads),
        "correct": (lambda t: correct_document(t, DEFAULT_CORRECTIONS), texts),
    }
    out = {}
    for name, (fn, items) in steps.items():
        walls = []
        for _ in range(KERNEL_REPS):
            t0 = time.perf_counter()
            for item in items:  # results are dropped, as the UDF drops them
                fn(item)
            walls.append(time.perf_counter() - t0)
        out[name] = statistics.median(walls) / len(items) * 1e6
    out["kib"] = sum(map(len, payloads)) / len(payloads) / 1024
    return out


class _Ladder:
    def __init__(self, run, tracer: Tracer) -> None:
        self.run, self.wl, self.tr = run, run.wl, tracer
        self.metrics: dict[str, tuple[float, str, int]] = {}

    def put(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.metrics[name] = (float(value), unit, n)

    def job(self, name: str, fn) -> dict:
        """One layer pass under its own trace id and root span."""
        self.tr.new_trace()
        with self.tr.span(name):
            timing, _ = measure(fn)
        log(f"{name:28s} {timing['wall_s']:7.3f}s cpu {timing['cpu_s']:6.2f}s")
        return timing

    def check(self, ok: bool, what: str) -> None:
        self.run.record("layer", {}, ok, what)

    def scan(self, spark) -> None:
        wl = self.wl
        if wl.source == "parquet":
            df = spark.read.parquet(wl.input)
        else:
            df = (spark.read.format("binaryFile").option("pathGlobFilter", "*.warc.gz")
                  .load(wl.input).select("path", "content"))
        t = self.job("scan", lambda: _noop(df))
        self.put("scan.s", t["wall_s"], "s")
        self.put("scan.mib_in", _dir_bytes(wl.input) / MIB, "MiB")

    def warc(self, spark) -> None:
        """read_warc over the workload's own archives; a parquet workload's
        documents are packed into archives first, one crawl each."""
        wl = self.wl
        path = wl.input
        if wl.source == "parquet":
            path = os.path.join(wl.work, "warc-layer")
            inputs.write_warc_input(wl.docs, path, len(os.listdir(wl.input)))
        t = self.job("warc.read_warc", lambda: _noop(read_warc(spark, path)))
        with self.tr.span("warc.warc_file_stats"):
            stats = warc_file_stats(spark, path).collect()
        records = sum(r.n_records for r in stats)
        skipped = sum(r.n_skipped for r in stats)
        self.check(skipped == 0 and records == len(wl.docs),
                   f"warc: {records} records, {skipped} skipped, want {len(wl.docs)}, 0")
        self.put("warc.read_s", t["wall_s"], "s")
        self.put("warc.records", records, "count")
        self.put("warc.skipped", skipped, "count")
        self.put("warc.cpu_s_per_1k", t["cpu_s"] / records * 1e3, "s")

    def dedup(self, spark):
        wl = self.wl
        obs = Observation()
        deduped = dedup_latest(wl.docs_df(spark, wl.input), key="url",
                               order_cols=("warc_ts", "doc_id"))
        t = self.job("dedup.dedup_latest",
                     lambda: _noop(deduped.observe(obs, F.count(F.lit(1)).alias("n"))))
        rows_out = obs.get["n"]
        self.check(rows_out == len({d.url for d in wl.docs}), f"dedup kept {rows_out} rows")
        self.put("dedup.s", t["wall_s"], "s")
        self.put("dedup.rows_in", wl.rows, "count")
        self.put("dedup.rows_out", rows_out, "count")
        self.put("dedup.keep_ratio", rows_out / wl.rows, "ratio")
        cached = deduped.persist(StorageLevel.MEMORY_AND_DISK)
        with self.tr.span("cache.deduped"):
            _noop(cached)
        return cached, rows_out

    def extract(self, cached, n: int):
        obs = Observation()
        x = cached.withColumn("x", make_extract_correct_udf()(F.col("html")))
        t = self.job("extract.make_extract_correct_udf", lambda: _noop(x.observe(
            obs, F.count_if(F.col("x.error").isNotNull()).alias("err"))))
        err = obs.get["err"]
        self.put("extract.udf_s", t["wall_s"], "s")
        self.put("extract.cpu_s_per_1k", t["cpu_s"] / n * 1e3, "s")
        self.put("extract.error_rows", err, "count")
        self.put("extract.ok_ratio", (n - err) / n, "ratio")
        corrected = x.filter(F.col("x.error").isNull()).select(
            "url", F.col("x.corrected_text").alias("txt"), F.col("x.spans").alias("spans"))
        corrected = corrected.persist(StorageLevel.MEMORY_AND_DISK)
        with self.tr.span("cache.corrected"):
            _noop(corrected)
        return corrected

    def arrow(self, cached) -> None:
        obs = Observation()
        t = self.job("arrow.identity_pandas_udf", lambda: _noop(
            cached.select(_identity("html").alias("h"))
            .observe(obs, F.sum(F.length("h")).alias("b"))))
        self.put("arrow.roundtrip_s", t["wall_s"], "s")
        self.put("arrow.mib", obs.get["b"] / MIB, "MiB")

    def quality_and_validate(self, corrected) -> None:
        txt = F.col("txt")
        conf = F.coalesce(F.aggregate("spans", F.lit(0.0), lambda a, s: a + s["confidence"])
                          / F.greatest(F.size("spans"), F.lit(1)), F.lit(0.0))
        q = corrected.select(text_quality(txt).alias("q"), conf.alias("conf"))
        q = q.select("q", overall_quality(F.col("q.alpha_ratio"), F.col("conf"),
                                          F.col("q.length_score")).alias("oq"))
        q = q.select("q", "oq", needs_review(F.col("oq"), F.lit(0)).alias("review"))
        self.put("quality.s", self.job("quality.text_quality", lambda: _noop(q))["wall_s"], "s")
        t = self.job("validate.validated_fields",
                     lambda: _noop(corrected.select(validated_fields(txt).alias("f"))))
        self.put("validate.fields_s", t["wall_s"], "s")
        t = self.job("validate.important_data",
                     lambda: _noop(corrected.select(important_data(txt).alias("d"))))
        self.put("validate.important_data_s", t["wall_s"], "s")

    def pipeline(self, spark) -> None:
        """Untraced and traced passes of the end-to-end job, alternating
        which goes first so a warm-up trend favours neither."""
        run, wl = self.run, self.wl
        untraced, traced = [], []
        for i in range(PIPELINE_REPS):
            for with_span in ((False, True) if i % 2 == 0 else (True, False)):
                if not with_span:
                    untraced.append(run.checked_pass(spark, wl.input, run.ref, "plain"))
                    continue
                self.tr.new_trace()
                with self.tr.span("pipeline.process_documents"):
                    traced.append(run.checked_pass(spark, wl.input, run.ref, "traced"))
        walls = [p["wall_s"] for p in traced if p["ok"]]
        plain = [p["wall_s"] for p in untraced if p["ok"]]
        cpu = [p["cpu_s"] for p in traced if p["ok"]]
        self.put("pipeline.s", _median(walls), "s", len(walls))
        self.put("pipeline.untraced_s", _median(plain), "s", len(plain))
        self.put("trace.overhead_pct", (_median(walls) / _median(plain) - 1) * 100, "%")
        self.put("pipeline.cpu_s_per_1k", _median(cpu) / wl.rows * 1e3, "s", len(cpu))
        self.put("pipeline.rows_out", run.ref[0], "count")
        passes = [p for p in untraced + traced if p["ok"]]
        self.put("host.load1", _median(p["load1_before"] for p in passes), "load",
                 len(passes))
        self.put("host.other_cpu_s", _median(p["other_cpu_s"] for p in passes), "s",
                 len(passes))

    def lineage(self, spark) -> None:
        wl = self.wl
        out = os.path.join(wl.work, "lineage-layer")
        self.tr.new_trace()
        with self.tr.span("lineage"):
            result = process_documents(wl.docs_df(spark, wl.input))
            with self.tr.span("lineage.run_with_lineage") as commit:
                committed = run_with_lineage(spark, result, out, n_buckets=N_BUCKETS)
            with self.tr.span("lineage.verify_lineage") as verify:
                rows = verify_lineage(spark, out).collect()
        got, bad = lineage_fold(rows)
        self.check(bad == 0 and got == self.run.ref, f"lineage: {got}, {bad} bad buckets")
        self.put("lineage.commit_s", commit["end"] - commit["start"], "s")
        self.put("lineage.buckets", len(committed), "count")
        self.put("lineage.mib_written", _dir_bytes(os.path.join(out, "data")) / MIB, "MiB")
        self.put("lineage.verify_s", verify["end"] - verify["start"], "s")
        self.put("lineage.bad_buckets", bad, "count")
        shutil.rmtree(out, ignore_errors=True)

    def kernel(self) -> None:
        sample = self.wl.docs[:KERNEL_SAMPLE]
        heavy_sample = sample[:HEAVY_KERNEL_SAMPLE]
        with self.tr.span("kernel"):
            k = kernel_us_per_doc([d.html for d in sample])
            heavy = kernel_us_per_doc(
                [inputs.heavy_html(d.html, d.doc_id, self.wl.seed) for d in heavy_sample])
        for step in ("parse", "classify", "extract", "correct"):
            self.put(f"kernel.{step}_us_per_doc", k[step], "us", len(sample))
        self.put("kernel.kib_per_doc", k["kib"], "KiB", len(sample))
        # the heavy-page profile: the same docs wrapped in tens of KB of
        # boilerplate (perfbench.inputs.heavy_html), same expected text
        for step in ("parse", "extract"):
            self.put(f"kernel.heavy_{step}_us_per_doc", heavy[step], "us", len(heavy_sample))
        self.put("kernel.heavy_kib_per_doc", heavy["kib"], "KiB", len(heavy_sample))

    def one_slot(self, spark) -> None:
        """The same end-to-end job in a session with one task slot: one
        untimed pass over the set-up slice starts its Python workers and
        codegen, then the median of ONE_SLOT_REPS checked passes."""
        run, wl = self.run, self.wl
        spark.stop()
        spark1 = build(run.settings, cores=1)
        run.checked_pass(spark1, wl.slice, run.slice_ref, "1warm")
        walls = []
        for _ in range(ONE_SLOT_REPS):
            self.tr.new_trace()
            with self.tr.span("pipeline.one_slot"):
                rec = run.checked_pass(spark1, wl.input, run.ref, "1slot")
            if rec["ok"]:
                walls.append(rec["wall_s"])
        spark1.stop()
        self.put("pipeline.s_1slot", _median(walls), "s", len(walls))


def traced_run(run) -> dict[str, tuple[float, str]]:
    tr = Tracer()
    lad = _Ladder(run, tr)
    tr.new_trace()
    with tr.span("setup"):
        spark, t_session, _ = run.setup(tr)
    lad.put("session.start_s", t_session, "s")
    run.warm(spark, TRACE_WARM_PASSES)
    lad.pipeline(spark)
    lad.scan(spark)
    lad.warc(spark)
    cached, n = lad.dedup(spark)
    corrected = lad.extract(cached, n)
    lad.arrow(cached)
    lad.quality_and_validate(corrected)
    corrected.unpersist()
    cached.unpersist()
    lad.lineage(spark)
    lad.kernel()
    lad.one_slot(spark)

    spans_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".out",
                              f"{run.args.workload}-seed{run.args.seed}-spans.json")
    tr.write(spans_path)
    selfs = self_times(tr.spans)
    print(f"{'span':36s} {'total_s':>9s} {'self_s':>9s}")
    for s in sorted(tr.spans, key=lambda s: s["id"]):
        print(f"{s['name']:36s} {s['end'] - s['start']:9.3f} {selfs[s['id']]:9.3f}")
    print(f"{'metric':36s} {'value':>14s} unit   n")
    for name, (v, unit, n) in lad.metrics.items():
        print(f"{name:36s} {v:14.4f} {unit:6s} {n}")
    return {name: (v, unit) for name, (v, unit, _) in lad.metrics.items()}
