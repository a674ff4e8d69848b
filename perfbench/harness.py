"""One benchmark run, inside the session that perfbench/run.py started:
generate the seeded input, set up, warm, then either the timed passes
(end-to-end metrics) or the traced layer ladder (per-layer metrics).

Every pass of the pipeline is checked against the generator's reference
and counted; a pass that fails its check or raises is a failed
operation. No pass is retried, none is dropped for host load, and
results are medians over all timed passes.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

import pandas as pd
from pyspark.sql import Observation, functions as F

from ocr_service_spark.bench_probe import (host_cpu_seconds, loadavg1,
                                           session_tree_cpu_seconds)
from ocr_service_spark.lineage import run_with_lineage, verify_lineage
from ocr_service_spark.pipeline import process_documents
from ocr_service_spark.session import build_session
from ocr_service_spark.sources.warc import read_warc, warc_file_stats
from perfbench import inputs
from perfbench.run import HERE, ROOT, WARM_PASSES, WORKLOADS, session_pids

SLICE_DOCS = 200  # the cold set-up pass runs over this fixed prefix
MIN_TIMED_PASSES = 3
FILES_PER_SLOT = 4  # input files per task slot, so every slot stays busy
N_BUCKETS = 16  # lineage buckets per commit
RSS_INTERVAL_S = 0.2  # between samples of the session tree's RSS
MIB = 2 ** 20
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:6.1f}s] perfbench: {msg}", file=sys.stderr, flush=True)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def measure(fn) -> tuple[dict, object]:
    """Wall time, CPU of this session's processes, the rest of the
    host's CPU, and load1 before and after, around one call."""
    l0, h0, c0 = loadavg1(), host_cpu_seconds(), session_tree_cpu_seconds()
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    cpu = session_tree_cpu_seconds() - c0
    host = host_cpu_seconds() - h0
    return ({"wall_s": wall, "cpu_s": cpu, "other_cpu_s": host - cpu,
             "load1_before": l0, "load1_after": loadavg1()}, out)


class RssSampler:
    """Highest summed RSS of this session's processes, sampled on a
    background thread while the `with` block runs."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self.samples = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        procs = {}  # pid -> (ppid, statm line)
        for pid in session_pids(os.getsid(0)):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    raw = f.read()
                with open(f"/proc/{pid}/statm") as f:
                    procs[pid] = (int(raw[raw.rfind(")") + 2:].split()[1]), f.read())
            except OSError:
                continue
        # a child caught between vfork/posix_spawn and exec still shares
        # its parent's address space and reports the very same statm:
        # count that memory once
        return sum(int(statm.split()[1]) * self._page
                   for pid, (ppid, statm) in procs.items()
                   if procs.get(ppid, (None, None))[1] != statm)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self.samples += 1
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def host_settings(work: str) -> dict:
    """Session settings derived from this host: task slots leave one core
    for the JVM, GC and the driver; the driver heap is 1/8 of RAM, clamped
    to [1, 4] GiB; warehouse and local dirs live in the run's work dir."""
    slots = max(1, len(os.sched_getaffinity(0)) - 1)
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    driver_mib = min(4096, max(1024, mem_kib // 1024 // 8))
    return {
        "cores": slots,
        "shuffle_partitions": 2 * slots,
        "extra_conf": {
            "spark.driver.memory": f"{driver_mib}m",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
        },
    }


def build(settings: dict, cores: int | None = None):
    return build_session("perfbench", cores=cores or settings["cores"],
                         shuffle_partitions=settings["shuffle_partitions"],
                         extra_conf=settings["extra_conf"])


def checksums(spark, *refs: dict[str, str]) -> list[tuple[int, int]]:
    """(rows, bit_xor(xxhash64(url, text))) of each reference, the same
    fold lineage and the pass check apply to the pipeline's output; one
    Spark job for all of them."""
    pdf = pd.DataFrame(
        [(i, url, text) for i, ref in enumerate(refs) for url, text in ref.items()],
        columns=["ref", "url", "extracted_text"])
    rows = (spark.createDataFrame(pdf).groupBy("ref")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(F.xxhash64("url", "extracted_text")).alias("x")).collect())
    got = {r.ref: (int(r.n), int(r.x)) for r in rows}
    return [got.get(i, (0, 0)) for i in range(len(refs))]


def lineage_fold(rows) -> tuple[tuple[int, int], int]:
    """verify_lineage rows -> ((rows, checksum) of the data, bad buckets)."""
    n, x = 0, 0
    for r in rows:
        n += r.actual_rows or 0
        x ^= r.actual_checksum or 0
    return (n, x), sum(1 for r in rows if not r.ok)


def warc_documents(spark, path: str):
    """read_warc rows as documents rows. WARC records carry no doc_id or
    lang: doc_id is derived from (url, warc_ts), and lang is marked
    undetermined ('und', BCP 47), which process_documents passes through
    untouched."""
    return read_warc(spark, path).select(
        F.xxhash64("url", "warc_ts").alias("doc_id"), "url", "warc_ts", "html",
        F.lit(None).cast("string").alias("text"), F.lit("und").alias("lang"))


class Workload:
    """Generated input files, their reference, and one checked pass."""

    def __init__(self, name: str, seed: int, work: str, slots: int) -> None:
        cfg = WORKLOADS[name]
        self.name, self.work, self.seed, self.source = name, work, seed, cfg["source"]
        self.input = os.path.join(work, "input")
        self.slice = os.path.join(work, "slice")
        n_files = FILES_PER_SLOT * slots
        if self.source == "parquet":
            docs = inputs.crawl_docs(cfg["docs"], seed)
            sliced = docs[:SLICE_DOCS]
            inputs.write_parquet_input(docs, self.input, n_files)
            inputs.write_parquet_input(sliced, self.slice, slots)
        else:
            docs = inputs.warc_crawls(cfg["docs"], seed)
            sliced = docs[:SLICE_DOCS * inputs.CRAWLS_PER_URL]
            inputs.write_warc_input(docs, self.input, n_files)
            inputs.write_warc_input(sliced, self.slice, slots)
        self.docs, self.rows = docs, len(docs)
        self.ref_texts = inputs.reference(docs)
        self.slice_ref_texts = inputs.reference(sliced)
        self._commits = 0

    def docs_df(self, spark, path: str):
        if self.source == "parquet":
            return spark.read.parquet(path)
        return warc_documents(spark, path)

    def run_pass(self, spark, path: str) -> tuple[dict, tuple[int, int], int]:
        """One timed pass: build the process_documents plan over `path` and
        materialize every output column, into the noop sink (parquet input;
        rows and checksum come from an observation on the same job) or
        through the lineage writer into a fresh directory (WARC input;
        checked by verify_lineage after the timed part). Returns (timing,
        (rows, checksum), bad buckets)."""
        if self.source == "parquet":
            obs = Observation()

            def noop_pass():
                process_documents(self.docs_df(spark, path)).observe(
                    obs, F.count(F.lit(1)).alias("n"),
                    F.bit_xor(F.xxhash64("url", "extracted_text")).alias("x"),
                ).write.format("noop").mode("overwrite").save()
                return obs.get

            timing, got = measure(noop_pass)
            return timing, (int(got["n"]), int(got["x"] or 0)), 0
        self._commits += 1
        out_dir = os.path.join(self.work, f"commit-{self._commits}")
        timing, committed = measure(lambda: run_with_lineage(
            spark, process_documents(self.docs_df(spark, path)), out_dir, n_buckets=N_BUCKETS))
        got, bad = lineage_fold(verify_lineage(spark, out_dir).collect())
        shutil.rmtree(out_dir, ignore_errors=True)
        return timing, got, bad + N_BUCKETS - len(committed)


class Run:
    """One benchmark run: set-up, warm passes, then timed passes or the
    traced layer ladder. Every pipeline pass is checked and counted."""

    def __init__(self, args, work: str) -> None:
        self.args, self.work = args, work
        self.settings = host_settings(work)
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []
        self.wl = Workload(args.workload, args.seed, work, self.settings["cores"])
        log(f"{args.workload}: {self.wl.rows} input rows generated")

    def record(self, phase: str, timing: dict, ok: bool, got) -> dict:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"{phase} check failed: got {got}")
        rec = {"phase": phase, "ok": ok, **timing}
        self.passes.append(rec)
        if timing:
            log(f"{phase:6s} wall {timing['wall_s']:7.3f}s cpu {timing['cpu_s']:7.2f}s "
                f"other {timing['other_cpu_s']:6.2f}s load1 {timing['load1_before']:.2f}"
                f"->{timing['load1_after']:.2f} ok={ok}")
        return rec

    def checked_pass(self, spark, path: str, ref: tuple[int, int], phase: str) -> dict:
        try:
            timing, got, bad = self.wl.run_pass(spark, path)
        except Exception:  # a pass that dies is a failed operation; keep going
            traceback.print_exc()
            return self.record(phase, {}, False, "an exception")
        return self.record(phase, timing, got == ref and bad == 0, (got, bad))

    def setup(self, tracer=None):
        """build_session plus one cold pass over the fixed input slice; then
        the references, and for WARC input the archive audit. Returns
        (spark, session start s, set-up s)."""
        span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
        t0 = time.perf_counter()
        with span("session.build_session"):
            spark = build(self.settings)
        t_session = time.perf_counter() - t0
        log(f"session started in {t_session:.3f}s")
        with span("setup.cold_pass"):
            timing, got, bad = self.wl.run_pass(spark, self.wl.slice)
        # the references are computed after the cold pass, so that the
        # pass is the session's first Spark job
        self.slice_ref, self.ref = checksums(spark, self.wl.slice_ref_texts,
                                             self.wl.ref_texts)
        self.record("setup", timing, (got, bad) == (self.slice_ref, 0), (got, bad))
        if self.wl.source == "warc":
            stats = warc_file_stats(spark, self.wl.input).collect()
            got = (sum(r.n_records for r in stats), sum(r.n_skipped for r in stats))
            self.record("audit", {}, got == (self.wl.rows, 0), got)
        return spark, t_session, t_session + timing["wall_s"]

    def warm(self, spark, passes: int) -> None:
        for _ in range(passes):
            self.checked_pass(spark, self.wl.input, self.ref, "warm")

    def timed(self) -> dict:
        spark, _, setup_s = self.setup()
        self.warm(spark, WARM_PASSES)
        timed: list[dict] = []
        tries = 0
        deadline = time.perf_counter() + self.args.seconds
        with RssSampler() as rss:
            while tries < MIN_TIMED_PASSES or time.perf_counter() < deadline:
                tries += 1
                rec = self.checked_pass(spark, self.wl.input, self.ref, "timed")
                if "wall_s" in rec:  # passes that fail their check are timed too
                    timed.append(rec)
        spark.stop()
        if not timed:
            raise RuntimeError("every timed pass raised")
        rate = [self.wl.rows / p["wall_s"] for p in timed]
        cpu = [p["cpu_s"] / self.wl.rows * 1e3 for p in timed]
        for name, xs, unit in (("docs_per_s", rate, "1/s"), ("cpu_ms_per_doc", cpu, "ms")):
            q1, q2, q3 = quartiles(xs)
            print(f"{name} median {q2:.4f} {unit} (q1 {q1:.4f}, q3 {q3:.4f}, n={len(xs)})")
        print(f"peak_rss_mib {rss.peak_bytes / MIB:.1f} MiB over {rss.samples} samples; "
              f"setup_s {setup_s:.3f} s", flush=True)
        return {
            "docs_per_s": (statistics.median(rate), "1/s"),
            "cpu_ms_per_doc": (statistics.median(cpu), "ms"),
            "peak_rss_mib": (rss.peak_bytes / MIB, "MiB"),
            "setup_s": (setup_s, "s"),
        }


def declared_metrics(trace: int) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def child_main(args) -> int:
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    tmp = os.path.join(work, "tmp")
    for d in (out_dir, tmp):
        os.makedirs(d, exist_ok=True)
    # every process of the run, the spark-submit launcher JVM included,
    # keeps its temp files in the work dir
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    try:
        run = Run(args, work)
        if args.trace:
            from perfbench.layers import traced_run

            metrics = traced_run(run)
        else:
            metrics = run.timed()
        report = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(report, "w") as f:
            json.dump({"args": vars(args), "settings": run.settings, "passes": run.passes,
                       "metrics": metrics}, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    got = {k: u for k, (_, u) in metrics.items()}
    if got != declared_metrics(args.trace):
        raise RuntimeError(f"metrics {got} differ from BENCHMARK.json")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0
