#!/usr/bin/env python3
"""Closed-loop extraction benchmark: one pass at a time over a fixed,
seeded input, each pass's output checked against the generator's
reference.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 10 --trace 0

`--trace 0` prints the end-to-end metrics (docs_per_s, cpu_ms_per_doc,
peak_rss_mib, setup_s); `--trace 1` times every layer from outside and
prints the per-layer metrics. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.

This file only supervises: it re-executes itself (`--child`) in a new
POSIX session, so that `bench_probe.session_tree_cpu_seconds` and the
RSS sampler see exactly this run's processes (driver, Spark JVM, Python
workers), and so every process the run started can be found, stopped
and waited for when it ends. The run itself lives in harness.py.
"""

from __future__ import annotations

import argparse
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# docs (WARC: urls, each crawled 3 times) per workload
WORKLOADS = {
    "crawl_extract": {"source": "parquet", "docs": 3000},
    "warc_recrawl_commit": {"source": "warc", "docs": 600},
}
# untimed passes over the full input between set-up and the timed passes.
# On a 4-vCPU host a pass takes 4-5 s; wall time per pass is flat from
# the second pass, CPU per pass falls steeply over the first five and
# then slowly (on warc_recrawl_commit until about the eighth). More warm
# passes would not fit the benchmark's time budget; the count is fixed
# (never cut short by time), so every run times the same stretch, and a
# run stays near 65-70 s.
WARM_PASSES = 5
CHILD_TIMEOUT_S = 160  # leaves time to stop the run inside a 180 s limit
STOP_GRACE_S = 10.0  # SIGTERM for this long, then SIGKILL


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def session_pids(sid: int) -> list[int]:
    """Live processes whose POSIX session id is `sid`."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2:].split()  # post-comm: state ppid pgrp session
        if len(fields) > 3 and int(fields[3]) == sid:
            pids.append(int(name))
    return pids


def stop_session(sid: int) -> None:
    """SIGTERM, after STOP_GRACE_S SIGKILL, every process left in session
    `sid`, until none remains."""
    deadline = time.time() + STOP_GRACE_S
    while pids := session_pids(sid):
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def supervise(argv: list[str]) -> int:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv, "--child"],
                             env=env, start_new_session=True)
    try:
        return child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s, stopping it", file=sys.stderr)
        return 1
    finally:
        stop_session(child.pid)
        child.wait()


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if not args.child:
        return supervise(argv)
    from perfbench.harness import child_main

    return child_main(args)


if __name__ == "__main__":
    sys.exit(main())
