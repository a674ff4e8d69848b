"""Measurement probes for the scaling benchmark: load-gating, CPU
accounting, and per-stage Spark metrics.

The sandbox host has external load bursts (loadavg 15+ with zero local
processes) that inflate wall-clock 5-20x. Scaling-efficiency claims
therefore need more than wall time: these probes attribute every CPU
second of a rep to (a) our own process tree — the JVM plus its forked
Python UDF workers, matched by POSIX session id, so Arrow-UDF Python
time is counted — or (b) the rest of the host. A rep whose per-doc
`ours_cpu_s` is flat across core counts while wall inflates is
plan-scaling evidence; the residual is the neighbours' CPU, visible in
`host_minus_ours_cpu_s` (tick-sampling skew makes it noisy within a
few percent — see bench.py --scaling-child).
"""

from __future__ import annotations

import json
import os
import time
import urllib.request

__all__ = [
    "materialize",
    "loadavg1",
    "wait_for_quiet",
    "host_cpu_seconds",
    "session_tree_cpu_seconds",
    "stage_metrics",
]

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def materialize(df) -> int:
    """Write every column of `df` to the `noop` sink and return its row
    count, observed in the same job. A `count()` plan is not the
    pipeline: Catalyst prunes every column the count does not need,
    which drops the whole validation and quality layer of
    `process_documents`."""
    from pyspark.sql import Observation, functions as F

    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("rows"))
     .write.format("noop").mode("overwrite").save())
    return obs.get["rows"]


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def wait_for_quiet(gate: float | None = None, max_wait_s: int | None = None,
                   poll_s: float = 5.0) -> float:
    """Block until 1-min loadavg < gate (or max wait elapses); returns
    seconds waited. Gate default $SPARK_GRAFT_LOAD_GATE (4.0): our own
    idle JVM contributes ~0, so load above that is the neighbours."""
    if gate is None:
        gate = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "4.0"))
    if max_wait_s is None:
        max_wait_s = int(os.environ.get("SPARK_GRAFT_LOAD_GATE_MAX_WAIT", "180"))
    t0 = time.time()
    while loadavg1() >= gate and time.time() - t0 < max_wait_s:
        time.sleep(poll_s)
    return round(time.time() - t0, 1)


def host_cpu_seconds() -> float:
    """Host-wide busy CPU seconds since boot (user+nice+system+irq+
    softirq+steal from /proc/stat — idle and iowait excluded)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    u, n, s = int(parts[1]), int(parts[2]), int(parts[3])
    irq, sirq, steal = int(parts[6]), int(parts[7]), int(parts[8])
    return (u + n + s + irq + sirq + steal) / _CLK_TCK


def session_tree_cpu_seconds() -> float:
    """CPU seconds consumed by every live process in OUR session — the
    driver, the Spark JVM it launched, and the pyspark.daemon Python
    workers the JVM forked (all inherit the session id). utime+stime
    only; dead-worker time is lost, which is negligible under
    spark.python.worker.reuse (default true)."""
    sid = os.getsid(0)
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        # comm may contain spaces/parens: fields start after the last ')'
        fields = raw[raw.rfind(")") + 2:].split()
        # post-comm indices: 0=state 1=ppid 2=pgrp 3=session ... 11=utime 12=stime
        if len(fields) > 12 and int(fields[3]) == sid:
            total += int(fields[11]) + int(fields[12])
    return total / _CLK_TCK


def stage_metrics(spark, ui_port: int, seen: set[int]) -> tuple[list[dict], set[int]]:
    """Completed-stage metrics NEW since `seen`, via the UI REST API:
    per-stage wall-ish executorRunTime (sum of task durations, ms) and
    JVM executorCpuTime (ms). Python UDF time shows up in runTime (the
    task blocks on the worker), not cpuTime — whole-tree Python CPU is
    covered by session_tree_cpu_seconds instead."""
    app_id = spark.sparkContext.applicationId
    url = f"http://localhost:{ui_port}/api/v1/applications/{app_id}/stages?status=complete"
    try:
        stages = json.load(urllib.request.urlopen(url, timeout=10))
    except Exception:
        return [], seen
    out = []
    new_seen = set(seen)
    for s in stages:
        key = s["stageId"] * 1000 + s.get("attemptId", 0)
        if key in new_seen:
            continue
        new_seen.add(key)
        out.append({
            "stage": s["stageId"],
            "name": s["name"].split(" at ")[0][:48],
            "tasks": s["numCompleteTasks"],
            "run_ms": s["executorRunTime"],
            "jvm_cpu_ms": round(s["executorCpuTime"] / 1e6),
        })
    out.sort(key=lambda x: -x["run_ms"])
    return out, new_seen
