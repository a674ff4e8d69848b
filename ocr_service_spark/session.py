"""SparkSession factory.

Local-mode settings derived from the host: one task slot per usable CPU
less one (left for the JVM, GC and the driver) and a driver heap of 1/8
of RAM clamped to [1, 4] GiB; `SPARK_GRAFT_CPUS` and
`SPARK_GRAFT_DRIVER_MEM` override them. On a real cluster the same
builder is used minus `master`; the partitioning/AQE settings are the
ones that matter at 100 TB:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow enabled (every Python touch in this engine is Arrow-batched;
  per-row Python UDFs are banned on the hot path, cf. BASELINE.json
  input_hint "no per-row Python"),
- shuffle partitions sized to cores locally; on a cluster this would be
  ~2-3x total executor cores or left to AQE's initialPartitionNum.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """1/8 of the host's RAM, clamped to [1, 4] GiB."""
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(4096, max(1024, mem_kib // 1024 // 8))}m"


def default_cores() -> int:
    """Task slots: $SPARK_GRAFT_CPUS, else the usable CPUs less one."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or max(1, len(os.sched_getaffinity(0)) - 1))


def build_session(
    app_name: str = "ocr_service_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # HTML payloads are fat rows: bound Arrow batches by bytes, so a
        # batch of raw pages stays well under executor memory, and a
        # task streams many batches: the JVM evaluates the native
        # projection over batch k while Python runs batch k+1.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(512 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                ".spark-warehouse")))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
