"""Per-partition lineage + idempotent restart (north rule: "writes
extracted text + span offsets back ... with per-partition lineage rows
(partition id, row counts, checksum, wall-clock) enabling idempotent
restart from the last committed snapshot").

Reference analog: the JSON summary sink (S10,
scripts/process_dataset_phase1.py:238-251) — which records stats but
cannot restart. Here every output row is assigned a deterministic
bucket = md5-derived 60-bit hash of url mod n_buckets (portable across
engines — see bucket_expr); a bucket is the unit of commit. The lineage table records, per committed bucket:
(bucket, n_rows, checksum, wall_clock_s, run_id). A restarted run
diffs the bucket universe against committed lineage and processes ONLY
the missing buckets; deterministic document ids (F14 — sha2(url), no
uuid4/now()) make the rewrite byte-identical.

On a real cluster the output table is Iceberg partitioned by
bucket(N, url_hash) — the same bucket function — so the restart filter
becomes partition pruning on the INPUT side and the lineage append
rides the same snapshot commit. This module emulates that contract
over plain parquet dirs (no Iceberg runtime in this sandbox):
bucket-partitioned parquet append + a lineage parquet dir, with the
lineage row written only after the bucket's data commit returns.
"""

from __future__ import annotations

import math
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_service_spark.functions.textstats import token_hash

__all__ = [
    "bucket_expr",
    "with_bucket",
    "clean_uncommitted",
    "committed_buckets",
    "run_with_lineage",
    "verify_lineage",
    "compact_buckets",
    "snapshots",
    "rollback_to_snapshot",
    "expire_snapshots",
]


def bucket_expr(key: str, n_buckets: int) -> F.Column:
    """Portable bucket assignment: the 60-bit md5 prefix hash
    (textstats.token_hash) mod n_buckets. Engine-independent (DuckDB
    twin: ('0x'||substr(md5(url),1,15))::BIGINT % n), so external
    systems — and the DuckDB SQL oracles — can compute a row's bucket
    without Spark. On a real cluster the Iceberg table's bucket(N, url)
    partition transform replaces this expression; the lineage contract
    is unchanged."""
    return F.pmod(token_hash(F.col(key)), F.lit(n_buckets))


def with_bucket(df: DataFrame, n_buckets: int = 16) -> DataFrame:
    return df.withColumn("bucket", bucket_expr("url", n_buckets))


def _bucket_fold(df: DataFrame) -> DataFrame:
    """(bucket, n_rows, checksum = bit_xor(xxhash64(url, extracted_text)))
    per bucket — order-independent, parallelism-independent."""
    return df.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.bit_xor(F.xxhash64("url", "extracted_text")).alias("checksum"),
    )


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem of `path`, the JVM Path class) — the file
    operations here work on any scheme, not just file://."""
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), Path


def _visible(status) -> bool:
    """Spark reads no file or dir named `_…` or `.…` (_SUCCESS,
    _temporary, .crc checksums)."""
    return not status.getPath().getName().startswith(("_", "."))


def _has_data(fs, path) -> bool:
    """Whether the tree at Hadoop Path `path` holds a file Spark reads
    (not under a hidden dir such as an unfinished write's _temporary)."""
    return fs.exists(path) and any(
        _visible(st) and (st.isFile() or _has_data(fs, st.getPath()))
        for st in fs.listStatus(path))


def _buckets(fs, Path, data_dir: str) -> dict:
    """{bucket: [FileStatus of its data files]} under `data_dir`, {} if
    the dir does not exist yet."""
    if not fs.exists(Path(data_dir)):
        return {}
    return {
        int(d.getPath().getName().split("=", 1)[1]):
            [f for f in fs.listStatus(d.getPath()) if f.isFile() and _visible(f)]
        for d in fs.listStatus(Path(data_dir))
        if d.getPath().getName().startswith("bucket=")
    }


def _restore(fs, Path, live: str, parked: str) -> None:
    """Move the copy a cut-short _swap parked back to `live` (beside a
    live copy it is stale: the install completed). The rename is checked:
    rename returns False instead of raising, and the caller's sweep after
    a silent failure would delete the only copy."""
    if fs.exists(Path(live)) or not fs.exists(Path(parked)):
        return
    if not fs.rename(Path(parked), Path(live)):
        raise RuntimeError(f"failed to restore the copy parked at {parked} to {live}")


def _swap(fs, Path, live: str, new: str, parked: str) -> None:
    """Replace dir `live` with dir `new` via `parked`. Both renames are
    checked; a failed install restores the old copy before raising. A
    crash between them leaves the only copy at `parked`, so writers
    _restore before their next rewrite."""
    if not fs.rename(Path(live), Path(parked)):
        raise RuntimeError(f"swap: failed to park {live}; it is untouched")
    if not fs.rename(Path(new), Path(live)):
        _restore(fs, Path, live, parked)
        raise RuntimeError(f"swap: failed to install {new} at {live}")
    fs.delete(Path(parked), True)


def _sweep_temporary(spark: SparkSession, table_dir: str) -> None:
    """Delete `table_dir`/_temporary before a plain append to the table.
    Hadoop's v1 FileOutputCommitter job commit merges every committed
    task it finds under _temporary/0 — including the tasks of an
    earlier job that died before its own job commit — so a restart
    after a crash mid-write would commit that job's rows a second time.
    Safe only under the single-writer contract of _swap_lineage: a
    concurrent writer's in-flight _temporary would be deleted too.
    Dynamic-overwrite writes stage under a per-job .spark-staging-* dir
    and need no sweep."""
    fs, Path = _fs(spark, table_dir)
    fs.delete(Path(f"{table_dir}/_temporary"), True)


def clean_uncommitted(spark: SparkSession, data_dir: str, done: set[int]) -> list[int]:
    """Remove data partitions whose bucket has NO lineage row — the
    leftovers of a crash in the window between the bucket's data commit
    and its lineage append. Without this, the restart's append would
    write those rows a second time (duplicate-rows window). Iceberg
    analog: rolling back to the last committed snapshot / orphan-file
    cleanup; on the parquet emulation it's an explicit directory drop
    via the Hadoop FileSystem API."""
    fs, Path = _fs(spark, data_dir)
    removed = sorted(set(_buckets(fs, Path, data_dir)) - set(done))
    for b in removed:
        fs.delete(Path(f"{data_dir}/bucket={b}"), True)
    return removed


def _read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Read the commit log, or None ONLY when it genuinely does not
    exist: no log dir holds a data file (a first run, or one killed
    inside its first lineage append, whose swept _temporary leaves
    `lineage/` empty). A transient read failure must RAISE, never pass
    for "no lineage": committed_buckets()=∅ would send
    clean_uncommitted after every committed data bucket, and
    a next commit_seq of 1 would mint duplicate commit_seq values that
    silently corrupt time-travel/rollback (ADVICE r4). If the primary
    dir holds no data but `.lineage_old` does, a concurrent (or crashed)
    _swap_lineage is mid-swap — read the parked copy rather than
    treating a fully-committed table as empty. Lineage dirs written
    before the commit_seq column existed are rejected loudly (their
    null commit_seq rows would be silently dropped by every as_of
    filter)."""
    fs, Path = _fs(spark, out_dir)
    read_dir = next((d for d in (f"{out_dir}/lineage", f"{out_dir}/.lineage_old")
                     if _has_data(fs, Path(d))), None)
    if read_dir is None:
        return None  # first run
    df = spark.read.parquet(read_dir)  # any failure here propagates
    if "commit_seq" not in df.columns:
        raise ValueError(
            f"lineage dir {read_dir} predates the commit_seq column; "
            "refusing to guess snapshot boundaries — rewrite it with "
            "run_with_lineage or migrate it explicitly")
    return df


def committed_buckets(spark: SparkSession, out_dir: str,
                      as_of: int | None = None) -> set[int]:
    """Buckets with a lineage row; `as_of` restricts to snapshots with
    commit_seq <= as_of (time travel over the commit log)."""
    df = _read_lineage(spark, out_dir)
    if df is None:  # first run: no lineage yet
        return set()
    if as_of is not None:
        df = df.filter(F.col("commit_seq") <= int(as_of))
    return {r.bucket for r in df.select("bucket").collect()}


def _commit_state(spark: SparkSession, out_dir: str) -> tuple[set[int], int]:
    """(committed buckets, next commit_seq) from one read of the log."""
    df = _read_lineage(spark, out_dir)
    if df is None:
        return set(), 1
    row = df.agg(F.collect_set("bucket").alias("b"), F.max("commit_seq").alias("m")).collect()[0]
    return set(row.b), int(row.m or 0) + 1


def _lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """The commit log of `out_dir` for readers (a parked log included)."""
    df = _read_lineage(spark, out_dir)
    if df is None:
        raise FileNotFoundError(f"no lineage log under {out_dir}")
    return df


def _unpark(spark: SparkSession, out_dir: str) -> None:
    """Writers first move a log that a crashed _swap_lineage left at
    .lineage_old back into place (as compact_buckets restores a parked
    bucket): appending beside it would start a second log holding only
    the new rows, and the next run would take every earlier bucket for
    uncommitted."""
    fs, Path = _fs(spark, out_dir)
    _restore(fs, Path, f"{out_dir}/lineage", f"{out_dir}/.lineage_old")


def snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    """The commit log, one row per snapshot (Iceberg `table.snapshots`
    analog on the parquet emulation): (commit_seq, run_id, n_buckets,
    total_rows). Ordered oldest-first."""
    return (
        _lineage(spark, out_dir)
        .groupBy("commit_seq", "run_id")
        .agg(F.count("*").alias("n_buckets"),
             F.sum("n_rows").alias("total_rows"))
        .orderBy("commit_seq")
    )


def _swap_lineage(spark: SparkSession, out_dir: str, new_rows: DataFrame) -> None:
    """Atomically replace the lineage dir (write tmp, then _swap).

    Concurrency: mutating ops (rollback/expire/compact) assume a SINGLE
    writer per table, like Iceberg without a catalog lock. The window
    where the log is parked at .lineage_old but the replacement is not
    yet installed is covered for READERS: _read_lineage falls back to
    the parked copy, so a concurrent run_with_lineage can no longer
    observe an empty commit log and clean_uncommitted the committed
    data buckets (ADVICE r4), and for the next writer after a crash in
    that window: it moves the parked log back first (_unpark). Two
    concurrent WRITERS remain out of scope — run them serially."""
    tmp, parked = f"{out_dir}/.lineage_tmp", f"{out_dir}/.lineage_old"
    _unpark(spark, out_dir)
    fs, Path = _fs(spark, out_dir)
    fs.delete(Path(parked), True)  # stale after _unpark; the overwrite clears tmp
    new_rows.coalesce(1).write.mode("overwrite").parquet(tmp)
    _swap(fs, Path, f"{out_dir}/lineage", tmp, parked)


def rollback_to_snapshot(spark: SparkSession, out_dir: str,
                         commit_seq: int) -> list[int]:
    """Iceberg `rollback_to_snapshot` analog: drop every snapshot with
    commit_seq > `commit_seq` from the lineage log and delete the data
    buckets those snapshots committed. A subsequent `run_with_lineage`
    recomputes exactly the dropped buckets; deterministic row ids make
    the rewrite byte-identical (restart test). Returns the bucket list
    that was rolled back. Raises if the target snapshot has been
    expired (`expire_snapshots`)."""
    lineage = _lineage(spark, out_dir)
    min_seq = lineage.agg(F.min("commit_seq").alias("m")).collect()[0].m
    if min_seq is not None and commit_seq < int(min_seq):
        raise ValueError(
            f"rollback_to_snapshot: snapshot {commit_seq} has been expired "
            f"(oldest retained commit_seq is {min_seq})")
    keep = lineage.filter(F.col("commit_seq") <= int(commit_seq)).localCheckpoint()
    kept_buckets = {r.bucket for r in keep.select("bucket").collect()}
    _swap_lineage(spark, out_dir, keep)
    return clean_uncommitted(spark, f"{out_dir}/data", kept_buckets)


def expire_snapshots(spark: SparkSession, out_dir: str,
                     older_than_seq: int) -> int:
    """Iceberg `expire_snapshots` analog: collapse history older than
    `older_than_seq` — every lineage row with a smaller commit_seq is
    re-stamped to it, so the CURRENT state is untouched (per-bucket
    rows, counts and checksums survive verbatim) but time travel /
    rollback to expired snapshots now raises. Returns the number of
    re-stamped rows. (The parquet emulation rewrites buckets in place,
    so unlike real Iceberg there are no old data files to reclaim —
    expiry here trims exactly what it retains the right to: the commit
    log.)"""
    lineage = _lineage(spark, out_dir)
    n = lineage.filter(F.col("commit_seq") < int(older_than_seq)).count()
    if n == 0:
        return 0
    restamped = lineage.withColumn(
        "commit_seq",
        F.greatest(F.col("commit_seq"), F.lit(int(older_than_seq)))
    ).localCheckpoint()
    _swap_lineage(spark, out_dir, restamped)
    return n


def run_with_lineage(
    spark: SparkSession,
    result: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    max_buckets_this_run: int | None = None,
    run_id: str = "run",
) -> list[int]:
    """Write `result` bucket-partitioned with lineage; returns the list
    of buckets committed by THIS run. `max_buckets_this_run` simulates
    a mid-job crash for the restart test (commit only a prefix). A
    bucket's lineage row is its _bucket_fold over the committed data.
    """
    data_dir = f"{out_dir}/data"
    _unpark(spark, out_dir)
    # what a run killed inside either append left behind
    _sweep_temporary(spark, data_dir)
    _sweep_temporary(spark, f"{out_dir}/lineage")
    done, commit_seq = _commit_state(spark, out_dir)
    # a crash between a bucket's data commit (below) and its lineage
    # append leaves orphan data — drop it before re-appending
    clean_uncommitted(spark, data_dir, done)
    todo = sorted(set(range(n_buckets)) - done)
    if max_buckets_this_run is not None:
        todo = todo[:max_buckets_this_run]
    if not todo:
        return []

    t0 = time.time()
    in_todo = F.col("bucket").isin(todo)
    (with_bucket(result, n_buckets).filter(in_todo)
     .write.partitionBy("bucket").mode("append").parquet(data_dir))
    stats = (
        _bucket_fold(spark.read.parquet(data_dir).filter(in_todo))
        .withColumn("wall_clock_s", F.lit(round(time.time() - t0, 3)))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("commit_seq", F.lit(commit_seq))
    )
    # lineage row lands only after the data commit returned — a crash
    # between the two leaves an uncommitted bucket that the next run
    # redoes (idempotent: same deterministic rows, rewrite-in-place
    # semantics on Iceberg; on the parquet emulation the restart test
    # asserts the no-crash and crash+restart outputs are identical)
    stats.write.mode("append").parquet(f"{out_dir}/lineage")
    return todo


def verify_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Recompute per-bucket checksums from the data and join against the
    lineage claims — the restart driver's integrity check."""
    actual = _bucket_fold(spark.read.parquet(f"{out_dir}/data")).toDF(
        "bucket", "actual_rows", "actual_checksum")
    return (
        _lineage(spark, out_dir).join(actual, "bucket", "full_outer")
        .select(
            "bucket",
            "n_rows",
            "actual_rows",
            "checksum",
            "actual_checksum",
            ((F.col("n_rows") == F.col("actual_rows"))
             & (F.col("checksum") == F.col("actual_checksum"))).alias("ok"),
        )
    )


def compact_buckets(
    spark: SparkSession,
    out_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[int, tuple[int, int]]:
    """Small-file compaction for the bucket-parquet sink — the Iceberg
    `rewrite_data_files` maintenance action, emulated with the same
    contract. A long-running ingest (many `run_with_lineage` appends,
    streaming micro-batches) leaves each bucket littered with files far
    below the scan-efficient size; at 10^12 rows the resulting task
    explosion and NameNode/manifest pressure dominate read cost.

    Per bucket: target file count = max(1, ceil(bucket_bytes /
    target_file_bytes)). The whole rewrite is ONE Spark job — rows are
    hash-distributed into exactly that many partitions per bucket via
    repartition on (bucket, slice) where slice = portable key-hash mod
    the bucket's target count — then swapped in per bucket with an
    atomic directory rename (_swap; local/HDFS; on Iceberg this is the
    snapshot commit and readers never see a half-compacted bucket).
    Data is NEVER changed — only file layout — so every lineage row
    (n_rows, checksum) stays valid; callers re-verify with
    `verify_lineage`. Crash-safe: a crash before a bucket's swap
    leaves the old files in place, and the tmp tree is cleaned on the
    next invocation; re-running compaction is idempotent.

    Returns {bucket: (n_files_before, n_files_after)}.
    """
    data_dir = f"{out_dir}/data"
    tmp_dir = f"{out_dir}/.compact_tmp"
    fs, Path = _fs(spark, out_dir)
    if fs.exists(Path(tmp_dir)):
        # leftovers of a crashed compaction. A crash inside a bucket's
        # _swap leaves its ONLY copy parked at .old-bucket=B — restore
        # it before sweeping, or the sweep would destroy committed data.
        for st in fs.listStatus(Path(tmp_dir)):
            name = st.getPath().getName()
            if name.startswith(".old-bucket="):
                _restore(fs, Path, f"{data_dir}/{name[len('.old-'):]}", f"{tmp_dir}/{name}")
        fs.delete(Path(tmp_dir), True)

    files = _buckets(fs, Path, data_dir)
    targets = {
        b: max(1, math.ceil(sum(f.getLen() for f in fl) / target_file_bytes))
        for b, fl in files.items()
    }
    todo = [b for b in sorted(targets) if len(files[b]) > targets[b]]
    if not todo:
        return {b: (len(f), len(f)) for b, f in files.items()}

    # one job: read only the buckets being rewritten, slice each into
    # its target file count, write the compacted tree under tmp
    slices = F.create_map(*[x for b in todo for x in (F.lit(b), F.lit(targets[b]))])
    (spark.read.parquet(data_dir).filter(F.col("bucket").isin(todo))
     .repartition(sum(targets[b] for b in todo), F.col("bucket"),
                  F.pmod(F.xxhash64("url"), slices[F.col("bucket")]))
     .write.partitionBy("bucket").mode("overwrite").parquet(tmp_dir))

    # per-bucket atomic swap: old dir parked under tmp, compacted dir
    # in; a failed swap raises before the sweep below can reach a
    # parked copy
    for b in todo:
        _swap(fs, Path, f"{data_dir}/bucket={b}", f"{tmp_dir}/bucket={b}",
              f"{tmp_dir}/.old-bucket={b}")
    fs.delete(Path(tmp_dir), True)

    after = _buckets(fs, Path, data_dir)
    return {b: (len(f), len(after[b])) for b, f in files.items()}
