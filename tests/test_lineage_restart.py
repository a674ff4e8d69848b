"""Restart test (SURVEY.md §5.2): kill after partial commit, rerun,
assert no duplicate rows and a final checksum identical to an
uninterrupted run."""

import pyspark.sql.functions as F

from ocr_service_spark.corpus import corpus_df
from ocr_service_spark.lineage import (
    clean_uncommitted,
    committed_buckets,
    run_with_lineage,
    snapshots,
    verify_lineage,
    with_bucket,
)
from ocr_service_spark.pipeline import process_documents

N = 150
N_BUCKETS = 8


def _result(spark):
    return process_documents(corpus_df(spark, N, partitions=4))


def _global_checksum(spark, out_dir):
    return (
        spark.read.parquet(f"{out_dir}/data")
        .select(F.bit_xor(F.xxhash64("url", "extracted_text")).alias("h"))
        .collect()[0]
        .h
    )


def test_crash_restart_identical_to_oneshot(spark, tmp_path):
    oneshot = str(tmp_path / "oneshot")
    crashed = str(tmp_path / "crashed")

    done = run_with_lineage(spark, _result(spark), oneshot,
                            n_buckets=N_BUCKETS, run_id="full")
    assert sorted(done) == list(range(N_BUCKETS))

    # crash after 3 buckets, then restart
    first = run_with_lineage(spark, _result(spark), crashed,
                             n_buckets=N_BUCKETS, max_buckets_this_run=3,
                             run_id="r1")
    assert len(first) == 3
    assert committed_buckets(spark, crashed) == set(first)

    second = run_with_lineage(spark, _result(spark), crashed,
                              n_buckets=N_BUCKETS, run_id="r2")
    assert sorted(first + second) == list(range(N_BUCKETS))

    # re-running a completed job is a no-op (idempotent restart)
    assert run_with_lineage(spark, _result(spark), crashed,
                            n_buckets=N_BUCKETS, run_id="r3") == []

    n_one = spark.read.parquet(f"{oneshot}/data").count()
    n_two = spark.read.parquet(f"{crashed}/data").count()
    assert n_one == n_two, "no duplicates after restart"
    assert _global_checksum(spark, oneshot) == _global_checksum(spark, crashed)


def test_crash_in_commit_window_no_duplicates(spark, tmp_path):
    """Crash BETWEEN a bucket's data commit and its lineage append: the
    orphan data partition must be dropped on restart (clean_uncommitted),
    otherwise the restart's append duplicates every row in it."""
    oneshot = str(tmp_path / "oneshot")
    crashed = str(tmp_path / "crashed")
    result = _result(spark)

    run_with_lineage(spark, result, oneshot, n_buckets=N_BUCKETS, run_id="full")

    run_with_lineage(spark, result, crashed, n_buckets=N_BUCKETS,
                     max_buckets_this_run=2, run_id="r1")
    done = committed_buckets(spark, crashed)
    orphan = sorted(set(range(N_BUCKETS)) - done)[0]
    # simulate the window: data written, lineage append never happened
    (with_bucket(result, n_buckets=N_BUCKETS)
     .filter(F.col("bucket") == orphan)
     .write.partitionBy("bucket").mode("append").parquet(f"{crashed}/data"))

    removed = clean_uncommitted(spark, f"{crashed}/data", done)
    assert removed == [orphan]

    # cleanup is part of run_with_lineage too: re-orphan and restart
    (with_bucket(result, n_buckets=N_BUCKETS)
     .filter(F.col("bucket") == orphan)
     .write.partitionBy("bucket").mode("append").parquet(f"{crashed}/data"))
    run_with_lineage(spark, result, crashed, n_buckets=N_BUCKETS, run_id="r2")

    assert (spark.read.parquet(f"{crashed}/data").count()
            == spark.read.parquet(f"{oneshot}/data").count())
    assert _global_checksum(spark, oneshot) == _global_checksum(spark, crashed)
    assert all(r.ok for r in verify_lineage(spark, crashed).collect())


def test_lineage_checksums_verify(spark, tmp_path):
    out = str(tmp_path / "v")
    run_with_lineage(spark, _result(spark), out, n_buckets=4, run_id="v")
    checks = verify_lineage(spark, out).collect()
    assert len(checks) == 4
    assert all(r.ok for r in checks)


def test_snapshot_rollback_and_expiry(spark, tmp_path):
    from ocr_service_spark.lineage import (
        expire_snapshots,
        rollback_to_snapshot,
        snapshots,
    )

    out = str(tmp_path / "snap")
    # two commits → two snapshots
    run_with_lineage(spark, _result(spark), out, n_buckets=N_BUCKETS,
                     max_buckets_this_run=3, run_id="r1")
    run_with_lineage(spark, _result(spark), out, n_buckets=N_BUCKETS,
                     run_id="r2")
    full_hash = _global_checksum(spark, out)
    snaps = snapshots(spark, out).collect()
    assert [(s.commit_seq, s.run_id, s.n_buckets) for s in snaps] == [
        (1, "r1", 3), (2, "r2", N_BUCKETS - 3)]

    # time travel: the as_of view of snapshot 1 is exactly r1's buckets
    assert committed_buckets(spark, out, as_of=1) == \
        committed_buckets(spark, out) - {
            r.bucket for r in spark.read.parquet(f"{out}/lineage")
            .filter("commit_seq = 2").select("bucket").collect()}

    # rollback to snapshot 1 drops r2's buckets from log AND data...
    dropped = rollback_to_snapshot(spark, out, 1)
    assert len(dropped) == N_BUCKETS - 3
    assert committed_buckets(spark, out) == \
        committed_buckets(spark, out, as_of=1)
    # ...and replaying from that snapshot restores a byte-identical table
    redone = run_with_lineage(spark, _result(spark), out,
                              n_buckets=N_BUCKETS, run_id="r3")
    assert sorted(redone) == sorted(dropped)
    assert _global_checksum(spark, out) == full_hash
    ok = verify_lineage(spark, out)
    assert ok.filter("NOT ok").count() == 0

    # expiry collapses history; rolling back past it refuses
    assert expire_snapshots(spark, out, older_than_seq=3) > 0
    assert _global_checksum(spark, out) == full_hash
    import pytest
    with pytest.raises(ValueError, match="expired"):
        rollback_to_snapshot(spark, out, 1)


def test_committed_buckets_reads_parked_log_mid_swap(spark, tmp_path):
    # ADVICE r4: during _swap_lineage's park→install window the commit
    # log lives at .lineage_old; a reader landing there must see the
    # committed buckets, NOT an empty log (which would send
    # clean_uncommitted after every committed data bucket).
    import os

    out = str(tmp_path / "t")
    done = run_with_lineage(spark, _result(spark), out,
                            n_buckets=N_BUCKETS, run_id="r1")
    os.rename(f"{out}/lineage", f"{out}/.lineage_old")
    assert committed_buckets(spark, out) == set(done)
    from ocr_service_spark.lineage import _commit_state

    assert _commit_state(spark, out) == (set(done), 2)


def test_run_after_crash_mid_swap_restores_the_parked_log(spark, tmp_path):
    # a crash between _swap_lineage's two renames leaves the whole log
    # at .lineage_old; the next writer must append to THAT history, not
    # start a new log holding only its own rows (the run after would
    # then clean and recompute every earlier bucket)
    import os

    out = str(tmp_path / "t")
    assert run_with_lineage(spark, _result(spark), out, n_buckets=4,
                            max_buckets_this_run=2, run_id="r1") == [0, 1]
    assert run_with_lineage(spark, _result(spark), out, n_buckets=4,
                            max_buckets_this_run=1, run_id="r2") == [2]
    os.rename(f"{out}/lineage", f"{out}/.lineage_old")

    assert run_with_lineage(spark, _result(spark), out, n_buckets=4, run_id="r3") == [3]
    log = spark.read.parquet(f"{out}/lineage")
    assert {(r.bucket, r.commit_seq) for r in log.collect()} == {(0, 1), (1, 1), (2, 2), (3, 3)}
    assert run_with_lineage(spark, _result(spark), out, n_buckets=4, run_id="r4") == []
    assert not os.path.exists(f"{out}/.lineage_old")
    assert all(r.ok for r in verify_lineage(spark, out).collect())


def test_pre_commit_seq_lineage_rejected(spark, tmp_path):
    # A lineage dir from before the commit_seq column must fail loudly:
    # its null commit_seq rows would be silently dropped by every
    # as_of filter and the next commit_seq would restart at 1.
    import pytest

    out = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(0, 10, "c", 0.1, "r1")],
        "bucket int, n_rows long, checksum string, wall_clock_s double, "
        "run_id string",
    ).write.parquet(f"{out}/lineage")
    with pytest.raises(ValueError, match="commit_seq"):
        committed_buckets(spark, out)


def test_missing_lineage_is_first_run(spark, tmp_path):
    assert committed_buckets(spark, str(tmp_path / "nope")) == set()



def _urls(spark, n=40):
    return spark.createDataFrame(
        [(f"https://h{i % 7}.example/p/{i}", f"text {i}") for i in range(n)],
        "url string, extracted_text string")


def _stale_committed_task(df, table_dir, staged, partition_by=()):
    """Leave `df` as one committed task of a job that died before its
    job commit: table_dir/_temporary/0/task_…/[partition dirs/]part-….
    That is the layout a run killed inside its append leaves behind."""
    import shutil

    df.coalesce(1).write.partitionBy(*partition_by).parquet(str(staged))
    task = table_dir / "_temporary" / "0" / "task_202601010000_0001_m_000000"
    shutil.copytree(staged, task, ignore=shutil.ignore_patterns("_*", ".*"))


def test_stale_data_task_is_not_committed_twice(spark, tmp_path):
    # the restart's data append must not merge the dead job's committed
    # bucket-1 task beside the rows it writes itself
    out = tmp_path / "out"
    stale = with_bucket(_urls(spark), 4).filter("bucket = 1")
    assert stale.count() > 0
    _stale_committed_task(stale, out / "data", tmp_path / "staged", ["bucket"])
    assert run_with_lineage(spark, _urls(spark), str(out), n_buckets=4) == [0, 1, 2, 3]
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == 40
    assert data.select("url").distinct().count() == 40
    assert all(r.ok for r in verify_lineage(spark, str(out)).collect())


def test_stale_lineage_task_is_not_committed(spark, tmp_path):
    # run r1 commits buckets 0-1; a run killed inside its lineage append
    # left rows for buckets 2-3 as a committed task under lineage/. The
    # restart commits bucket 2 only, and its log must read as a clean
    # run's: bucket 3 uncommitted, no snapshot of the dead run.
    clean, out = tmp_path / "clean", tmp_path / "out"
    for d in (clean, out):
        run_with_lineage(spark, _urls(spark), str(d), n_buckets=4,
                         max_buckets_this_run=2, run_id="r1")
    dead = (spark.read.parquet(f"{clean}/lineage")
            .withColumn("bucket", F.col("bucket") + 2)
            .withColumn("commit_seq", F.lit(2))
            .withColumn("run_id", F.lit("dead")))
    _stale_committed_task(dead, out / "lineage", tmp_path / "staged")
    for d in (clean, out):
        assert run_with_lineage(spark, _urls(spark), str(d), n_buckets=4,
                                max_buckets_this_run=1, run_id="r2") == [2]
    assert committed_buckets(spark, str(out)) == committed_buckets(spark, str(clean))
    snap = [tuple(r) for r in snapshots(spark, str(out)).collect()]
    assert snap == [tuple(r) for r in snapshots(spark, str(clean)).collect()]


def test_restart_after_first_lineage_append_died(spark, tmp_path):
    # the first run committed all its data, then died inside its lineage
    # append: lineage/ holds only that job's _temporary. The restart
    # sweeps it, must read "no log yet" off the empty dir and commit
    # every bucket afresh.
    import shutil

    out = tmp_path / "out"
    run_with_lineage(spark, _urls(spark), str(out), n_buckets=4, run_id="r1")
    attempt = out / "lineage" / "_temporary" / "0" / "_temporary" / "attempt_x"
    shutil.move(out / "lineage", tmp_path / "log")
    shutil.copytree(tmp_path / "log", attempt, ignore=shutil.ignore_patterns("_*", ".*"))
    assert run_with_lineage(spark, _urls(spark), str(out), n_buckets=4,
                            run_id="r2") == [0, 1, 2, 3]
    assert spark.read.parquet(f"{out}/data").count() == 40
    checks = verify_lineage(spark, str(out)).collect()
    assert len(checks) == 4 and all(r.ok for r in checks)
