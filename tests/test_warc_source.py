"""WARC connector: member-gzip and plain archives parse to identical
records; non-response/malformed records skip; the Spark reader streams
records out of binaryFile rows and feeds the extraction pipeline."""

import random
import time
from datetime import datetime, timedelta

import pyspark.sql.functions as F

from ocr_service_spark.sources.warc import (
    build_record,
    parse_warc,
    read_warc,
    write_warc_bytes,
)

RECS = [
    ("https://a.example/1", datetime(2025, 1, 1, 0, 0, 0), b"<html><body><p>" + b"alpha beta " * 30 + b"</p></body></html>"),
    ("https://a.example/2", datetime(2025, 1, 2, 3, 4, 5), b"<html><body><p>" + b"gamma delta " * 30 + b"</p></body></html>"),
]


def test_parse_roundtrip_gzip_and_plain():
    for member_gzip in (True, False):
        raw = write_warc_bytes(RECS, member_gzip=member_gzip)
        got = list(parse_warc(raw))
        assert [(g["url"], g["warc_ts"], g["payload"]) for g in got] == RECS


def test_non_response_and_malformed_records_skipped():
    good = build_record(*RECS[0])
    warcinfo = good.replace(b"WARC-Type: response", b"WARC-Type: warcinfo")
    broken = good.replace(b"Content-Length: ", b"Content-Length: x")
    raw = warcinfo + broken + good
    got = list(parse_warc(raw))
    assert len(got) == 1 and got[0]["url"] == RECS[0][0]


def test_resync_skips_false_gzip_magics():
    """A corrupt member carrying stray 1f8b pairs (CM 0 and CM 7) costs
    one lost record, counted once: resync only lands on a real member
    header. A truncated whole-file-gzip archive yields nothing and
    counts one skip."""
    import gzip

    third = ("https://a.example/3", RECS[0][1], RECS[0][2])
    first, mid, last = (gzip.compress(build_record(*r), mtime=0)
                        for r in (RECS[0], RECS[1], third))
    mid = bytearray(mid)
    mid[30:33] = b"\x1f\x8b\x00"
    mid[50:53] = b"\x1f\x8b\x07"
    stats = {}
    got = list(parse_warc(first + bytes(mid) + last, stats))
    assert [g["url"] for g in got] == [RECS[0][0], third[0]]
    assert stats["n_skipped"] == 1

    whole = gzip.compress(b"".join(build_record(*r) for r in RECS), mtime=0)
    stats = {}
    assert list(parse_warc(whole[:len(whole) // 2], stats)) == []
    assert stats["n_skipped"] == 1


def _archive(n, payload_bytes, seed=0):
    rng = random.Random(seed)
    recs = [(f"https://big.example/{i}", datetime(2025, 1, 1) + timedelta(seconds=i),
             rng.randbytes(payload_bytes)) for i in range(n)]
    return recs, write_warc_bytes(recs)


def test_members_larger_than_a_feed_parse_and_resync():
    """Incompressible 150 KB payloads span several zlib feeds per
    member; a flip inside the second member costs exactly that record."""
    recs, raw = _archive(4, 150_000)
    got = list(parse_warc(raw))
    assert [(g["url"], g["warc_ts"], g["payload"]) for g in got] == recs
    second = raw.index(b"\x1f\x8b\x08", 1)
    bad = bytearray(raw)
    bad[second + 90_000] ^= 0x55
    stats = {}
    got = list(parse_warc(bytes(bad), stats))
    assert [g["url"] for g in got] == [recs[i][0] for i in (0, 2, 3)]
    assert stats == {"n_skipped": 1}


def test_parse_time_per_record_is_flat_in_archive_size():
    """Each member's decompressor sees a bounded slice, not the rest of
    the archive: per-record CPU at 8,000 records stays within 2x of
    the per-record CPU at 500 (quadratic parsing read ~6x)."""
    def per_record(n, repeats):
        _, raw = _archive(n, 1_000)
        best = float("inf")
        for _ in range(repeats):
            t0 = time.process_time()
            assert sum(1 for _ in parse_warc(raw)) == n
            best = min(best, time.process_time() - t0)
        return best / n

    assert per_record(8_000, 2) < 2 * per_record(500, 5)


def test_skip_accounting_and_file_stats(spark, tmp_path):
    """read_warc surfaces per-file n_skipped; warc_file_stats reports
    one row per archive even when every record was dropped."""
    from ocr_service_spark.sources.warc import warc_file_stats

    d = tmp_path / "warcs"
    d.mkdir()
    # clean archive, archive with one truncated member, fully-corrupt
    (d / "clean.warc.gz").write_bytes(write_warc_bytes(RECS))
    import gzip as _gz
    good = _gz.compress(build_record(*RECS[0]), mtime=0)
    cut = _gz.compress(build_record(*RECS[1]), mtime=0)[:40]
    (d / "partial.warc.gz").write_bytes(good + cut)
    (d / "garbage.warc.gz").write_bytes(b"\x1f\x8b" + b"\x00" * 64)

    rows = read_warc(spark, str(d)).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r.warc_file.rsplit("/", 1)[-1], []).append(r)
    assert len(by_file["clean.warc.gz"]) == 2
    assert all(r.n_skipped == 0 for r in by_file["clean.warc.gz"])
    assert len(by_file["partial.warc.gz"]) == 1
    assert by_file["partial.warc.gz"][0].n_skipped >= 1
    assert "garbage.warc.gz" not in by_file  # no rows ...

    stats = {r.warc_file.rsplit("/", 1)[-1]: r
             for r in warc_file_stats(spark, str(d)).collect()}
    assert set(stats) == {"clean.warc.gz", "partial.warc.gz",
                          "garbage.warc.gz"}  # ... but never invisible
    assert stats["clean.warc.gz"].n_records == 2
    assert stats["clean.warc.gz"].n_skipped == 0
    assert stats["partial.warc.gz"].n_records == 1
    assert stats["partial.warc.gz"].n_skipped >= 1
    assert stats["garbage.warc.gz"].n_records == 0
    assert stats["garbage.warc.gz"].n_skipped >= 1


def test_read_warc_spark_and_extraction(spark, tmp_path):
    import gzip

    d = tmp_path / "warcs"
    d.mkdir()
    (d / "part-0.warc.gz").write_bytes(write_warc_bytes(RECS[:1]))
    (d / "part-1.warc.gz").write_bytes(write_warc_bytes(RECS[1:]))
    df = read_warc(spark, str(d))
    rows = {r.url: r for r in df.collect()}
    assert set(rows) == {u for u, _, _ in RECS}
    assert rows["https://a.example/1"].warc_ts == RECS[0][1]

    from ocr_service_spark.pipeline import extract_documents

    out = extract_documents(
        df.withColumn("doc_id", F.xxhash64("url")).withColumn("lang", F.lit("en"))
    ).collect()
    texts = {r.url: r.extracted_text for r in out}
    assert texts["https://a.example/1"].startswith("alpha beta")
    assert all(r.error is None for r in out)
