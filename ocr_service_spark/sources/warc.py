"""WARC source connector — read Common-Crawl-style archives straight
into the authoritative input shape documents(url, warc_ts, html, ...).

The north star's input is "an Iceberg table of Common-Crawl-style web
pages"; upstream of that table sits the crawl itself, which ships as
WARC (ISO 28500): a stream of records, each a header block
(`WARC/1.0\\r\\n` + name:value lines) + payload, separated by
`\\r\\n\\r\\n`, and — in Common Crawl's layout — each record
individually gzip-compressed and concatenated (a "member" stream). No
external libs needed: stdlib zlib decompresses member streams.

Scale shape (the industry-standard one for CC): WARC gzip members are
NOT splittable without an index, so parallelism is FILE-level — one
task per archive file (Common Crawl ships ~64k files of ~1 GB per
snapshot, far more files than executors at any realistic cluster
size). `read_warc` is binaryFile scan → mapInArrow(parse) so a file's
records stream out of one Arrow batch iterator without materializing
the whole scan as rows first; payload bytes go straight into the
extraction UDF's binary column.

`write_warc_bytes` builds spec-shaped archives (used by tests and the
driver oracle query — no external data, per the build contract).

Reference analog: none (the reference reads loose image files,
core/ocr_engine.py:84-119); this source exists for the north rule's
Common-Crawl framing.
"""

from __future__ import annotations

import gzip
import io
import re
import zlib
from collections.abc import Iterator
from datetime import datetime

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ocr_service_spark.operators.pystage import arrow_schema

__all__ = ["build_record", "write_warc_bytes", "parse_warc", "read_warc",
           "warc_file_stats", "WARC_SCHEMA", "WARC_STATS_SCHEMA"]

WARC_SCHEMA = ("url string, warc_ts timestamp, html binary, "
               "content_type string, warc_file string, n_skipped long")

WARC_STATS_SCHEMA = "warc_file string, n_records long, n_skipped long"

_CRLF = b"\r\n"
# gzip member header: magic 1f8b, CM=8 (deflate), FLG reserved bits clear
_MEMBER_HEADER = re.compile(rb"\x1f\x8b\x08[\x00-\x1f]")
# compressed bytes handed to zlib per call: a few typical members
_FEED = 1 << 16


def build_record(url: str, ts: datetime, payload: bytes,
                 content_type: str = "text/html") -> bytes:
    """One WARC/1.0 response record (uncompressed)."""
    headers = (
        b"WARC/1.0" + _CRLF
        + b"WARC-Type: response" + _CRLF
        + b"WARC-Target-URI: " + url.encode("utf-8") + _CRLF
        + b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode() + _CRLF
        + b"Content-Type: " + content_type.encode() + _CRLF
        + b"Content-Length: " + str(len(payload)).encode() + _CRLF
        + _CRLF
    )
    return headers + payload + _CRLF + _CRLF


def write_warc_bytes(records: list[tuple[str, datetime, bytes]],
                     member_gzip: bool = True) -> bytes:
    """Records → archive bytes; member_gzip=True gives the Common-Crawl
    layout (each record its own gzip member, concatenated)."""
    out = io.BytesIO()
    for url, ts, payload in records:
        rec = build_record(url, ts, payload)
        out.write(gzip.compress(rec, mtime=0) if member_gzip else rec)
    return out.getvalue()


def _split_members(raw: bytes, stats: dict | None = None) -> Iterator[bytes]:
    """Decompress a concatenated gzip-member stream (or pass plain
    bytes through untouched). A corrupt member never fails the file:
    on zlib.error the scanner resyncs to the next gzip member header and
    keeps going (counted in stats['n_skipped'] — at least one record
    was lost). A resync candidate is the 1f8b magic followed by CM=8
    (deflate) and a FLG byte with the reserved bits (0xE0) clear, so
    stray 1f8b pairs inside the corrupt member's compressed bytes are
    not counted as further losses. A member that STALLS without
    reaching stream end (no eof flag) is dropped the same way: zlib
    never got to the CRC, so the partial plaintext is unverifiable — a
    mid-stream byte flip can corrupt decoded bytes without raising, and
    yielding them would hand parse_warc a complete-looking record with a silently mangled
    payload (hypothesis-found: n=2, victim=1, off=157, xor=32). True
    truncation of the final member looks identical from here and is
    counted under the same rule — only CRC-verified plaintext yields.
    An archive compressed as ONE gzip member (whole-file gzip rather
    than per-record members) that is truncated therefore yields zero
    records with n_skipped == 1."""
    if raw[:2] != b"\x1f\x8b":
        yield raw
        return
    view = memoryview(raw)
    pos = 0
    while pos < len(raw):
        # feed bounded slices until the member ends: handing zlib the
        # whole remainder would copy it (and again into unused_data)
        # once per member, quadratic in archive size
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        fed, parts = pos, []
        try:
            while not d.eof and fed < len(raw):
                parts.append(d.decompress(view[fed:fed + _FEED]))
                fed = min(fed + _FEED, len(raw))
        except zlib.error:
            parts = None
        if parts is None or not d.eof:
            # CRC/stream error, or a stall before stream end (flip or
            # truncation): drop the unverifiable bytes, count, resync
            if stats is not None:
                stats["n_skipped"] = stats.get("n_skipped", 0) + 1
            nxt = _MEMBER_HEADER.search(raw, pos + 2)
            if nxt is None:
                return
            pos = nxt.start()
            continue
        yield b"".join(parts)
        consumed = fed - pos - len(d.unused_data)
        if consumed <= 0:  # pragma: no cover - corrupt trailing garbage
            return
        pos += consumed


def parse_warc(raw: bytes, stats: dict | None = None) -> Iterator[dict]:
    """Archive bytes → response-record dicts (url, warc_ts, payload,
    content_type). Non-response records (warcinfo, request, metadata)
    are filtered BY DESIGN (standard CC extraction-reader behavior) and
    not counted; malformed records — corrupt gzip member, unterminated
    or CRLF-less header block, bad Content-Length, bad WARC-Date,
    missing Target-URI — are skipped rather than failing the file (the
    row-level skip-on-error contract, kernel/dispatch.py) and COUNTED
    in stats['n_skipped'] so silent drops are observable."""

    def skip() -> None:
        if stats is not None:
            stats["n_skipped"] = stats.get("n_skipped", 0) + 1

    for chunk in _split_members(raw, stats):
        if chunk and chunk.find(b"WARC/") < 0:
            # non-empty chunk with no record marker at all: raw garbage
            # (e.g. an archive truncated inside the 2-byte gzip magic
            # passes through _split_members undetected) — count it
            skip()
            continue
        pos = 0
        while True:
            start = chunk.find(b"WARC/", pos)
            if start < 0:
                break
            hdr_end = chunk.find(_CRLF + _CRLF, start)
            if hdr_end < 0:
                # unterminated header block (truncation or LF-only
                # line endings): nothing after it is parseable
                skip()
                break
            headers: dict[str, str] = {}
            for line in chunk[start:hdr_end].split(_CRLF)[1:]:
                k, _, v = line.partition(b":")
                headers[k.strip().decode("latin-1").lower()] = \
                    v.strip().decode("latin-1")
            try:
                length = int(headers.get("content-length", ""))
            except ValueError:
                skip()
                pos = hdr_end + 4
                continue
            if length < 0:
                skip()
                pos = hdr_end + 4
                continue
            body = chunk[hdr_end + 4:hdr_end + 4 + length]
            pos = hdr_end + 4 + length
            if headers.get("warc-type") != "response":
                continue  # by-design filter, not a drop
            if len(body) < length:
                # lying Content-Length / truncated payload
                skip()
                continue
            url = headers.get("warc-target-uri")
            date = headers.get("warc-date", "")
            try:
                ts = datetime.strptime(date, "%Y-%m-%dT%H:%M:%SZ")
            except ValueError:
                skip()
                continue
            if url is None:
                skip()
                continue
            yield {
                "url": url,
                "warc_ts": ts,
                "payload": body,
                "content_type": headers.get("content-type", ""),
            }


def _archives(spark: SparkSession, path: str, glob: str, ddl: str, rows) -> DataFrame:
    """binaryFile scan of `path` → mapInArrow: one batch of
    `rows(path, records, n_skipped)` (Arrow schema of `ddl`) per archive,
    so each file's rows stream out without materializing the whole
    scan as rows first."""
    schema = arrow_schema(ddl)

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for f in batch.to_pylist():
                stats: dict = {}
                recs = list(parse_warc(f["content"], stats))
                out = rows(f["path"], recs, stats.get("n_skipped", 0))
                if out:
                    yield pa.RecordBatch.from_pylist(out, schema=schema)

    files = (
        spark.read.format("binaryFile").option("pathGlobFilter", glob)
        .load(path).select("path", "content")
    )
    return files.mapInArrow(parse, schema=ddl)


def read_warc(spark: SparkSession, path: str,
              glob: str = "*.warc.gz") -> DataFrame:
    """Directory of WARC archives → documents-shaped rows. File-level
    parallelism (see module docstring); the parse runs inside
    mapInArrow so record rows stream out per archive. A fully-corrupt
    archive yields no rows here; its drop count stays observable via
    warc_file_stats."""
    return _archives(spark, path, glob, WARC_SCHEMA, lambda path_, recs, n_skipped: [
        {"url": r["url"], "warc_ts": r["warc_ts"], "html": r["payload"],
         "content_type": r["content_type"], "warc_file": path_, "n_skipped": n_skipped}
        for r in recs])


def warc_file_stats(spark: SparkSession, path: str,
                    glob: str = "*.warc.gz") -> DataFrame:
    """Per-archive audit: (warc_file, n_records, n_skipped) — one row
    per file even when EVERY record was dropped, so a corrupt archive
    can't disappear silently (read_warc emits no rows for it). Same
    file-level parallelism as read_warc; meant for ingest monitoring
    and lineage, not the hot path."""
    return _archives(spark, path, glob, WARC_STATS_SCHEMA, lambda path_, recs, n_skipped: [
        {"warc_file": path_, "n_records": len(recs), "n_skipped": n_skipped}])
