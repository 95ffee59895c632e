"""WARC source: Common-Crawl-style archives → the pages table.

The reference's only scan is an HTTP multipart upload (S1,
routes.py:64-107); a table-shaped engine over Common-Crawl-like pages
(BASELINE input_hint) also needs the path from RAW crawl archives to
the `(url, warc_ts, html, text, lang)` table. This module is that
connector, written from scratch against the public WARC/1.0 format
(ISO 28500):

- ``parse_warc(buf)`` — bytes → iterator of (url, warc_ts, html) from
  ``response`` records. Accepts plain WARC and gzip archives,
  including Common Crawl's member-per-record compression
  (``_gunzip_members`` inflates concatenated members in one linear
  pass). The HTTP response envelope is stripped; the body is the html
  payload.
- ``read_warc(spark, path)`` — DataFrame in the pages schema plus an
  ``error`` column (NULL on good rows). Spark side: a ``binaryFile``
  scan (one row per archive — WARC.gz is not byte-splittable, so
  parallelism is file-granular; a real crawl dump is tens of
  thousands of ~1 GB archives, which keeps every wave full at any
  cluster size, and the standard ~1 GB archive sits well under the
  2 GB binaryFile ceiling) feeding ONE ``mapInArrow`` parse pass that
  emits at most ``pipeline.ARROW_BATCH_ROWS`` records per batch.
  Failures are data (C2, at the file level): a malformed RECORD is
  skipped with a bounded resync scan; an unreadable FILE yields a
  single error row (url = file path) instead of failing the job.
- ``extract_warc(spark, path)`` — the same parse body piped into the
  extraction body in one stage: extracted rows straight from archives.

Totality: the parser never raises on garbage — explicit
Content-Length framing, bounded resync to the next record marker,
skip-on-bad-record. Pinned by tests/test_warc.py (round-trip vs the
fixture generator, gzip members, corruption, and extraction parity
with the parquet path).
"""

from __future__ import annotations

import datetime as dt
import gzip
import zlib
from typing import Iterator

import pyarrow as pa

_MARKER = b"WARC/1."
_GZIP_MAGIC = b"\x1f\x8b"


def _parse_ts(s: str) -> dt.datetime | None:
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return dt.datetime.strptime(
                s.strip(), fmt).replace(tzinfo=dt.timezone.utc)
        except ValueError:
            continue
    return None


def _strip_http(body: bytes) -> bytes:
    """Drop the HTTP response envelope if present (WARC response
    records carry ``application/http``: status line + headers + CRLF
    CRLF + payload)."""
    if body[:5] in (b"HTTP/", b"http/"):
        cut = body.find(b"\r\n\r\n")
        if cut >= 0:
            return body[cut + 4:]
    return body


_GUNZIP_CHUNK = 1 << 18


def _gunzip_members(buf: bytes) -> bytes:
    """Decompress a (possibly member-per-record) gzip archive in ONE
    linear pass. stdlib ``gzip.decompress`` re-slices the remaining
    buffer once per member — O(members × remaining) byte copies, i.e.
    QUADRATIC on Common-Crawl-style archives (~90k members/GB; measured
    2 s of pure memcpy on a 43 MB / 3k-member fixture, unusable at real
    archive sizes). Here each member is fed in bounded chunks, so
    ``unused_data`` never exceeds one chunk. Truncated or corrupt tails
    yield whatever decompressed cleanly (the dangling record is dropped
    by parse_warc's framing check) — totality preserved."""
    out: list[bytes] = []
    mv = memoryview(buf)
    pos, n = 0, len(buf)
    while pos < n and buf[pos:pos + 2] == _GZIP_MAGIC:
        d = zlib.decompressobj(31)
        try:
            while not d.eof and pos < n:
                chunk = mv[pos:pos + _GUNZIP_CHUNK]
                out.append(d.decompress(chunk))
                pos += len(chunk)
        except zlib.error:
            break
        if not d.eof:
            break  # truncated final member: keep its partial output
        pos -= len(d.unused_data)  # rewind to the next member's start
    return b"".join(out)


def parse_warc(buf: bytes) -> Iterator[tuple[str, dt.datetime | None, bytes]]:
    """Yield (url, warc_ts, html) for every well-formed ``response``
    record; skip anything malformed (bad headers, missing/garbage
    Content-Length, truncated body) by resyncing to the next record
    marker. Total on arbitrary bytes."""
    if buf[:2] == _GZIP_MAGIC:
        buf = _gunzip_members(buf)
    pos = buf.find(_MARKER)
    n = len(buf)
    while 0 <= pos < n:
        hdr_end = buf.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            return
        headers: dict[str, str] = {}
        ok = True
        for line in buf[pos:hdr_end].split(b"\r\n")[1:]:
            k, sep, v = line.partition(b":")
            if not sep:
                ok = False
                break
            try:
                headers[k.strip().decode("ascii").lower()] = \
                    v.strip().decode("utf-8", "replace")
            except UnicodeDecodeError:
                ok = False
                break
        body_at = hdr_end + 4
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            length = -1
        if not ok or length < 0 or body_at + length > n:
            pos = buf.find(_MARKER, pos + len(_MARKER))  # resync
            continue
        if headers.get("warc-type") == "response" \
                and "warc-target-uri" in headers:
            yield (headers["warc-target-uri"],
                   _parse_ts(headers.get("warc-date", "")),
                   _strip_http(buf[body_at:body_at + length]))
        nxt = buf.find(_MARKER, body_at + length)
        pos = nxt


def write_warc(path: str, rows, gzip_members: bool = False) -> None:
    """Write (url, warc_ts, payload) rows as a WARC/1.0 archive of
    ``response`` records with an HTTP envelope — the test/fixture
    writer (Common Crawl member-per-record compression when
    ``gzip_members``). A None timestamp (parse_warc's value for an
    unparseable WARC-Date) round-trips as the Unix epoch, so
    write_warc(read_warc(...)) is total."""
    out = []
    for url, ts, payload in rows:
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Content-Length: " + str(len(payload)).encode() +
                b"\r\n\r\n" + payload)
        rec = (b"WARC/1.0\r\n"
               b"WARC-Type: response\r\n"
               b"WARC-Target-URI: " + url.encode() + b"\r\n"
               b"WARC-Date: " +
               (ts.strftime("%Y-%m-%dT%H:%M:%SZ") if ts is not None
                else "1970-01-01T00:00:00Z").encode() + b"\r\n"
               b"Content-Type: application/http; msgtype=response\r\n"
               b"Content-Length: " + str(len(http)).encode() +
               b"\r\n\r\n" + http + b"\r\n\r\n")
        out.append(gzip.compress(rec) if gzip_members else rec)
    with open(path, "wb") as f:
        f.write(b"".join(out))


WARC_SCHEMA = ("url string, warc_ts timestamp, html binary, "
               "text string, lang string, error string")
_WARC_NAMES = [c.split()[0] for c in WARC_SCHEMA.split(", ")]


def _pages_batch(rows: list) -> pa.RecordBatch:
    """(url, warc_ts, html, error) rows → one WARC_SCHEMA batch."""
    url, ts, html, error = zip(*rows)
    blank = pa.array([""] * len(rows), pa.string())
    return pa.RecordBatch.from_arrays([
        pa.array(url, pa.string()),
        pa.array(ts, pa.timestamp("us", tz="UTC")),
        pa.array(html, pa.binary()),
        blank, blank,
        pa.array(error, pa.string()),
    ], names=_WARC_NAMES)


def _page_batches(it: Iterator[pa.RecordBatch],
                  max_rows: int) -> Iterator[pa.RecordBatch]:
    """The one archive-to-rows body: ``(path, content)`` batches →
    WARC_SCHEMA batches of at most ``max_rows`` records. Archives are
    read one at a time and parsed lazily, so a batch never holds more
    than ``max_rows`` payloads whatever an archive's size. An archive
    whose parse raises ends in ONE error row (url = its path) after the
    records it gave — the scan never fails on a file. Callers pass
    pipeline.ARROW_BATCH_ROWS from the driver, so a worker running this
    body imports no extraction code."""
    for batch in it:
        paths, contents = batch.column("path"), batch.column("content")
        for i in range(batch.num_rows):
            rows = []
            try:
                for url, ts, html in parse_warc(contents[i].as_py() or b""):
                    rows.append((url, ts, html, None))
                    if len(rows) == max_rows:
                        yield _pages_batch(rows)
                        rows = []
            except Exception as e:  # totality: never fail the scan
                rows.append((paths[i].as_py(), None, None,
                             f"warc: {type(e).__name__}: {e}"))
            if rows:
                yield _pages_batch(rows)


def _extracted_batches(it: Iterator[pa.RecordBatch],
                       max_rows: int) -> Iterator[pa.RecordBatch]:
    """The fused body: _page_batches into udfs.extract_batches, whose
    pass-through ``bucket`` column is NULL here."""
    from . import udfs

    return udfs.extract_batches(
        b.append_column("bucket", pa.nulls(b.num_rows, pa.int32()))
        for b in _page_batches(it, max_rows))


def _archives(spark, path: str):
    return (spark.read.format("binaryFile").load(path)
            .select("path", "content"))


def read_warc(spark, path: str):
    """Read WARC archive file(s) at ``path`` (file, dir, or glob) into
    the pages schema + ``error``. Good rows have error NULL and empty
    text/lang (raw crawl archives carry no extraction); an archive
    whose parse raises ends in ONE error row. Feed the result straight
    to pipeline.run_extract / runner.run_job (they select url, warc_ts,
    html)."""
    from .pipeline import ARROW_BATCH_ROWS

    return _archives(spark, path).mapInArrow(
        lambda it: _page_batches(it, ARROW_BATCH_ROWS), WARC_SCHEMA)


def extract_warc(spark, path: str):
    """Fused raw-archive extraction: the ``read_warc`` body piped into
    udfs.extract_batches in ONE mapInArrow stage, so parsed payloads
    never cross the Arrow boundary (``read_warc`` → ``run_extract``
    ships each one JVM↔Python twice). On a 4-core VM (local[4], 8
    member-gzip archives × 400 fixture docs, noop sink): 0.32 s median
    against 0.37 s composed. Returns pipeline.EXTRACTED_COLUMNS,
    row-identical to the composed path by construction (pinned by
    tests/test_warc.py), an archive's error row included as a FAILED
    row. Parallelism is file-granular, like ``read_warc``. There is no
    bucket; use ``read_warc`` + ``runner.run_job`` for resume bucketing
    and lineage."""
    from . import udfs
    from .pipeline import ARROW_BATCH_ROWS, EXTRACTED_COLUMNS

    return (_archives(spark, path)
            .mapInArrow(lambda it: _extracted_batches(it, ARROW_BATCH_ROWS),
                        udfs.EXTRACTED_FIELDS_SCHEMA)
            .select(*EXTRACTED_COLUMNS))
