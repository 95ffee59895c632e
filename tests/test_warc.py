"""WARC source connector (webextract/warc.py): round-trip vs the
fixture generator, gzip member compression, corruption totality, and
extraction parity with the parquet path."""

import gzip
import itertools
import os

import pyarrow as pa

from webextract import fixtures, pipeline, udfs, warc


def _rows(n=30):
    return [(u, ts, payload)
            for u, ts, payload, _t, _l in fixtures.gen_pages(n)]


def test_parse_roundtrip_plain_and_gzip(tmp_path):
    rows = _rows()
    for gz in (False, True):
        p = str(tmp_path / (f"a{int(gz)}.warc" + (".gz" if gz else "")))
        warc.write_warc(p, rows, gzip_members=gz)
        got = list(warc.parse_warc(open(p, "rb").read()))
        assert [(u, ts.replace(tzinfo=None), bytes(b))
                for u, ts, b in got] \
            == [(u, ts.replace(tzinfo=None), bytes(b)) for u, ts, b in rows]


def test_write_warc_none_timestamp_roundtrips_as_epoch(tmp_path):
    # parse_warc models warc_ts as Optional (None on unparseable
    # WARC-Date); write_warc must stay total on such rows (r4 advice)
    rows = [("http://x.test/none", None, b"<html>a</html>")]
    p = str(tmp_path / "none_ts.warc")
    warc.write_warc(p, rows)
    got = list(warc.parse_warc(open(p, "rb").read()))
    assert len(got) == 1
    u, ts, b = got[0]
    assert u == rows[0][0] and bytes(b) == rows[0][2]
    assert ts is not None and (ts.year, ts.month, ts.day) == (1970, 1, 1)


def test_parse_total_on_garbage():
    # arbitrary bytes, truncated archives, and a corrupted middle
    # record must never raise — bad records are skipped, good ones kept
    assert list(warc.parse_warc(b"")) == []
    assert list(warc.parse_warc(b"\x00" * 256)) == []
    assert list(warc.parse_warc(b"WARC/1.0\r\nbroken")) == []
    rows = _rows(6)
    import tempfile
    p = os.path.join(tempfile.mkdtemp(), "w.warc")
    warc.write_warc(p, rows)
    data = open(p, "rb").read()
    # corrupt the third record's Content-Length framing
    third = data.find(b"WARC/1.0", data.find(
        b"WARC/1.0", data.find(b"WARC/1.0") + 1) + 1)
    broken = data[:third] + data[third:].replace(
        b"Content-Length: ", b"Content-Length: x", 1)
    got = list(warc.parse_warc(broken))
    urls = [u for u, _, _ in got]
    assert rows[0][0] in urls and rows[1][0] in urls
    assert len(got) < len(rows)  # the corrupted record is skipped
    # truncated gzip archive: leading intact members salvaged
    gz = os.path.join(tempfile.mkdtemp(), "w.warc.gz")
    warc.write_warc(gz, rows, gzip_members=True)
    gdata = open(gz, "rb").read()
    salvaged = list(warc.parse_warc(gdata[: len(gdata) - 40]))
    assert 0 < len(salvaged) < len(rows)


def test_read_warc_extraction_parity(spark, tmp_path):
    """read_warc feeds run_extract and yields the SAME extraction as
    the parquet pages path over the same fixture rows."""
    n = 40
    wp = str(tmp_path / "pages.warc.gz")
    warc.write_warc(wp, _rows(n), gzip_members=True)
    pq = str(tmp_path / "pages.parquet")
    fixtures.write_pages_parquet(pq, n)

    pages_w = warc.read_warc(spark, wp)
    assert pages_w.filter("error IS NOT NULL").count() == 0
    got_w = {r["url"]: (r["text"], r["status"], r["confidence"])
             for r in pipeline.run_extract(pages_w).collect()}
    got_p = {r["url"]: (r["text"], r["status"], r["confidence"])
             for r in pipeline.run_extract(
                 spark.read.parquet(pq)).collect()}
    assert got_w == got_p and len(got_w) == n


def test_read_warc_unreadable_file_is_error_row(spark, tmp_path):
    # a file that breaks the gzip layer entirely yields ONE error row
    # (url = file path), not a job failure
    bad = tmp_path / "bad.warc.gz"
    bad.write_bytes(gzip.compress(b"not a warc")[:10])
    ok = str(tmp_path / "ok.warc")
    warc.write_warc(ok, _rows(3))
    out = warc.read_warc(spark, str(tmp_path) + "/*.warc*").collect()
    good = [r for r in out if r["error"] is None]
    assert len(good) == 3
    # the truncated-gzip file salvages to zero rows (no intact member)
    # rather than erroring — totality at the record level; a genuinely
    # raising file is covered by the parser's try/except contract
    assert all(r["url"].startswith("https://") for r in good)


def test_parse_warc_fuzz_total():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(st.binary(max_size=2048), st.booleans(), st.booleans())
    def run(blob, prefix, gz):
        data = (b"WARC/1.0\r\n" if prefix else b"") + blob
        if gz:
            data = gzip.compress(data)[: max(4, len(blob))]
        for url, ts, html in warc.parse_warc(data):
            assert isinstance(url, str) and isinstance(html, bytes)

    run()


def _archive_batch(paths):
    return pa.record_batch(
        [pa.array(paths, pa.string()),
         pa.array([open(p, "rb").read() for p in paths], pa.binary())],
        names=["path", "content"])


def test_page_batches_bounded_and_complete(tmp_path):
    """The shared archive-to-rows body never holds more than
    ARROW_BATCH_ROWS records in a batch, and its batches concatenate to
    parse_warc's records, archive after archive."""
    big = str(tmp_path / "big.warc.gz")
    warc.write_warc(big, _rows(600), gzip_members=True)
    small = str(tmp_path / "small.warc")
    warc.write_warc(small, _rows(5))
    n = pipeline.ARROW_BATCH_ROWS
    batches = list(warc._page_batches(iter([_archive_batch([big, small])]),
                                      n))
    assert [b.num_rows for b in batches] == [n] * (600 // n) + [600 % n, 5]
    got = pa.Table.from_batches(batches).to_pylist()
    want = [rec for p in (big, small)
            for rec in warc.parse_warc(open(p, "rb").read())]
    assert [(r["url"], r["warc_ts"], r["html"]) for r in got] == want
    assert all(r["text"] == r["lang"] == "" and r["error"] is None
               for r in got)


def test_raising_archive_gives_records_then_error_row(tmp_path, monkeypatch):
    """An archive whose parse raises after 3 records yields those 3 and
    ONE error row (url = the path) on both paths, and read → extract and
    the fused body end in the same FAILED row."""
    p = str(tmp_path / "a.warc")
    warc.write_warc(p, _rows(6))
    parse = warc.parse_warc

    def raising(buf):
        yield from itertools.islice(parse(buf), 3)
        raise ValueError("boom")

    monkeypatch.setattr(warc, "parse_warc", raising)
    n = pipeline.ARROW_BATCH_ROWS
    pages = pa.Table.from_batches(
        list(warc._page_batches(iter([_archive_batch([p])]), n))).to_pylist()
    assert len(pages) == 4
    assert pages[-1] == {"url": p, "warc_ts": None, "html": None, "text": "",
                         "lang": "", "error": "warc: ValueError: boom"}

    def public(batches):
        return pa.Table.from_batches(list(batches)).select(
            pipeline.EXTRACTED_COLUMNS).to_pylist()

    composed = public(udfs.extract_batches(
        b.append_column("bucket", pa.array([0] * b.num_rows, pa.int32()))
        for b in warc._page_batches(iter([_archive_batch([p])]), n)))
    fused = public(warc._extracted_batches(iter([_archive_batch([p])]), n))
    assert fused == composed and len(fused) == 4
    assert [r["url"] for r in fused] == [r["url"] for r in pages]
    assert fused[-1]["status"] == "FAILED"


def test_extract_warc_fused_equals_composed(spark, tmp_path):
    """extract_warc (fused parse+extract, zero Arrow payload hops) is
    row-identical on the public columns to read_warc → run_extract,
    across an Arrow batch boundary."""
    n = pipeline.ARROW_BATCH_ROWS + 44
    wp = str(tmp_path / "pages.warc.gz")
    warc.write_warc(wp, _rows(n), gzip_members=True)

    def final(df):
        return sorted((r["url"], r["text"], r["status"], r["confidence"],
                       r["n_pages"], r["error"])
                      for r in df.collect())

    fused = final(warc.extract_warc(spark, wp))
    composed = final(pipeline.run_extract(warc.read_warc(spark, wp)))
    assert fused == composed and len(fused) == n
