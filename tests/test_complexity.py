"""Adversarial input families for the HTML tokenizer, the PDF object
scan and the PDF content-stream tokenizer: parse time at n and at 4n
must grow about linearly (ratio ≤ 6, against 16 for a quadratic
parser), and stay under a µs-per-byte ceiling. FlateDecode streams
inflate within a per-document budget: in budget they decode exactly as
``zlib.decompress``, past it the document is FAILED with bounded
memory."""

import gc
import statistics
import time
import tracemalloc
import zlib

import pytest

from webextract import MAX_PAYLOAD_BYTES, dom, oracle, pdfrun

N = 5000

FAMILIES = {
    # every close tag misses the whole open-element stack: quadratic
    # when each one scans the stack (68 s at 480 KB)
    "unmatched_close": lambda n: "<div>" * n + "x" + "</span>" * n,
    # deep nesting closed from the outside in: one pop per element
    "nested_then_closed": lambda n: "<div><a>" * n + "x" + "</div>",
    # stray '<' runs and nameless close tags between text
    "stray_lt": lambda n: "a < b </> " * n,
    # quoted attribute values holding '>' and quotes of the other kind
    "quoted_attrs": lambda n: "<p title='a>b\"' data-x=\"c>'d\">t</p>" * n,
    # an open tag that never closes takes the rest of the page: a scan
    # that failed the tag and went on at the next '<' would rescan the
    # tail from every '<'
    "unclosed_quote": lambda n: '<a "' * n,
    # the same for a raw-text element, whose body scan comes first
    "unclosed_rawtext": lambda n: '<script x="' * n,
    # an element of plain text whose close tag names another element:
    # the leaf match fails at the close and falls through
    "leaf_mismatched_close": lambda n: "<a>text</b>" * n,
    # a leaf open tag whose text runs to the end of the page
    "leaf_unclosed_text": lambda n: "<p>" + "long text " * n,
}


def _times(small: bytes, large: bytes, parse=dom.parse_html,
           reps: int = 7) -> tuple[float, float]:
    """Median parse times of ``small`` and ``large`` over ``reps``
    interleaved runs of each. Timed in this thread's CPU time, which
    leaves out the time other processes hold the core; interleaved, so
    a slow spell of the host falls on both sizes alike; the median
    drops the runs a spell still hits. The cyclic collector is paused,
    as timeit does: a parse that allocates per token would otherwise
    pay for full collections whose cost grows with the heap that
    earlier tests left, not with the input."""
    t_small, t_large = [], []
    gc.collect()
    gc.disable()
    try:
        for _ in range(reps):
            for payload, out in ((small, t_small), (large, t_large)):
                t0 = time.thread_time()
                parse(payload)
                out.append(time.thread_time() - t0)
    finally:
        gc.enable()
    return statistics.median(t_small), statistics.median(t_large)


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_parse_html_is_linear(family):
    small = FAMILIES[family](N).encode()
    large = FAMILIES[family](4 * N).encode()
    t_small, t_large = _times(small, large)
    assert t_large / t_small <= 6, (family, t_small, t_large)
    assert t_large * 1e6 / len(large) < 5, (family, t_large, len(large))


# ------------------------------------------------------------ PDF

OBJ_N = 50_000  # bytes

OBJ_FAMILIES = {
    # N 0 obj headers with no endobj: each one searched to the end of
    # the file (1.9 s at 270 KB)
    "headers_without_endobj": lambda n: b"1 0 obj\n" * (n // 8),
    # a digit run that starts no header: one header attempt per digit,
    # each rescanning the rest of the run (61 s at 80 KB)
    "digit_run": lambda n: b"1" * n + b"\n1 0 obj\nendobj\n",
    # distinct headers closed by one endobj: each body ran from its
    # header to that endobj, a copy per header (95 MB for 45 KB)
    "overlapping_objects": lambda n: b"".join(
        b"%d 0 obj\n" % k for k in range(n // 12)) + b"endobj\n",
    # a page tree node whose /Kids arrays never close: a search for a
    # whole array retried from every '[' to the end of the body (0.61 s
    # at 40 KB); no page, so FAILED
    "unclosed_kids": lambda n: b"1 0 obj\n" + b"/Type /Pages /Kids [" * (n // 20)
    + b"\nendobj\n",
    # the same for a page's /Contents arrays, then one reference to a
    # missing object, so FAILED
    "unclosed_contents": lambda n: b"1 0 obj\n/Type /Page "
    + b"/Contents [" * (n // 11) + b"/Contents 9 0 R\nendobj\n",
}


@pytest.mark.parametrize("family", sorted(OBJ_FAMILIES))
def test_pdf_object_scan_is_linear(family):
    make = OBJ_FAMILIES[family]
    small, large = (b"%PDF-1.4\n" + make(n) for n in (OBJ_N, 4 * OBJ_N))
    parse = lambda p: oracle.extract_document("https://ex.org/o.pdf", p)  # noqa: E731
    # memory first: the quadratic copy would take gigabytes at 4n
    tracemalloc.start()
    try:
        rec = parse(small)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert rec["status"] == "FAILED"
    assert peak < 20 * len(small), (family, peak, len(small))
    t_small, t_large = _times(small, large, parse)
    assert t_large / t_small <= 6, (family, t_small, t_large)
    assert t_large * 1e6 / len(large) < 0.5, (family, t_large, len(large))


def _pdf(*streams: bytes, flate: bool = False) -> bytes:
    """A one-page PDF whose page content is ``streams``, in order."""
    ids = range(3, 3 + len(streams))
    objs = [b"<< /Type /Pages /Kids [2 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 1 0 R /Contents [%s] >>"
            % b" ".join(b"%d 0 R" % i for i in ids)]
    for st in streams:
        objs.append(b"<< /Length %d%s >>\nstream\n%s\nendstream" % (
            len(st), b" /Filter /FlateDecode" if flate else b"", st))
    return b"%PDF-1.4\n" + b"".join(
        b"%d 0 obj\n%s\nendobj\n" % (i, o) for i, o in enumerate(objs, 1))


PDF_N = 200_000  # content-stream bytes

# family → (content stream of about n bytes, µs/byte ceiling)
PDF_FAMILIES = {
    # bytes that start no token: skipped by one regex, not one Python
    # loop turn each (~0.8 µs/byte)
    "zero_runs": (lambda n: b"BT " + b"\x00" * n + b" ET", 0.15),
    "ff_runs": (lambda n: b"BT " + b"\xff" * n + b" ET", 0.15),
    # one text run per 7 bytes
    "tj_runs": (lambda n: b"BT /F1 12 Tf 72 712 Td " + b"(a) Tj " * (n // 7)
                + b"ET", 1.5),
    # one literal string of escapes, decoded by the nested-string path
    "escaped_string": (lambda n: b"BT (" + b"\\(" * (n // 2) + b") Tj ET",
                       1.5),
}


@pytest.mark.parametrize("family", sorted(PDF_FAMILIES))
def test_pdf_content_stream_is_linear(family):
    make, ceiling = PDF_FAMILIES[family]
    small, large = _pdf(make(PDF_N)), _pdf(make(4 * PDF_N))
    t_small, t_large = _times(small, large, pdfrun.extract_pdf)
    assert t_large / t_small <= 6, (family, t_small, t_large)
    assert t_large * 1e6 / len(large) < ceiling, (family, t_large, len(large))


_TEXT = b"BT /F1 12 Tf 72 712 Td (Hello flate) Tj ET" * 40
_DEFLATED = zlib.compress(_TEXT)

FLATE_CASES = {
    "whole": _DEFLATED,
    "truncated": _DEFLATED[:-7],
    "empty": b"",
    "corrupt_header": b"\x00\x01" + _DEFLATED[2:],
    "trailing_bytes": _DEFLATED + b"trailing garbage",
}


@pytest.mark.parametrize("case", sorted(FLATE_CASES))
def test_inflate_matches_zlib_within_budget(case):
    raw = FLATE_CASES[case]
    try:
        expected = zlib.decompress(raw)
    except zlib.error as e:
        with pytest.raises(ValueError) as got:
            pdfrun._inflate(raw, MAX_PAYLOAD_BYTES)
        assert str(got.value) == f"pdf: bad flate stream: {e}"
    else:
        assert pdfrun._inflate(raw, MAX_PAYLOAD_BYTES) == expected


def test_truncated_flate_document_error_is_zlibs():
    rec = oracle.extract_document("https://ex.org/t.pdf",
                                  _pdf(_DEFLATED[:-7], flate=True))
    assert rec["status"] == "FAILED"
    assert rec["error"] == ("ValueError: pdf: bad flate stream: Error -5 "
                            "while decompressing data: incomplete or "
                            "truncated stream")


def _zeros_deflated(n_mib: int) -> bytes:
    c = zlib.compressobj(9)
    return b"".join([c.compress(bytes(1 << 20)) for _ in range(n_mib)]
                    + [c.flush()])


@pytest.mark.parametrize("streams_mib", [(51,), (26, 26)],
                         ids=["one_stream", "two_streams"])
def test_over_budget_flate_fails_in_bounded_memory(streams_mib):
    """The budget is MAX_PAYLOAD_BYTES of stream bytes per document, all
    of its streams together; a stream that passes it is never held."""
    payload = _pdf(*map(_zeros_deflated, streams_mib), flate=True)
    assert len(payload) < MAX_PAYLOAD_BYTES // 100
    tracemalloc.start()
    try:
        rec = oracle.extract_document("https://ex.org/bomb.pdf", payload)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert rec["status"] == "FAILED"
    assert rec["error"] == "ValueError: pdf: stream exceeds budget"
    assert peak < 1.2 * MAX_PAYLOAD_BYTES, peak
