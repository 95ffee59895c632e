"""Robustness fuzz (SURVEY.md §7.6 hard-part #2): deterministic
mutations of fixture payloads — truncations, splices, duplications,
byte corruption — must (a) terminate, (b) never throw past the document
(failures are data, C2), and (c) keep Spark byte-identical to the
single-node oracle on every mutant."""

import zlib

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from webextract import fixtures, oracle, pipeline

N_BASE = 24


def _mutants():
    for i in range(N_BASE):
        url, _ts, payload, _t, _l = fixtures.gen_page(i)
        r = fixtures.mix(i, 999)
        cut = r % max(1, len(payload))
        corrupt_at = fixtures.mix(i, 998) % max(1, len(payload))
        corrupted = bytearray(payload)
        corrupted[corrupt_at] = (corrupted[corrupt_at] + 1 + i) % 256
        yield f"{url}?m=trunc", payload[:cut]
        yield f"{url}?m=splice", payload[:cut] + b"<div><p>&#x;<b>" + payload[cut:]
        yield f"{url}?m=dup", payload + payload
        yield f"{url}?m=corrupt", bytes(corrupted)


def test_oracle_total_on_mutants():
    n = 0
    for url, payload in _mutants():
        rec = oracle.extract_document(url, payload)
        # mutants of scanned/image fixture payloads legitimately stay
        # (or become) NEEDS_OCR — the full status taxonomy, nothing else
        assert rec["status"] in ("COMPLETED", "FAILED", "NEEDS_OCR")
        assert isinstance(rec["text"], str)
        if rec["status"] != "COMPLETED":
            assert rec["error"]
        n += 1
    assert n == N_BASE * 4


# --- Hypothesis raw-bytes PDF fuzz (r3 verdict #8): the from-scratch
# parser must be TOTAL on adversarial xref/stream garbage — FAILED rows
# (or a successful parse), never an uncaught exception. Two generators:
# pure noise after the %PDF- magic, and "structured garbage" assembled
# from real PDF structural tokens so the fuzzer reaches the object /
# xref / stream / text-run machinery instead of bouncing off the first
# regex.

_PDF_TOKENS = st.sampled_from([
    b"1 0 obj", b"endobj", b"stream\n", b"endstream", b"xref",
    b"trailer", b"<< /Type /Page /Contents 3 0 R >>",
    b"<< /Type /Pages /Kids [3 0 R 99 0 R] /Count 2 >>",
    b"<< /Length 5 /Filter /FlateDecode >>",
    b"BT /F1 12 Tf 72 700 Td (hi \\050there\\051 \\999) Tj ET",
    b"(unterminated \\", b")", b"0000000000 65535 f\n",
    b"startxref\n-17\n%%EOF", b"%%EOF", b"[3 0 R", b"/Contents",
    zlib.compress(b"BT (deflated) Tj ET")[:11],  # corrupt deflate body
    zlib.compress(b"BT 1 0 0 1 50 50 Tm (ok) Tj ET"),
    b"\x00\xff\xfe", b" 99999999999999999999 ",
])

_pdf_noise = st.binary(min_size=0, max_size=400).map(lambda b: b"%PDF-" + b)
_pdf_structured = st.lists(
    st.one_of(_PDF_TOKENS, st.binary(max_size=24)), min_size=0, max_size=30,
).map(lambda parts: b"%PDF-1.4\n" + b"\n".join(parts))


@settings(max_examples=200, deadline=None)
@given(st.one_of(_pdf_noise, _pdf_structured))
def test_pdf_parser_total_on_arbitrary_bytes(payload):
    rec = oracle.extract_document("https://ex.org/fuzz/x.pdf", payload)
    # NEEDS_OCR is reachable: a generated page tree with zero text runs
    # plus a '/Image' token classifies as a scan (r5 taxonomy)
    assert rec["status"] in ("COMPLETED", "FAILED", "NEEDS_OCR")
    assert isinstance(rec["text"], str)
    assert isinstance(rec["n_pages"], int) and rec["n_pages"] >= 0
    if rec["status"] == "FAILED":
        assert rec["error"]
    else:
        # spans/blocks stay well-formed on whatever survived parsing
        assert all(s["start"] <= s["end"] or s["start"] == -1
                   for s in rec["spans"])


def test_spark_equals_oracle_on_mutants(spark):
    muts = list(_mutants())
    want = {u: oracle.extract_document(u, p) for u, p in muts}
    import datetime as dt
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    df = spark.createDataFrame(
        [(u, ts, bytearray(p), "", "vi") for u, p in muts],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = {r["url"]: r for r in pipeline.run_extract(df).collect()}
    assert set(got) == set(want)
    for u, w in want.items():
        g = got[u]
        assert g["text"] == w["text"], u
        assert g["status"] == w["status"], u
        assert (g["error"] or None) == (w["error"] or None), u


def test_mutant_failures_counted_in_lineage(spark, tmp_path):
    from webextract import runner
    from webextract.checkpoint import Catalog
    import datetime as dt
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    muts = list(_mutants())
    df = spark.createDataFrame(
        [(u, ts, bytearray(p), "", "vi") for u, p in muts],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path / "fuzz")
    ext = runner.run_job(spark, df, out, n_buckets=8, commit_groups=2)
    lin = Catalog(out).read(spark, runner.LINEAGE_TABLE)
    sums = lin.agg(F.sum("ok_count").alias("ok"), F.sum("fail_count").alias("f"),
                   F.sum("input_count").alias("n")).collect()[0]
    assert sums["n"] == len(muts)
    assert sums["f"] == ext.filter(F.col("status") == "FAILED").count()


# the unicode_nfc_normalize oracle's independence argument rests on the
# two engines (pandas/unicodedata in the Spark plan; utf8proc in
# DuckDB) implementing the same UAX #15 — property-check that claim
# directly, engine-to-engine, over Latin + Vietnamese combining-mark
# soup (the corpus's script; full-unicode alphabets would also probe
# Unicode-VERSION skew between the two libraries, which is outside the
# operator's contract)
_nfc_text = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.sampled_from("àáâãäåèéêëìíîïòóôõöùúûüýạảấầẩẫậắằẳẵặẹẻẽềếểễệ"
                        "ịỉĩọỏốồổỗộớờởỡợụủứừửữựỳỵỷỹđĐ"),
        st.sampled_from([chr(c) for c in
                         (0x300, 0x301, 0x302, 0x303, 0x309, 0x323)]),
    ),
    max_size=60)


@settings(max_examples=200, deadline=None)
@given(_nfc_text)
def test_nfc_python_duckdb_parity(s):
    import unicodedata

    import duckdb

    got = duckdb.sql("SELECT nfc_normalize(?)", params=[s]).fetchone()[0]
    assert got == unicodedata.normalize("NFC", s)
