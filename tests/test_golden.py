"""The BASELINE metric: byte-identical extracted text + spans per url
(`python -m pytest -x -q`), Spark pipeline vs committed oracle goldens.

Three layers (SURVEY.md §5.2):
1. oracle(fixtures) == committed goldens  → the spec has not drifted
2. spark(fixtures)  == committed goldens  → vectorization is faithful
3. permutation invariance: input row order cannot change per-url output
"""

import os

import pytest

from tests.conftest import GOLDEN_DIR, N_GOLDEN
from webextract import fixtures, golden, multimodal, oracle, pipeline

GOLDEN_PATH = os.path.join(GOLDEN_DIR, "extracted.parquet")


def _spans_key(spans):
    return [
        (s["name"], s["value"], s["field_type"], s["start"], s["end"],
         s["confidence"], s["is_required"])
        for s in (spans or [])
    ]


def _blocks_key(blocks):
    return [(b["page"], b["score"], b["n_chars"]) for b in (blocks or [])]


@pytest.fixture(scope="module")
def goldens():
    assert os.path.exists(GOLDEN_PATH), "run scripts/make_goldens.py"
    return {r["url"]: r for r in golden.read_golden(GOLDEN_PATH)}


def test_oracle_matches_committed_goldens(goldens):
    n = 0
    for url, _ts, payload, _t, _l in fixtures.gen_pages(N_GOLDEN):
        want = goldens[url]
        got = oracle.extract_document(url, payload)
        assert got["text"] == want["text"], url
        assert _spans_key(got["spans"]) == _spans_key(want["spans"]), url
        assert _blocks_key(got["blocks"]) == _blocks_key(want["blocks"]), url
        for k in ("doc_type", "status", "confidence", "n_pages", "error"):
            assert got[k] == want[k], (url, k)
        n += 1
    assert n == N_GOLDEN


def test_spark_pipeline_byte_identical(spark, pages_parquet, goldens):
    pages = spark.read.parquet(pages_parquet)
    rows = {r["url"]: r for r in pipeline.run_extract(pages).collect()}
    assert len(rows) == N_GOLDEN
    for url, want in goldens.items():
        got = rows[url]
        assert got["text"] == want["text"], url  # THE byte-identical contract
        assert _spans_key(got["spans"]) == _spans_key(want["spans"]), url
        assert _blocks_key(got["blocks"]) == _blocks_key(want["blocks"]), url
        assert got["doc_type"] == want["doc_type"]
        assert got["status"] == want["status"]
        assert got["confidence"] == want["confidence"]
        assert got["n_pages"] == want["n_pages"]
        assert (got["error"] or None) == (want["error"] or None)


def test_needs_ocr_status_taxonomy(goldens):
    """Raster-only inputs are CLASSIFIED, not failed (VERDICT r4 #1):
    scanned (image-only) PDFs and raw image payloads → status=NEEDS_OCR,
    empty text, zero spans, format metadata in error; scanned PDFs keep
    their real page count. The taxonomy is pinned against the committed
    goldens so drift fails loudly."""
    seen = {"scanned": 0, "image": 0}
    for i, (url, _ts, _p, _t, _l) in enumerate(fixtures.gen_pages(N_GOLDEN)):
        kind = fixtures._doc_kind(i)
        if kind not in seen:
            continue
        seen[kind] += 1
        g = goldens[url]
        assert g["status"] == oracle.STATUS_NEEDS_OCR, url
        assert g["text"] == "" and not g["spans"] and not g["blocks"], url
        assert g["confidence"] == 0.0, url
        if kind == "scanned":
            assert g["error"] == "needs_ocr: pdf-raster", url
            assert g["n_pages"] >= 1, url  # real page count preserved
        else:
            assert g["error"] in ("needs_ocr: image/jpeg",
                                  "needs_ocr: image/png"), url
            assert g["n_pages"] == 0, url
    assert seen["scanned"] > 0 and seen["image"] > 0
    # statuses present in the golden corpus = the full taxonomy
    statuses = {r["status"] for r in goldens.values()}
    assert statuses == {"COMPLETED", "FAILED", "NEEDS_OCR"}


_RIFF_HEAD = b"RIFF\x24\x08\x00\x00"


@pytest.mark.parametrize("payload, status, error, fmt", [
    (_RIFF_HEAD + b"WEBPVP8 " + b"\x00" * 20, "NEEDS_OCR",
     "needs_ocr: image/webp", "webp"),
    (_RIFF_HEAD + b"WAVEfmt " + b"\x00" * 20, "FAILED",
     "unsupported media: riff/WAVE", "riff/WAVE"),
    (_RIFF_HEAD + b"AVI LIST" + b"\x00" * 20, "FAILED",
     "unsupported media: riff/AVI", "riff/AVI"),
    (_RIFF_HEAD + b"WE", "FAILED", "unsupported media: riff/WE", "riff/WE"),
], ids=["webp", "wave", "avi", "ten_bytes"])
def test_riff_payloads_route_by_form(payload, status, error, fmt):
    """A RIFF container is an image only when its form (bytes 8-12) is
    WEBP; audio, video and truncated containers are unsupported media,
    not scans for an OCR stage. The multimodal sniffer names the same
    format."""
    rec = oracle.extract_document("https://ex.org/m.bin", payload)
    assert (rec["status"], rec["error"]) == (status, error)
    assert rec["text"] == "" and rec["spans"] == [] and rec["n_pages"] == 0
    assert multimodal._sniff_format(payload) == fmt


def test_permutation_invariance(spark, pages_parquet, goldens):
    import pyspark.sql.functions as F

    pages = spark.read.parquet(pages_parquet).orderBy(F.reverse(F.col("url")))
    rows = {r["url"]: r for r in pipeline.run_extract(pages).collect()}
    for url, want in goldens.items():
        got = rows[url]
        assert got["text"] == want["text"], url
        assert _spans_key(got["spans"]) == _spans_key(want["spans"]), url
