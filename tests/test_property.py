"""Hypothesis property tests: the oracle must be TOTAL and DETERMINISTIC
on arbitrary byte inputs (C2: failures are data; SURVEY §7.6 #2 — any
input must terminate with some deterministic output). Derandomized so CI
runs are reproducible."""

from hypothesis import given, settings, strategies as st

from webextract import oracle

COMMON = dict(max_examples=80, deadline=None, derandomize=True)

tagish = st.text(
    alphabet="<>/= \"'&#;xabpdivscrptul\n\t-!?%PDF0123456789",
    max_size=300,
)


def _check(url: str, payload: bytes) -> None:
    rec1 = oracle.extract_document(url, payload)
    rec2 = oracle.extract_document(url, payload)
    assert rec1 == rec2  # deterministic
    # r5 taxonomy: arbitrary bytes may start with a raster magic
    # (JPEG/PNG/GIF/TIFF/RIFF) and classify as NEEDS_OCR
    assert rec1["status"] in ("COMPLETED", "FAILED", "NEEDS_OCR")
    assert isinstance(rec1["text"], str)
    assert isinstance(rec1["spans"], list)
    assert rec1["confidence"] >= 0.0
    for s in rec1["spans"]:
        if s["start"] >= 0:  # span offsets index into extracted text
            assert rec1["text"][s["start"]:s["end"]] == s["value"]


@settings(**COMMON)
@given(st.binary(max_size=400))
def test_total_on_arbitrary_bytes(payload):
    _check("https://fuzz.example.org/docs/VANBAN_x.html", payload)


@settings(**COMMON)
@given(tagish)
def test_total_on_tag_soup(text):
    _check("https://fuzz.example.org/docs/BIA_x.html", text.encode("utf-8"))


@settings(**COMMON)
@given(st.binary(max_size=200))
def test_total_on_pdf_magic(payload):
    _check("https://fuzz.example.org/docs/MUCLUC_x.pdf", b"%PDF-1.4\n" + payload)


# keyword-dense Vietnamese-ish text: drives the proximity + entity arms
# through arbitrary compositions (the arms round 2 added)
_KW_WORDS = st.sampled_from([
    "ngày", "ban", "hành", "ban hành", "số", "hồ sơ", "trang", "tổng số",
    "trích yếu", "nội dung", "người ký", "ký", "Phòng", "Công ty",
    "01/02/2024", "9/9/1999", "x01/02/2024", "Nguyễn Văn A", "123/QD-UB",
    ":", ".", ";", "\n", "!", "?", "von", "123", "đến", "từ",
])


@settings(**COMMON)
@given(st.lists(_KW_WORDS, max_size=40))
def test_ensemble_total_on_keyword_soup(parts):
    from webextract import fields

    text = " ".join(parts)
    for doc_type in (fields.DOC_BIA, fields.DOC_MUCLUC, fields.DOC_VANBAN):
        spans, conf = fields.extract_spans(text, doc_type)
        spans2, conf2 = fields.extract_spans(text, doc_type)
        assert spans == spans2 and conf == conf2  # deterministic
        assert 0.0 <= conf <= 1.0
        for s in spans:
            assert s["method"] in ("pattern", "proximity", "fallback",
                                   "entity", "none")
            assert (s["method"] == "none") == (s["confidence"] == 0.0)
            if s["start"] >= 0:
                assert text[s["start"]:s["end"]] == s["value"]
            if s["method"] == "entity":
                assert s["confidence"] == fields.ENTITY_CONFIDENCE


_PII_ALPHABET = "0123456789@.+- ab<>#_%"  # digits/separators-heavy: the
                                          # corners where replacement could
                                          # mint a NEW match


def _scrub_py(text):
    import re

    from webextract.pii import PII_PATTERNS
    for _, pat, rep in PII_PATTERNS:
        text = re.sub(pat, rep, text)
    return text


@settings(**COMMON)
@given(st.text(alphabet=_PII_ALPHABET, max_size=120))
def test_pii_scrub_idempotent_and_clean(text):
    """The PII pattern chain is a fixpoint: after one full pass no
    pattern matches the scrubbed text (placeholders carry no digits or
    '@', and leftover digit fragments are shorter than the phone
    minimum), so scrubbing twice equals scrubbing once. Run in pure
    Python `re` over the SAME PII_PATTERNS the Spark chain compiles —
    the shared-spec half of the contract (Spark/DuckDB parity is the
    pii_scrub oracle's job)."""
    import re

    from webextract.pii import PII_PATTERNS
    once = _scrub_py(text)
    for _, pat, _rep in PII_PATTERNS:
        assert re.search(pat, once) is None, (pat, once)
    assert _scrub_py(once) == once
