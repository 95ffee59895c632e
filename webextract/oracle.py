"""Single-node pure-Python oracle: bytes → extracted record.

This is the golden source (SURVEY.md §5.2): the Spark pipeline's Arrow
UDF bodies call EXACTLY these functions per document, so Spark output is
byte-identical per url by construction. It mirrors the reference's
pipeline compose (ocr-ai-service/app/services/document_service.py:90-182,
C1): validate → detect type → parse → best-of assemble → field extract,
with per-document error capture instead of exceptions
(document_service.py:173-182, C2 — failures are data).
"""

from __future__ import annotations

from . import MAX_PAYLOAD_BYTES
from .boiler import blocks_of, candidates
from .dom import parse_html
from .fields import detect_doc_type, extract_spans
from .pdfrun import extract_pdf

STATUS_COMPLETED = "COMPLETED"
STATUS_FAILED = "FAILED"
# Raster-only input (scanned page / raw image): structurally valid but
# carries no extractable text runs. The reference's core competence is
# OCR-ing exactly these (ocr_service_advanced.py:360-428 hybrid_ocr);
# this engine is deterministic-parse-only by mandate, so instead of an
# empty-text COMPLETED or an opaque FAILED it CLASSIFIES the document —
# status=NEEDS_OCR with the sniffed format in ``error``
# ("needs_ocr: image/jpeg", "needs_ocr: pdf-raster") — the honest
# routing row a downstream OCR stage would consume (VERDICT r4 #1).
STATUS_NEEDS_OCR = "NEEDS_OCR"

PDF_MAGIC = b"%PDF-"

# magic-byte table shared with the multimodal sniffer
# (multimodal._sniff_format names formats with media_format)
MEDIA_MAGICS: dict[bytes, str] = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"GIF8": "gif",
    b"II*\x00": "tiff",
    b"MM\x00*": "tiff",
}


def media_format(payload: bytes) -> str | None:
    """The raster format of a media payload ("png", "webp", ...),
    ``riff/<form>`` for a RIFF container of any other form (trailing
    padding spaces dropped), None when no magic matches."""
    for magic, name in MEDIA_MAGICS.items():
        if payload[: len(magic)] == magic:
            return name
    if payload[:4] == b"RIFF":
        # the container's form, bytes 8-12: of the forms only WebP is a
        # raster image (WAVE is audio, "AVI " video)
        form = payload[8:12]
        return "webp" if form == b"WEBP" \
            else "riff/" + form.decode("latin-1").rstrip(" ")
    return None


def sniff_kind(payload: bytes) -> str:
    """Payload sniff (the reference keys on filename extension,
    document_service.py:58; we key on magic bytes like its PDF check).
    Returns "pdf", "image/<fmt>" (raw raster payload — the NEEDS_OCR
    input class), "riff/<form>" (a RIFF container that holds no image:
    audio, video — unsupported media), or "html" (the permissive
    default: tag soup parses)."""
    if payload[:5] == PDF_MAGIC:
        return "pdf"
    fmt = media_format(payload)
    if fmt is None:
        return "html"
    return fmt if fmt.startswith("riff/") else f"image/{fmt}"


def parse_candidates(payload: bytes) -> dict:
    """Parse: payload → candidate texts + per-candidate blocks.

    Returns {kind, n_pages, candidates:[{profile,conf,score,text,
    blocks:[{page,score,n_chars}]}], error}. Candidates empty + error set
    on failure (size guard S2, parse errors). Candidate 0 (the strict
    profile, or the one PDF candidate) is the M12 cascade's cheap pass."""
    if payload is None or len(payload) == 0:
        return {"kind": "html", "n_pages": 0, "candidates": [], "error": "empty payload"}
    if len(payload) > MAX_PAYLOAD_BYTES:
        return {
            "kind": sniff_kind(payload),
            "n_pages": 0,
            "candidates": [],
            "error": f"payload too large: {len(payload)} > {MAX_PAYLOAD_BYTES}",
        }
    kind = sniff_kind(payload)
    if kind.startswith("riff/"):
        return {"kind": kind, "n_pages": 0, "candidates": [],
                "error": f"unsupported media: {kind}"}
    if kind.startswith("image/"):
        # raw raster payload: nothing to parse deterministically —
        # classify for a downstream OCR stage (status=NEEDS_OCR)
        return {"kind": kind, "n_pages": 0, "candidates": [], "error": None}
    try:
        if kind == "pdf":
            pages = extract_pdf(payload)
            if pages and all(p == "" for p in pages) and b"/Image" in payload:
                # structurally-valid PDF whose pages carry images but ZERO
                # text runs — a scanned document (the reference rasterizes
                # + OCRs these, ocr_service.py:41-54): classify, keep the
                # real page count as metadata
                return {"kind": "pdf-raster", "n_pages": len(pages),
                        "candidates": [], "error": None}
            text = "\n\n".join(p for p in pages if p)  # F2: skip empty pages
            blocks = [
                {"page": i, "score": 1.0, "n_chars": len(p)} for i, p in enumerate(pages)
            ]
            cand = {
                "profile": "pdf",
                "conf": 1.0,
                "score": 1.0 * 0.7 + len(text) / 1000 * 0.3,
                "text": text,
                "blocks": blocks,
            }
            return {"kind": kind, "n_pages": len(pages), "candidates": [cand], "error": None}
        cands = candidates(blocks_of(parse_html(payload)))
        return {"kind": kind, "n_pages": 1, "candidates": cands, "error": None}
    except Exception as e:  # noqa: BLE001 — C2: never throw past the doc
        return {"kind": kind, "n_pages": 0, "candidates": [], "error": f"{type(e).__name__}: {e}"}


def best_candidate(cands: list[dict]) -> dict | None:
    """O3 argmax on precomputed score, first-wins ties (strictly-greater
    replaces)."""
    best = None
    for c in cands:
        if best is None or c["score"] > best["score"]:
            best = c
    return best


def _record(url: str, doc_type: str, parsed: dict, candidate: dict | None,
            patterns_only: bool) -> dict:
    """One ``extracted`` row: FAILED on a parse error, NEEDS_OCR for a
    raster-only document, else COMPLETED with ``candidate``'s text and
    blocks and the fields over that text (patterns only when asked)."""
    kind, error = parsed["kind"], parsed["error"]
    if error is not None:
        status, text, spans, blocks, confidence = STATUS_FAILED, "", [], [], 0.0
    elif kind == "pdf-raster" or kind.startswith("image/"):
        # raster-only document: classified, not failed — error carries
        # the sniffed format as routing metadata for an OCR stage
        status, text, spans, blocks, confidence = \
            STATUS_NEEDS_OCR, "", [], [], 0.0
        error = f"needs_ocr: {kind}"
    else:
        status = STATUS_COMPLETED
        text = candidate["text"] if candidate else ""
        blocks = candidate["blocks"] if candidate else []
        spans, confidence = extract_spans(text, doc_type, patterns_only)
    return {
        "url": url,
        "doc_type": doc_type,
        "status": status,
        "text": text,
        "spans": spans,
        "blocks": blocks,
        "confidence": confidence,
        "n_pages": parsed["n_pages"],  # 0 on a parse error
        "error": error,
    }


def extract_document(url: str, payload: bytes) -> dict:
    """Full per-document pipeline → one row of the ``extracted`` table:
    parse → best-of candidate → fields."""
    parsed = parse_candidates(payload)
    return _record(url, detect_doc_type(url), parsed,
                   best_candidate(parsed["candidates"]), False)


def extract_document_cascade(url: str, payload: bytes, accept: float = 0.7,
                             cheap_fields: bool = False) -> dict:
    """Per-document M12 cascade over ONE parse: the cheap pass is
    candidate 0 (the strict profile; patterns-only fields when
    ``cheap_fields``); a COMPLETED result below the ``accept`` gate
    escalates to the best-of candidate of the same parse with the full
    field ensemble, and the strictly-better result wins (the cheap pass
    keeps ties, the reference's pick, ai_service_local.py:513-537). An
    escalation re-runs only the fields, so only ``cheap_fields`` can
    make the cascade cheaper than ``extract_document``."""
    doc_type = detect_doc_type(url)
    parsed = parse_candidates(payload)
    cands = parsed["candidates"]
    cheap = cands[0] if cands else None
    first = _record(url, doc_type, parsed, cheap, cheap_fields)
    if first["status"] != STATUS_COMPLETED or first["confidence"] >= accept:
        return first
    best = best_candidate(cands)
    if best is cheap and not cheap_fields:
        return first  # the full row would be this row
    full = _record(url, doc_type, parsed, best, False)
    return full if full["confidence"] > first["confidence"] else first
