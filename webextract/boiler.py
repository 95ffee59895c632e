"""Text-density / link-density boilerplate stripping over the page's blocks.

This is the deterministic analogue of the reference's hybrid OCR ensemble
(ocr-ai-service/app/services/ocr_service_advanced.py):

- per-block density heuristic  ≈ handwriting-region edge-density/aspect
  classification (ocr_service_advanced.py:157-195, M4)
- two candidate profiles (strict/lenient thresholds 0.3 / 0.5)
  ≈ the EasyOCR conf>0.3 / PaddleOCR conf>0.5 filter tiers
  (ocr_service_advanced.py:273,333, P3/P4)
- best-of argmax with score = conf*0.7 + len(text)/1000*0.3
  ≈ the best-of-engines argmax (ocr_service_advanced.py:388-389, O3/D5),
  ties broken by profile order (first wins)
- stable first-occurrence dedup of block texts — the determinism fix for
  the reference's order-nondeterministic ``list(set(...))``
  (ocr_service_advanced.py:410-413, U1; SURVEY.md §7.4)
- kept blocks joined with "\\n\\n" (ocr_service.py:181-183, F2 — part of
  the byte-identical contract)

Spec decided here (the oracle IS the spec; goldens pin it):

block = element with tag in dom.BLOCK_TAGS owning at least one direct
text segment, where a segment's owning block is the NEAREST block-tag
ancestor of the element it is attached to (the root, tag ``#root``, when
there is none). ``dom.parse_html`` resolves this during its one scan.
block text = segments concatenated in document order, whitespace runs
collapsed to single spaces, stripped; blocks come in the order of their
first segment. link chars = sum over the segments inside <a> of each
segment's collapsed length. link_density = min(1, link_chars / text_len).

Keep rules per profile (thresholds L = max link_density, M = min chars):
  strict : L=0.3, M=25 ; lenient : L=0.5, M=10
A heading (h1-h6) is kept when link_density == 0 and text_len >= 3.
Rescue pass (readability-style neighbor smoothing, single pass over the
initial mask): a non-kept block with text_len >= 10 and link_density <= L
whose immediate neighbors were both initially kept is rescued.
"""

from __future__ import annotations

from .dom import collapse

HEADING_TAGS = frozenset(["h1", "h2", "h3", "h4", "h5", "h6"])

# (name, max_link_density, min_chars) — order matters: first-wins on ties
PROFILES = (("strict", 0.3, 25), ("lenient", 0.5, 10))


class Block:
    __slots__ = ("tag", "text", "link_chars")

    def __init__(self, tag: str, text: str, link_chars: int) -> None:
        self.tag = tag
        self.text = text
        self.link_chars = link_chars


def blocks_of(raw: list[list]) -> list[Block]:
    """``dom.parse_html``'s blocks (``[tag, link_chars, segment, ...]``)
    as ``Block``s: segments joined and collapsed, blocks left with no
    text dropped, order kept."""
    out = []
    for b in raw:
        text = collapse("".join(b[2:]))
        if text:
            out.append(Block(b[0], text, b[1]))
    return out


def _keep_mask(stats: list[tuple[int, float, bool]], max_ld: float,
               min_chars: int) -> list[bool]:
    init = [ld <= max_ld and tlen >= min_chars or head
            for tlen, ld, head in stats]
    kept = list(init)
    for i in range(1, len(stats) - 1):
        if not init[i] and init[i - 1] and init[i + 1]:
            tlen, ld, _ = stats[i]
            if tlen >= 10 and ld <= max_ld:
                kept[i] = True
    return kept


def candidates(blocks: list[Block]) -> list[dict]:
    """Build per-profile candidates: dedup (first occurrence), '\\n\\n' join,
    conf = mean(1 - link_density) over kept blocks, precomputed best-of
    score (D5). Returns a list of dicts
    {profile, conf, score, text, blocks:[{page,score,n_chars}]}, one per
    ``PROFILES`` entry in its order: candidate 0 is the strict profile,
    the M12 cascade's cheap pass."""
    # (text_len, link_density, kept-as-heading) per block, for every profile
    stats = []
    for blk in blocks:
        tlen = len(blk.text)
        stats.append((tlen, min(1.0, blk.link_chars / tlen),
                      blk.link_chars == 0 and tlen >= 3
                      and blk.tag in HEADING_TAGS))
    cands = []
    for name, max_ld, min_chars in PROFILES:
        seen: set[str] = set()
        texts: list[str] = []
        lds: list[float] = []
        binfo: list[dict] = []
        for blk, (tlen, ld, _), ok in zip(
                blocks, stats, _keep_mask(stats, max_ld, min_chars)):
            if not ok or blk.text in seen:
                continue
            seen.add(blk.text)
            texts.append(blk.text)
            lds.append(ld)
            binfo.append({"page": len(binfo), "score": 1.0 - ld, "n_chars": tlen})
        text = "\n\n".join(texts)
        conf = (sum(1.0 - x for x in lds) / len(lds)) if lds else 0.0
        score = conf * 0.7 + len(text) / 1000 * 0.3
        cands.append(
            {"profile": name, "conf": conf, "score": score, "text": text, "blocks": binfo}
        )
    return cands
