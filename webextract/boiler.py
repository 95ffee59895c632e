"""Text-density / link-density boilerplate stripping over the flat DOM.

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

block = element with tag in BLOCK_TAGS owning at least one direct text
segment, where a segment's owning block is the NEAREST block-tag ancestor
of the element it is attached to. block text = segments concatenated in
document order, whitespace runs collapsed to single spaces, stripped.
link chars = same collapse over the segments inside <a>.
tags = 1 + number of elements whose nearest block ancestor is this block.
link_density = link_chars / text_len ; text_density = text_len / tags.

Keep rules per profile (thresholds L = max link_density, M = min chars):
  strict : L=0.3, M=25 ; lenient : L=0.5, M=10
A heading (h1-h6) is kept when link_density == 0 and text_len >= 3.
Rescue pass (readability-style neighbor smoothing, single pass over the
initial mask): a non-kept block with text_len >= 10 and link_density <= L
whose immediate neighbors were both initially kept is rescued.
"""

from __future__ import annotations

from .dom import Dom

BLOCK_TAGS = frozenset(
    ["p", "div", "article", "section", "main", "li", "td", "th", "pre",
     "blockquote", "h1", "h2", "h3", "h4", "h5", "h6", "caption", "figcaption"]
)
HEADING_TAGS = frozenset(["h1", "h2", "h3", "h4", "h5", "h6"])

# (name, max_link_density, min_chars) — order matters: first-wins on ties
PROFILES = (("strict", 0.3, 25), ("lenient", 0.5, 10))

def _collapse(s: str) -> str:
    # equivalent to re.sub(r"\s+", " ", s).strip() — str.split()'s
    # whitespace set is exactly re's \s (verified over the BMP) and the
    # C implementation is ~4x faster than the regex
    return " ".join(s.split())


class Block:
    __slots__ = ("order", "tag", "text", "link_chars", "tags")

    def __init__(self, order: int, tag: str) -> None:
        self.order = order          # document order of first segment
        self.tag = tag
        self.text = ""              # filled at finalize
        self.link_chars = 0
        self.tags = 1


def blocks_of(dom: Dom) -> list[Block]:
    """Group text segments into blocks via nearest-block-ancestor, compute
    densities. Nearest-block resolution is one O(n) array pass: parents
    always precede children in the DOM arrays, so each node inherits its
    parent's already-computed answer."""
    tags, parents = dom.tag, dom.parent
    nearest = [0] * len(tags)  # node -> nearest block-tag ancestor (or root 0)
    for i in range(1, len(tags)):
        nearest[i] = i if tags[i] in BLOCK_TAGS else nearest[parents[i]]

    by_block: dict[int, Block] = {}
    parts: dict[int, list[str]] = {}
    for k in range(len(dom.seg_owner)):
        b = nearest[dom.seg_owner[k]]
        blk = by_block.get(b)
        if blk is None:
            blk = Block(k, tags[b])
            by_block[b] = blk
            parts[b] = []
        parts[b].append(dom.seg_text[k])
        if dom.seg_anchor[k]:
            blk.link_chars += len(_collapse(dom.seg_text[k]))
    # tag counts: every element contributes to its nearest block (if that
    # block carries text); the block element itself is the baseline 1.
    for node in range(1, len(tags)):
        b = nearest[node]
        blk = by_block.get(b)
        if blk is not None and node != b:
            blk.tags += 1
    out = []
    for b, blk in by_block.items():
        blk.text = _collapse("".join(parts[b]))
        if blk.text:
            out.append(blk)
    out.sort(key=lambda x: x.order)
    return out


def keep_mask(blocks: list[Block], max_ld: float, min_chars: int) -> list[bool]:
    init = []
    for blk in blocks:
        tlen = len(blk.text)
        ld = min(1.0, blk.link_chars / tlen) if tlen else 1.0
        ok = ld <= max_ld and tlen >= min_chars
        if not ok and blk.tag in HEADING_TAGS and blk.link_chars == 0 and tlen >= 3:
            ok = True
        init.append(ok)
    kept = list(init)
    for i in range(1, len(blocks) - 1):
        if not init[i] and init[i - 1] and init[i + 1]:
            blk = blocks[i]
            tlen = len(blk.text)
            ld = min(1.0, blk.link_chars / tlen) if tlen else 1.0
            if tlen >= 10 and ld <= max_ld:
                kept[i] = True
    return kept


def candidates(blocks: list[Block],
               profiles: tuple[str, ...] | None = None) -> list[dict]:
    """Build per-profile candidates: dedup (first occurrence), '\\n\\n' join,
    conf = mean(1 - link_density) over kept blocks, precomputed best-of
    score (D5). Returns a list of dicts
    {profile, conf, score, text, blocks:[{page,score,n_chars}]}.
    ``profiles`` restricts to the named subset (the M12 cascade's cheap
    first pass); None = the full ensemble, profile order preserved."""
    cands = []
    selected = PROFILES if profiles is None else tuple(
        p for p in PROFILES if p[0] in profiles)
    for name, max_ld, min_chars in selected:
        mask = keep_mask(blocks, max_ld, min_chars)
        seen: set[str] = set()
        texts: list[str] = []
        lds: list[float] = []
        binfo: list[dict] = []
        for blk, ok in zip(blocks, mask):
            if not ok:
                continue
            if blk.text in seen:
                continue
            seen.add(blk.text)
            tlen = len(blk.text)
            ld = min(1.0, blk.link_chars / tlen) if tlen else 1.0
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
