"""Independent row checks.

Extraction workloads: every output row is reduced to a digest over its
public columns and compared, per url, with the digest of
``oracle.extract_document`` on the same payload (the declared golden
source), computed in plain Python processes outside Spark.

``hygiene_text``: ``hygiene_reference`` recomputes the composed
``host_quota`` → ``dedup_paragraphs`` → ``gopher_quality_flags`` plan
in plain Python, from the operators' documented semantics.
"""

from __future__ import annotations

import hashlib
import json
import re
import unicodedata
from collections import Counter

SPAN_KEYS = ("name", "value", "field_type", "start", "end", "confidence",
             "is_required", "method")
BLOCK_KEYS = ("page", "score", "n_chars")
EXTRACTED_KEYS = ("url", "doc_type", "status", "text", "spans", "blocks",
                  "confidence", "n_pages", "error")
HYGIENE_KEYS = ("doc_id", "text", "n_paras", "n_paras_kept", "n_words",
                "mean_word_len", "symbol_word_ratio", "bullet_line_frac",
                "ellipsis_line_frac", "alpha_word_frac", "stop_hits",
                "gopher_pass")


def _digest(values) -> str:
    raw = json.dumps(values, ensure_ascii=False, separators=(",", ":"))
    return hashlib.blake2b(raw.encode(), digest_size=16).hexdigest()


def extracted_digest(row: dict) -> str:
    """Digest of one ``extracted`` row (oracle dict or output row)."""
    return _digest([
        [[s[k] for k in SPAN_KEYS] for s in row["spans"] or []]
        if k == "spans" else
        [[b[k] for k in BLOCK_KEYS] for b in row["blocks"] or []]
        if k == "blocks" else row[k]
        for k in EXTRACTED_KEYS])


def hygiene_digest(row: dict) -> str:
    return _digest([row[k] for k in HYGIENE_KEYS])


def row_check(expected: dict, rows) -> tuple[int, int, list[str]]:
    """Compare output ``rows`` (iterable of (key, digest)) against
    ``expected`` ({key: digest, or None for a key that must be absent}).
    A key is ok when it is absent as expected, or appears exactly once
    with the expected digest. Returns (ok count, count of output keys
    not in ``expected``, sample of bad keys)."""
    seen: Counter = Counter()
    got: dict = {}
    for key, dig in rows:
        seen[key] += 1
        got[key] = dig
    ok, bad = 0, []
    for key, want in expected.items():
        if want is None:
            good = seen[key] == 0
        else:
            good = seen[key] == 1 and got[key] == want
        if good:
            ok += 1
        elif len(bad) < 5:
            bad.append(str(key))
    strays = [k for k in seen if k not in expected]
    bad.extend(str(k) for k in strays[:5])
    return ok, len(strays), bad


# ------------------------------------------------------------ hygiene

_SCHEME_HOST = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)")
BULLETS = ("- ", "* ", "• ")
STOPWORDS = frozenset(
    ["the", "of", "and", "a", "to", "in", "is", "on", "for", "with"])


def host_of(url: str) -> str:
    m = _SCHEME_HOST.match(url)
    h = (m.group(1) if m else "").lower()
    h = re.sub(r"^[^/@]*@", "", h)
    h = re.sub(r":[0-9]+$", "", h)
    return h[4:] if h.startswith("www.") else h


def _has_letter(tok: str) -> bool:
    return any(unicodedata.category(c).startswith("L") for c in tok)


def gopher_row(doc_id: int, text: str, n_paras: int, n_kept: int) -> dict:
    toks = [x for x in text.replace("\n", " ").split(" ") if x]
    lines = [x for x in text.split("\n") if x]
    nw, nl = len(toks), len(lines)
    mean = sum(len(x) for x in toks) / nw if nw else 0.0
    symbols = text.count("#") + text.count("...") + text.count("…")
    bullets = sum(1 for x in lines if x.startswith(BULLETS))
    ellipses = sum(1 for x in lines if x.endswith(("...", "…")))
    alpha = sum(1 for x in toks if _has_letter(x))
    stops = sum(1 for x in toks if x in STOPWORDS)
    row = {
        "doc_id": doc_id, "text": text, "n_paras": n_paras,
        "n_paras_kept": n_kept, "n_words": nw, "mean_word_len": mean,
        "symbol_word_ratio": symbols / nw if nw else 0.0,
        "bullet_line_frac": bullets / nl if nl else 0.0,
        "ellipsis_line_frac": ellipses / nl if nl else 0.0,
        "alpha_word_frac": alpha / nw if nw else 0.0,
        "stop_hits": stops,
    }
    row["gopher_pass"] = int(
        50 <= nw <= 100000 and 3.0 <= mean <= 10.0
        and row["symbol_word_ratio"] < 0.1 and row["bullet_line_frac"] < 0.9
        and row["ellipsis_line_frac"] < 0.3 and row["alpha_word_frac"] > 0.8
        and stops >= 2)
    return row


def hygiene_reference(docs, max_per_host: int) -> dict[int, str | None]:
    """{doc_id: digest of its output row, or None when the quota drops
    it} for ``docs`` = [(doc_id, url, text)]."""
    by_host: dict[str, set[str]] = {}
    for _, url, _ in docs:
        by_host.setdefault(host_of(url), set()).add(url)
    winners = {u for h, us in by_host.items() if h
               for u in sorted(us)[:max_per_host]}
    winners |= by_host.get("", set())
    kept = sorted((d, t or "") for d, u, t in docs if u in winners)
    seen: set[str] = set()
    out: dict[int, str | None] = {d: None for d, _, _ in docs}
    for doc_id, text in kept:
        paras = [p for p in text.split("\n") if p]
        survivors = []
        for p in paras:
            if p not in seen:
                seen.add(p)
                survivors.append(p)
        out[doc_id] = hygiene_digest(gopher_row(
            doc_id, "\n".join(survivors), len(paras), len(survivors)))
    return out
