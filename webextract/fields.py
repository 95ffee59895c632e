"""Regex field registry + char-span extraction (multi-method ensemble).

Re-expresses the reference's rule-based field extraction
(ocr-ai-service/app/services/ai_service.py:219-255 ``extract_field_with_rules``
and the per-doc-type field registry ai_service.py:28-57), with the
span-producing behavior of its regex NER
(ai_service_local.py:112-134 — ``m.start()/m.end()`` char offsets, F12),
and — new in round 2 — the reference's full PER-FIELD METHOD ENSEMBLE
(ai_service_local.py:415-434, O4): every field is extracted by TWO arms
and the higher-confidence result wins (strict ``>``, so the first arm
keeps ties):

  arm A ``extract_field``  — ordered regex patterns (O5, conf 0.8)
                             → keyword-proximity sentence scorer (the
                               deterministic analogue of the reference's
                               semantic search, ai_service_local.py:309-343
                               M8: sentence split F11, keyword-match
                               fraction as similarity, threshold > 0.6,
                               confidence = min(sim, 0.8) — the D6 cap —
                               and value-from-sentence cleanup F10,
                               ai_service_local.py:345-366)
                             → generic DATE 0.6 / NUMERIC 0.4 fallbacks
  arm B ``entity_candidate`` — regex NER entities (ai_service_local.py:
                             112-134) type-mapped to the field
                             (DATE→DATE, NUMERIC→NUMBER,
                             TEXT→ORGANIZATION-then-PERSON,
                             ai_service_local.py:372-397), first entity
                             wins (O6), conf 0.7

Semantics kept from the reference:
- per-document-type field list with types + required flags (ai_service.py:28-57)
- ordered pattern list per field, first-match-wins (ai_service.py:237-242, O5)
- match confidence 0.8; generic DATE fallback ``\\d{1,2}[/-]\\d{1,2}[/-]\\d{4}``
  at 0.6 (F8); generic NUMERIC fallback ``(\\d+)`` at 0.4 (F9); miss → ""/0.0
- value = group(1) stripped (ai_service.py:241)
- overall confidence = mean of nonzero field confidences (ai_service.py:200-201, A3)
- doc-type detection by basename prefix BIA/MUCLUC (ocr_service.py:170-179, F1)
- per-field keyword lists transplanted from ai_service_local.py:172-281

Divergences decided by spec (SURVEY.md §7.4 — goldens pin these):
- free-text captures use ``[^\\n]+`` instead of the reference's DOTALL
  ``(.+)`` (which captured to end-of-document — a bug, not a behavior)
- we emit explicit [start, end) char offsets of the *stripped* group(1)
  into the extracted text; missing fields carry start = end = -1
- patterns exist for every registry field (the reference's dict covered
  only 8 of its 22 declared fields; the rest silently hit fallbacks)
- each span records the winning ``method`` (pattern/proximity/fallback/
  entity/none) so the O4 argmax is observable downstream
- the reference's ``\\b`` word boundaries are replaced by explicit
  complement classes ``(?:^|[^\\w])`` / ``(?:$|[^\\w])``: RE2 (the DuckDB
  oracle dialect) defines ``\\b`` over ASCII only and has no lookarounds,
  while Python's is unicode-aware — the explicit classes mean the SAME
  thing in both engines, which is what lets the driver's DuckDB oracle
  replay this whole module in SQL (__spark_entry__._field_arm_sql)
- the semantic-search arm's cosine similarity becomes a deterministic
  keyword-presence fraction (matched keywords / total keywords) — same
  threshold (> 0.6), same cap (min(sim, 0.8)), same argmax-sentence and
  value-cleanup shape, zero model inference

One case fold per document: ``extract_spans`` lowers the text once
(``fold``: ``str.lower()``, after mapping the three characters where it
and ``re.IGNORECASE`` disagree — U+0130, U+0131, U+017F — onto ``i``/``s``)
and every field pattern, entity pattern and keyword scan runs as a
case-sensitive lower-cased twin on that copy, built at import from the
unchanged ``PATTERNS``, ``ENTITY_BODIES`` and ``KEYWORDS``. The fold keeps
one character per character, so a match's offsets index the original
text, and values are taken from it. A case-sensitive search costs about
a fifth of an IGNORECASE one. The proximity arm is skipped, exactly,
when the fraction of the field's keywords found anywhere in the folded
text does not clear its threshold — no sentence can then score higher —
so the sentence split is made only for documents that can use it. Only
the rare F10 keyword strip stays IGNORECASE. The DuckDB replay
(``__spark_entry__._field_arm_sql``) builds its RE2 ``(?i)`` patterns
from the same unchanged registries and is unaffected.

A pattern that opens with a repeat gives sre no first character to
scan for, so it tries a match at every character of the text. The
twins, the DATE entity and the generic fallbacks are written so that
none does (``_scannable``: ``\\d{1,2}`` as ``\\d\\d?``, ``(\\d+`` as
``(\\d\\d*``), and ``(\\d+)\\s*trang`` is found from its literal
(``_DigitsBefore``). Arm A runs first for every field; the entity scan
then runs once per document, for the labels of the fields whose arm-A
confidence arm B can still beat.

Everything here is pure Python ``re`` — the same module runs in the
single-node oracle and inside the Spark UDF bodies, never mixed with Java
regex on the golden path (SURVEY.md §4.3).
"""

from __future__ import annotations

import re
from bisect import bisect_right

DOC_BIA = "THONG_TIN_HO_SO"
DOC_MUCLUC = "MUC_LUC_TAI_LIEU"
DOC_VANBAN = "THONG_TIN_VAN_BAN"

# (name, field_type, is_required) — ai_service.py:28-57
DOC_FIELDS: dict[str, list[tuple[str, str, bool]]] = {
    DOC_BIA: [
        ("so_ho_so", "TEXT", True),
        ("tieu_de_ho_so", "TEXT", True),
        ("don_vi_lap_ho_so", "TEXT", False),
        ("thoi_han_bao_quan", "TEXT", False),
        ("ngay_bat_dau", "DATE", False),
        ("ngay_ket_thuc", "DATE", False),
        ("tong_so_trang", "NUMERIC", False),
        ("ghi_chu", "TEXT", False),
    ],
    DOC_MUCLUC: [
        ("so_thu_tu", "NUMERIC", True),
        ("so_ky_hieu", "TEXT", True),
        ("ngay_thang", "DATE", False),
        ("trich_yeu_noi_dung", "TEXT", True),
        ("so_trang", "NUMERIC", False),
        ("ghi_chu", "TEXT", False),
    ],
    DOC_VANBAN: [
        ("so_van_ban", "TEXT", True),
        ("ngay_ban_hanh", "DATE", False),
        ("trich_yeu", "TEXT", True),
        ("don_vi_ban_hanh", "TEXT", False),
        ("nguoi_ky", "TEXT", False),
        ("loai_van_ban", "TEXT", False),
        ("so_trang", "NUMERIC", False),
        ("ghi_chu", "TEXT", False),
    ],
}

_DATE = r"(\d{1,2}[\/\-]\d{1,2}[\/\-]\d{4})"
_LINE = r"([^\n]+)"

# ordered, first-match-wins (ai_service.py:223-232 style, completed per spec)
PATTERNS: dict[str, list[str]] = {
    "so_ho_so": [r"Số hồ sơ\s*:?\s*(\d[\w\-/]*)", r"Hồ sơ số\s*:?\s*(\d[\w\-/]*)"],
    "tieu_de_ho_so": [r"Tiêu đề\s*:\s*" + _LINE, r"Nội dung\s*:\s*" + _LINE],
    "don_vi_lap_ho_so": [r"Đơn vị lập hồ sơ\s*:\s*" + _LINE, r"Đơn vị\s*:\s*" + _LINE],
    "thoi_han_bao_quan": [r"Thời hạn bảo quản\s*:\s*" + _LINE],
    "ngay_bat_dau": [r"Ngày bắt đầu\s*:?\s*" + _DATE],
    "ngay_ket_thuc": [r"Ngày kết thúc\s*:?\s*" + _DATE],
    "tong_so_trang": [r"Tổng số\s*:?\s*(\d+)\s*trang", r"(\d+)\s*trang"],
    "ghi_chu": [r"Ghi chú\s*:\s*" + _LINE],
    "so_thu_tu": [r"Số thứ tự\s*:?\s*(\d+)", r"STT\s*:?\s*(\d+)"],
    "so_ky_hieu": [r"Số ký hiệu\s*:?\s*(\d[\w\-/]*)", r"Ký hiệu\s*:?\s*(\d[\w\-/]*)"],
    "ngay_thang": [r"Ngày tháng\s*:?\s*" + _DATE, r"Ngày\s*:?\s*" + _DATE],
    "trich_yeu_noi_dung": [r"Trích yếu nội dung\s*:\s*" + _LINE, r"Trích yếu\s*:\s*" + _LINE],
    "so_trang": [r"(\d+)\s*trang", r"Trang\s*:?\s*(\d+)"],
    "so_van_ban": [r"Số văn bản\s*:?\s*(\d[\w\-/]*)", r"Văn bản số\s*:?\s*(\d[\w\-/]*)",
                   r"Số\s*:\s*(\d[\w\-/]*)"],
    "ngay_ban_hanh": [r"Ngày ban hành\s*:?\s*" + _DATE, r"[Nn]gày\s+" + _DATE],
    "trich_yeu": [r"Trích yếu\s*:\s*" + _LINE, r"Nội dung\s*:\s*" + _LINE],
    "don_vi_ban_hanh": [r"Đơn vị ban hành\s*:\s*" + _LINE, r"Ban hành\s*:\s*" + _LINE],
    "nguoi_ky": [r"Người ký\s*:\s*" + _LINE, r"Ký\s*:\s*" + _LINE],
    "loai_van_ban": [r"Loại văn bản\s*:\s*" + _LINE],
}

# re.IGNORECASE folds these three onto ASCII letters, where str.lower()
# does not: U+0130 lowers to two characters, U+0131 and U+017F stay as
# they are (tests/test_differential.py enumerates every code point)
_FOLD_FIXES = {0x130: "i", 0x131: "i", 0x17F: "s"}


def fold(text: str) -> str:
    """``text`` case-folded the way ``re.IGNORECASE`` compares characters,
    one character for one: a case-sensitive lower-cased pattern matches
    ``fold(text)`` exactly where the IGNORECASE pattern matches ``text``,
    at the same offsets."""
    if "\u0130" in text or "\u0131" in text or "\u017f" in text:
        text = text.translate(_FOLD_FIXES)
    return text.lower()


def _scannable(pattern: str) -> str:
    """``pattern`` with ``\\d{1,2}`` written ``\\d\\d?`` and ``(\\d+``
    written ``(\\d\\d*``: the same matches, tried in the same order. A
    pattern that opens with a repeat gives sre no first character to
    scan for, so it attempts a match at every position of the text; one
    that opens with ``\\d`` skips at C speed to the next digit."""
    return pattern.replace(r"\d{1,2}", r"\d\d?").replace(r"(\d+", r"(\d\d*")


# (\d+)\s*<literal>, the literal a word that starts with a letter
_DIGITS_THEN_WORD = re.compile(r"\(\\d\+\)\\s\*([^\W\d]\w*)")


class _DigitsBefore:
    """``search`` for ``(\\d+)\\s*<literal>``, found from its literal.
    A match is a whole digit run, the whitespace run after it and the
    literal: backtracking cannot move the literal, whose first character
    is neither a digit nor whitespace. So the first match starts at the
    digit run before the first occurrence of the literal that has one,
    and each occurrence is checked by walking back over ``isspace()``
    characters, then ``isdecimal()`` ones — exactly ``re``'s ``\\s`` and
    ``\\d``. The walks cover disjoint stretches of the text (each stops
    at a literal's letters), so a search is linear. It returns the
    pattern's own match at the start of that run."""

    __slots__ = ("literal", "match")

    def __init__(self, pattern: str, literal: str):
        self.literal = literal
        self.match = re.compile(pattern).match

    def search(self, low: str) -> re.Match | None:
        find, literal = low.find, self.literal
        q = find(literal)
        while q >= 0:
            i = q
            while i and low[i - 1].isspace():
                i -= 1
            j = i
            while j and low[j - 1].isdecimal():
                j -= 1
            if j < i:
                return self.match(low, j)
            q = find(literal, q + 1)
        return None


def _folded(pattern: str) -> re.Pattern | _DigitsBefore:
    """Case-sensitive twin of an IGNORECASE pattern, run on ``fold(text)``
    (the patterns hold no upper-case escape such as ``\\S``), written so
    that a search need not try a match at every position."""
    low = pattern.lower()
    m = _DIGITS_THEN_WORD.fullmatch(low)
    if m:
        return _DigitsBefore(low, m.group(1))
    return re.compile(_scannable(low))


_PATTERNS_LOW: dict[str, list[re.Pattern | _DigitsBefore]] = {
    name: [_folded(p) for p in pats] for name, pats in PATTERNS.items()
}
_DATE_FALLBACK = re.compile(_scannable(_DATE))
_NUM_FALLBACK = re.compile(_scannable(r"(\d+)"))

# per-field keywords for the proximity arm — transplanted from the
# reference registry (ai_service_local.py:172-281); fields the reference
# never declared get natural keyword lists completed per spec §7.4
KEYWORDS: dict[str, list[str]] = {
    "so_ho_so": ["số hồ sơ", "mã số", "số", "hồ sơ"],
    "tieu_de_ho_so": ["tiêu đề", "tên hồ sơ", "chủ đề", "nội dung", "về", "v/v"],
    "don_vi_lap_ho_so": ["đơn vị lập", "cơ quan lập", "phòng ban", "phòng", "ban", "sở"],
    "thoi_han_bao_quan": ["thời hạn bảo quản", "bảo quản", "vĩnh viễn", "dài hạn"],
    "ngay_bat_dau": ["ngày bắt đầu", "từ ngày", "bắt đầu", "từ"],
    "ngay_ket_thuc": ["ngày kết thúc", "đến ngày", "kết thúc", "đến"],
    "tong_so_trang": ["tổng số trang", "số trang", "trang"],
    "ghi_chu": ["ghi chú", "chú thích", "lưu ý", "note"],
    "so_van_ban": ["số văn bản", "văn bản số", "số"],
    "ngay_ban_hanh": ["ngày ban hành", "ban hành", "ngày"],
    "don_vi_ban_hanh": ["đơn vị ban hành", "cơ quan ban hành"],
    "nguoi_ky": ["người ký", "ký tên", "ký"],
    "trich_yeu": ["trích yếu", "tóm tắt", "nội dung", "về", "v/v"],
    # spec-completed (not in the reference registry):
    "so_thu_tu": ["số thứ tự", "stt"],
    "so_ky_hieu": ["số ký hiệu", "ký hiệu"],
    "ngay_thang": ["ngày tháng", "ngày"],
    "trich_yeu_noi_dung": ["trích yếu nội dung", "trích yếu", "nội dung"],
    "so_trang": ["số trang", "trang"],
    "loai_van_ban": ["loại văn bản", "loại"],
}

PROXIMITY_THRESHOLD = 0.6      # ai_service_local.py:330 (similarity > 0.6)
PROXIMITY_CAP = 0.8            # ai_service_local.py:336 min(sim, 0.8), D6
ENTITY_CONFIDENCE = 0.7        # ai_service_local.py:392

# explicit word boundaries — identical semantics in Python re and RE2
# (see module docstring); RE2 renders \w as [\pL\pN_]
_B_L = r"(?:^|[^\w])"
_B_R = r"(?:$|[^\w])"

# regex NER (ai_service_local.py:112-134) — label order is the reference's
# dict insertion order; within a label, first match (position order) wins
ENTITY_BODIES: dict[str, str] = {
    "DATE": r"\d{1,2}[\/\-]\d{1,2}[\/\-]\d{4}",
    "NUMBER": r"\d+[\w\-/]*\d*",
    # [\w \t]*\w (not the reference's [\w\s]+\b): ends on a word char — same
    # as the \b version without needing \b — and never crosses a line break
    # (spec decision: entities are line-bounded; the reference's \s let an
    # ORGANIZATION/PERSON swallow text across block boundaries)
    # NB: [\w] (class-wrapped) not bare \w — the RE2 translation rewrites
    # \w to \pL\pN_, which is only valid inside a character class
    "ORGANIZATION": r"(?:phòng|ban|sở|cục|văn phòng|công ty|trường)[ \t]+[\w \t]*[\w]",
    "PERSON": (r"[A-ZÀÁÂÃÈÉÊÌÍÒÓÔÕÙÚÝ][a-zàáâãèéêìíòóôõùúý]+"
               r"(?:[ \t]+[A-ZÀÁÂÃÈÉÊÌÍÒÓÔÕÙÚÝ][a-zàáâãèéêìíòóôõùúý]+)*"),
}
# every body starts with a word char, so on ``fold(text)`` the entity is
# ``(body)(?!\w)`` at a match start not preceded by a word char: the
# left half of _B_L/_B_R moves out of the pattern, which then scans at
# C speed for the body's first character. DATE checks that left
# character per hit, as _keyword_starts does; its body is at most ten
# chars long, so a rejected hit costs O(1). The unbounded bodies keep
# the check inside the pattern as ``\b`` — retrying one from the next
# position after a rejected hit could rescan a long match once per
# start (quadratic), and PERSON's body can also match inside a word.
_ENTITY_LOW: dict[str, re.Pattern] = {
    label: re.compile(_scannable(
        (("(" if label == "DATE" else r"\b(") + body + r")(?!\w)").lower()))
    for label, body in ENTITY_BODIES.items()
}
# FieldType → entity labels (ai_service_local.py:379-383); LOCATION is in
# the reference mapping but its regex fallback never emits it
ENTITY_LABELS_FOR_TYPE: dict[str, tuple[str, ...]] = {
    "DATE": ("DATE",),
    "NUMERIC": ("NUMBER",),
    "TEXT": ("ORGANIZATION", "PERSON"),
}

_SENT_RUN = re.compile(r"[^.!?;\n]+")  # F11 complement, keeps offsets

_KW_SCAN: dict[str, re.Pattern] = {}
_KW_STRIP: dict[str, re.Pattern] = {}
# the proximity arm's keywords as they occur in ``fold(text)``
_KEYWORDS_LOW: dict[str, list[str]] = {
    name: [fold(kw) for kw in kws] for name, kws in KEYWORDS.items()
}


def _kw_scan_re(kw: str) -> re.Pattern:
    """Occurrences of the folded keyword ``kw`` in a folded text, not
    followed by a word char. The left half of the whole-word test,
    ``(?<!\\w)``, is ``_keyword_starts``'s job: a pattern that opens with
    a lookbehind is tried at every position and scans ~3× slower."""
    p = _KW_SCAN.get(kw)
    if p is None:
        p = _KW_SCAN[kw] = re.compile(re.escape(kw) + r"(?!\w)")
    return p


def _word_start(low: str, pos: int) -> bool:
    """No word char right before ``pos`` (``str.isalnum() or '_'`` is
    exactly ``re``'s ``\\w``)."""
    return pos == 0 or not (low[pos - 1].isalnum() or low[pos - 1] == "_")


def _keyword_starts(low: str, kw: str) -> list[int]:
    """Start of every whole-word occurrence of the folded keyword ``kw``
    in the folded text ``low`` — the matches of ``(?<!\\w)kw(?!\\w)``,
    overlapping ones included."""
    search = _kw_scan_re(kw).search
    out: list[int] = []
    pos = 0
    while (m := search(low, pos)) is not None:
        pos = m.start()
        if _word_start(low, pos):
            out.append(pos)
        pos += 1
    return out


def _kw_strip_re(kw: str) -> re.Pattern:
    """F10: the reference strips ``\\b{kw}[:\\s]*`` (ai_service_local.py:
    362-364); our boundary class captures the preceding char to put back."""
    p = _KW_STRIP.get(kw)
    if p is None:
        p = _KW_STRIP[kw] = re.compile(
            "(^|[^\\w])" + re.escape(kw) + "[:\\s]*", re.IGNORECASE)
    return p


def detect_doc_type(url: str) -> str:
    """F1: basename-prefix classification (ocr_service.py:170-179)."""
    base = url.rsplit("/", 1)[-1].upper()
    if base.startswith("BIA"):
        return DOC_BIA
    if base.startswith("MUCLUC"):
        return DOC_MUCLUC
    return DOC_VANBAN


def _strip_span(text: str, start: int, end: int) -> tuple[str, int, int]:
    """Trim whitespace off a match span, keeping offsets consistent."""
    while start < end and text[start].isspace():
        start += 1
    while end > start and text[end - 1].isspace():
        end -= 1
    return text[start:end], start, end


def sentences_of(text: str) -> list[tuple[str, int]]:
    """F11: split on [.!?;\\n], strip, drop empties — with the absolute
    char offset of each stripped sentence (ai_service_local.py:316-317)."""
    out: list[tuple[str, int]] = []
    for m in _SENT_RUN.finditer(text):
        raw, start = m.group(0), m.start()
        stripped = raw.strip()
        if stripped:
            out.append((stripped, start + (len(raw) - len(raw.lstrip()))))
    return out


def value_from_sentence(sentence: str, field_type: str,
                        keywords: list[str]) -> str:
    """F10 (ai_service_local.py:345-366): DATE/NUMERIC pull the first
    typed token from the sentence; TEXT strips every keyword prefix."""
    if field_type == "DATE":
        m = _DATE_FALLBACK.search(sentence)
        return m.group(0) if m else ""
    if field_type == "NUMERIC":
        m = _NUM_FALLBACK.search(sentence)
        return m.group(0) if m else ""
    cleaned = sentence
    for kw in keywords:
        cleaned = _kw_strip_re(kw).sub(r"\1", cleaned)
    return cleaned.strip()


def proximity_candidate(
    sentences: list[tuple[str, int]], text: str, name: str, field_type: str,
    hits: dict[str, set[int]] | None = None, low: str | None = None,
) -> tuple[str, float, int, int]:
    """M8's deterministic analogue: similarity = fraction of the field's
    keywords present in the sentence (word-boundary, case-insensitive);
    argmax sentence, threshold > 0.6, confidence = min(sim, 0.8).

    ``sentences`` must be ``sentences_of(text)`` and ``low`` (computed
    when omitted) ``fold(text)``. Each keyword is found by ONE scan of
    the whole folded text, and its hits map to sentences by bisecting
    the sentence starts: a keyword starts and ends with a word char and
    holds no sentence delimiter, and the characters around a sentence
    (delimiters, stripped whitespace) are non-word, so a whole-word hit
    in the text is a whole-word hit in the sentence that contains it,
    and vice versa. ``hits`` caches the sentence ids per keyword across
    the fields of one document."""
    keywords = KEYWORDS.get(name, ())
    if not keywords or not sentences:
        return "", 0.0, -1, -1
    if hits is None:
        hits = {}
    if low is None:
        low = fold(text)
    counts: dict[int, int] = {}
    starts = None
    for kw in _KEYWORDS_LOW[name]:
        ids = hits.get(kw)
        if ids is None:
            if starts is None:
                starts = [st for _, st in sentences]
            ids = hits[kw] = {bisect_right(starts, p) - 1
                              for p in _keyword_starts(low, kw)}
        for idx in ids:
            counts[idx] = counts.get(idx, 0) + 1
    if not counts:
        return "", 0.0, -1, -1
    # strict argmax: the first sentence keeps ties
    best_idx = min(counts, key=lambda idx: (-counts[idx], idx))
    best_sim = counts[best_idx] / len(keywords)
    if best_sim <= PROXIMITY_THRESHOLD:
        return "", 0.0, -1, -1
    sent, sent_start = sentences[best_idx]
    value = value_from_sentence(sent, field_type, list(keywords))
    if not value:  # reference: falsy value ⇒ arm contributes nothing
        return "", 0.0, -1, -1
    conf = min(best_sim, PROXIMITY_CAP)
    pos = text.find(value, sent_start)
    return (value, conf, pos, pos + len(value)) if pos >= 0 else (value, conf, -1, -1)


def entity_firsts(text: str, low: str | None = None,
                  labels: set[str] | None = None,
                  ) -> dict[str, tuple[str, int, int] | None]:
    """First entity per label (regex NER, ai_service_local.py:112-134),
    found on ``low`` (``fold(text)``, computed when omitted) and taken
    from ``text``; only for ``labels`` when given. Only firsts are kept:
    the ensemble takes matching_entities[0] (ai_service_local.py:
    390-392), so scanning for all matches — the reference does finditer
    over the whole doc — would be pure waste on a 100 KB page."""
    if low is None:
        low = fold(text)
    out: dict[str, tuple[str, int, int] | None] = {}
    for label, pat in _ENTITY_LOW.items():
        if labels is not None and label not in labels:
            continue
        m = pat.search(low)
        if label == "DATE":  # see _ENTITY_LOW
            while m is not None and not _word_start(low, m.start()):
                m = pat.search(low, m.start() + 1)
        out[label] = (text[m.start(1):m.end(1)], m.start(1), m.end(1)) \
            if m else None
    return out


def entity_candidate(
    firsts: dict[str, tuple[str, int, int] | None], field_type: str,
) -> tuple[str, float, int, int]:
    """Arm B (ai_service_local.py:372-397): first entity whose label maps
    to the field type, conf 0.7; label preference = reference dict order."""
    for label in ENTITY_LABELS_FOR_TYPE.get(field_type, ()):
        hit = firsts.get(label)
        if hit is not None:
            value, s, e = hit
            return value, ENTITY_CONFIDENCE, s, e
    return "", 0.0, -1, -1


class _Doc:
    """What one document's fields share: the text, its fold, and — split
    on first use — its sentences, with the sentence ids of each
    keyword's hits (see proximity_candidate)."""

    __slots__ = ("text", "low", "hits", "_sentences")

    def __init__(self, text: str, low: str):
        self.text = text
        self.low = low
        self.hits: dict[str, set[int]] = {}
        self._sentences: list[tuple[str, int]] | None = None

    @property
    def sentences(self) -> list[tuple[str, int]]:
        if self._sentences is None:
            self._sentences = sentences_of(self.text)
        return self._sentences


def _pattern_hit(text: str, low: str, name: str) -> tuple[str, int, int] | None:
    """The pattern arm: the first of the field's ordered patterns whose
    group 1 is non-blank, searched on ``low`` (``fold(text)``) → the
    stripped (value, start, end) in ``text``; None on a miss."""
    for pat in _PATTERNS_LOW.get(name, ()):
        m = pat.search(low)
        if m and m.end(1) > m.start(1):
            value, s, e = _strip_span(text, m.start(1), m.end(1))
            if value:
                return value, s, e
    return None


def extract_field(
    text: str, name: str, field_type: str, doc: _Doc | None = None,
) -> tuple[str, float, int, int, str]:
    """Arm A: patterns → keyword proximity → generic fallbacks.
    → (value, confidence, start, end, method); start=end=-1 on miss.
    ``doc``: the document's fold, sentences and keyword cache, shared
    across its fields (made for ``text`` when omitted)."""
    if doc is None:
        doc = _Doc(text, fold(text))
    hit = _pattern_hit(text, doc.low, name)
    if hit is not None:
        return hit[0], 0.8, hit[1], hit[2], "pattern"
    # exact prefilter: a sentence's whole-word keyword count never
    # exceeds the number of keywords found anywhere in the text, so the
    # arm's own threshold test on that number rules it out early
    kws = _KEYWORDS_LOW.get(name, ())
    if kws and sum(kw in doc.low for kw in kws) / len(kws) \
            > PROXIMITY_THRESHOLD:
        value, conf, s, e = proximity_candidate(
            doc.sentences, text, name, field_type, doc.hits, doc.low)
        if value:
            return value, conf, s, e, "proximity"
    if field_type == "DATE":
        m = _DATE_FALLBACK.search(text)
        if m:
            value, s, e = _strip_span(text, m.start(1), m.end(1))
            return value, 0.6, s, e, "fallback"
    elif field_type == "NUMERIC":
        m = _NUM_FALLBACK.search(text)
        if m:
            value, s, e = _strip_span(text, m.start(1), m.end(1))
            return value, 0.4, s, e, "fallback"
    return "", 0.0, -1, -1, "none"


def extract_spans(text: str, doc_type: str,
                  patterns_only: bool = False) -> tuple[list[dict], float]:
    """All registry fields for the doc type, O4 ensemble per field →
    (spans, overall_confidence). Strict ``>`` argmax across arms — arm A
    (patterns) keeps ties, like the reference's method loop
    (ai_service_local.py:426-431).

    ``patterns_only`` is the M12 cascade's genuinely-cheap pass-1 arm:
    run ONLY the compiled field patterns — no sentence split, no entity
    scan, no proximity scoring, no generic fallbacks. A pattern hit is
    conf 0.8; a miss is conf 0. Gate semantics (r4 review fix): the
    overall confidence may only average over HITS (the full-ensemble
    convention) when every REQUIRED registry field was pattern-hit —
    otherwise a single lucky pattern would score 0.8, clear the accept
    gate, and silently lose fields the skipped sentence/entity/proximity
    arms would have filled. With a required field missing (or a registry
    with no required fields), the overall averages over ALL fields
    (misses count 0), which lands under any realistic gate and
    escalates to the full ensemble. Optional-only gaps do NOT force
    escalation — the reference's acceptance rule keys on required
    fields (F17 required-missing semantics), and the ensemble's extra
    arms fill optional fields at below-gate confidences anyway. This
    keeps pass 1 cheaper than the full fields stage by ~4× even when
    the DOM parse dominates (r3 verdict #5)."""
    low = fold(text)
    registry = DOC_FIELDS.get(doc_type, DOC_FIELDS[DOC_VANBAN])
    if patterns_only:
        spans = []
        confs = []
        required_total = required_hit = 0
        for name, ftype, required in registry:
            hit = _pattern_hit(text, low, name)
            value, s, e = hit if hit is not None else ("", -1, -1)
            conf = 0.8 if hit is not None else 0.0
            spans.append({"name": name, "value": value, "field_type": ftype,
                          "start": s, "end": e, "confidence": conf,
                          "is_required": required,
                          "method": "pattern" if hit is not None else "none"})
            confs.append(conf)
            if required:
                required_total += 1
                required_hit += conf > 0
        if not confs:
            return spans, 0.0
        hits = [c for c in confs if c > 0]
        if hits and required_total and required_hit == required_total:
            return spans, sum(hits) / len(hits)
        return spans, sum(confs) / len(confs)
    doc = _Doc(text, low)
    # arm B wins only over a lower arm-A confidence: scan for the
    # entities of those fields alone
    arm_a: list[tuple[str, float, int, int, str]] = []
    labels: set[str] = set()
    for name, ftype, _ in registry:
        a = extract_field(text, name, ftype, doc)
        arm_a.append(a)
        if a[1] < ENTITY_CONFIDENCE:
            labels.update(ENTITY_LABELS_FOR_TYPE.get(ftype, ()))
    firsts = entity_firsts(text, low, labels)
    spans: list[dict] = []
    confs: list[float] = []
    for (name, ftype, required), (value, conf, s, e, method) in zip(
            registry, arm_a):
        if conf < ENTITY_CONFIDENCE:
            e_value, e_conf, e_s, e_e = entity_candidate(firsts, ftype)
            if e_conf > conf:
                value, conf, s, e, method = \
                    e_value, e_conf, e_s, e_e, "entity"
        spans.append(
            {
                "name": name,
                "value": value,
                "field_type": ftype,
                "start": s,
                "end": e,
                "confidence": conf,
                "is_required": required,
                "method": method,
            }
        )
        if conf > 0:
            confs.append(conf)
    overall = sum(confs) / len(confs) if confs else 0.0
    return spans, overall
