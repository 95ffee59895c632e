"""Differential tests for the rewritten oracle layers, each compared
with the implementation it replaced, kept here as the reference:

- the HTML front end (dom.parse_html: one regex scan straight into
  blocks) — ``blocks_of(parse_html(x))`` against the old state machine's
  parent-pointer-array DOM and the nearest-block pass over it: tag,
  text, link chars and order of every block;
- the field proximity arm (fields.proximity_candidate: one whole-text
  scan per keyword, hits bisected onto sentences) — the whole result;
- the field arms on the case fold (fields.fold: case-sensitive lowered
  patterns on one folded copy, an exact proximity prefilter) — the
  whole ``extract_spans`` result against the ``re.IGNORECASE`` arms;
- the PDF content-stream tokenizer (pdfrun._tokens: one master-regex
  match per token) — the whole token stream against the per-byte loop;
- the Gopher quality flags (textstats.gopher_quality_flags: each row
  split once, word lengths and stop words without per-token lambdas) —
  every output row against the per-token lambda formulation;
- the MinHash duplicate clusters (dedup.duplicate_clusters and
  dedup.deduplicate: one aggregate over the full-signature key) —
  every cluster and every kept document against union-find over
  signatures computed in plain Python."""

import hashlib
import re
import sys

import pandas as pd
import pyspark.sql.functions as F
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from test_fuzz import _mutants
from test_property import _KW_WORDS
from webextract import (boiler, cache, dedup, dom, fields, fixtures, oracle,
                        pdfrun, textstats)
from webextract.dom import BLOCK_TAGS, VOID_ELEMENTS

COMMON = dict(max_examples=300, deadline=None, derandomize=True)

_TAGNAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9:-]*")
# the raw-text close tag, matched ASCII-case-insensitively on the page
# itself (an index into s.lower() drifts past every 'İ', whose lowercase
# is two chars long)
_RAWTEXT_CLOSE = {name: re.compile(rf"</(?ai:{name})")
                  for name in ("script", "style")}


class Dom:
    """Flat parent-pointer-array DOM.

    ``parent[i]``/``tag[i]``: element arrays (index 0 = synthetic root,
    tag '#root', parent -1). ``seg_owner[k]``/``seg_text[k]``/
    ``seg_anchor[k]``: text segments in document order, attached to the
    innermost open element, entity-decoded, with an "inside <a>" flag.
    """

    __slots__ = ("parent", "tag", "seg_owner", "seg_text", "seg_anchor")

    def __init__(self) -> None:
        self.parent: list[int] = [-1]
        self.tag: list[str] = ["#root"]
        self.seg_owner: list[int] = []
        self.seg_text: list[str] = []
        self.seg_anchor: list[bool] = []


def _add_text(d: Dom, owner: int, raw: str, anchor_depth: int) -> None:
    if not raw or raw.isspace():
        return
    d.seg_owner.append(owner)
    d.seg_text.append(dom.decode_entities(raw))
    d.seg_anchor.append(anchor_depth > 0)


def reference_parse_html(payload: bytes) -> Dom:
    """The state machine parse_html replaced: one Python loop turn per
    '<', a linear scan of the open-element stack per close tag."""
    s = dom.decode_payload(payload)
    n = len(s)
    d = Dom()
    stack = [0]
    anchor_depth = 0
    i = 0
    while i < n:
        lt = s.find("<", i)
        if lt == -1:
            _add_text(d, stack[-1], s[i:], anchor_depth)
            break
        if lt > i:
            _add_text(d, stack[-1], s[i:lt], anchor_depth)
        if lt + 1 >= n:
            break
        c = s[lt + 1]
        if c == "!":
            if s.startswith("<!--", lt):
                end = s.find("-->", lt + 4)
                i = n if end == -1 else end + 3
            else:
                end = s.find(">", lt + 2)
                i = n if end == -1 else end + 1
            continue
        if c == "?":
            end = s.find(">", lt + 2)
            i = n if end == -1 else end + 1
            continue
        if c == "/":
            m = _TAGNAME_RE.match(s, lt + 2)
            end = s.find(">", lt + 1)
            if end == -1:
                break
            i = end + 1
            if m:
                name = m.group(0).lower()
                for k in range(len(stack) - 1, 0, -1):
                    if d.tag[stack[k]] == name:
                        for p in range(len(stack) - 1, k - 1, -1):
                            if d.tag[stack[p]] == "a":
                                anchor_depth -= 1
                        del stack[k:]
                        break
            continue
        m = _TAGNAME_RE.match(s, lt + 1)
        if not m:
            _add_text(d, stack[-1], "<", anchor_depth)
            i = lt + 1
            continue
        name = m.group(0).lower()
        j = m.end()
        self_close = False
        while j < n:
            gt = s.find(">", j)
            if gt == -1:
                j = n
                break
            dq = s.find('"', j, gt)
            sq = s.find("'", j, gt)
            if dq == -1 and sq == -1:
                self_close = s[gt - 1] == "/"
                j = gt + 1
                break
            p = dq if sq == -1 else (sq if dq == -1 else min(dq, sq))
            q = s.find(s[p], p + 1)
            j = n if q == -1 else q + 1
        node = len(d.tag)
        d.parent.append(stack[-1])
        d.tag.append(name)
        i = j
        if name in _RAWTEXT_CLOSE and not self_close:
            m = _RAWTEXT_CLOSE[name].search(s, i)
            if m is None:
                break
            gt = s.find(">", m.start())
            i = n if gt == -1 else gt + 1
            continue
        if self_close or name in VOID_ELEMENTS:
            continue
        stack.append(node)
        if name == "a":
            anchor_depth += 1
    return d


def _collapse(s: str) -> str:
    return " ".join(s.split())


def reference_blocks_of(d: Dom) -> list[tuple[str, str, int]]:
    """The block pass blocks_of ran over the DOM: each segment's nearest
    block-tag ancestor found in one pass over the parent array, blocks
    sorted by their first segment. (tag, text, link chars) per block."""
    nearest = [0] * len(d.tag)
    for i in range(1, len(d.tag)):
        nearest[i] = i if d.tag[i] in BLOCK_TAGS else nearest[d.parent[i]]
    first: dict[int, int] = {}
    parts: dict[int, list[str]] = {}
    links: dict[int, int] = {}
    for k, owner in enumerate(d.seg_owner):
        b = nearest[owner]
        if b not in first:
            first[b], parts[b], links[b] = k, [], 0
        parts[b].append(d.seg_text[k])
        if d.seg_anchor[k]:
            links[b] += len(_collapse(d.seg_text[k]))
    out = [(first[b], d.tag[b], _collapse("".join(parts[b])), links[b])
           for b in first]
    return [blk[1:] for blk in sorted(out) if blk[2]]


def _same_blocks(payload: bytes) -> None:
    got = [(b.tag, b.text, b.link_chars)
           for b in boiler.blocks_of(dom.parse_html(payload))]
    assert got == reference_blocks_of(reference_parse_html(payload)), \
        payload[:200]


def test_collapse_skips_the_split_exactly_when_it_is_a_no_op():
    """dom.collapse returns a printable string with no doubled, leading
    or trailing space as it is: exact only while every str.split()
    whitespace character but ' ' is non-printable."""
    for cp in range(sys.maxunicode + 1):
        c = chr(cp)
        assert not (c.isspace() and c.isprintable()) or c == " ", hex(cp)
        for s in (c, "a" + c + "b", "a " + c, c + " b"):
            assert dom.collapse(s) == _collapse(s), hex(cp)


@pytest.mark.parametrize("title", ["I" * 30, "İ" * 30])
def test_rawtext_close_tag_is_found_on_the_page(title):
    """'İ'.lower() is two chars long: a '</script' found in s.lower()
    and used as an index into s lands one char late per 'İ' before it,
    and the skip ate the start of the first paragraph."""
    page = (f"<html><head><title>{title}</title><script>var x = 1;"
            "</script></head><body><p>Đoạn văn bản đầu tiên của trang."
            "</p><p>Second paragraph of the page.</p></body></html>")
    rec = oracle.extract_document("https://ex.org/t", page.encode())
    assert rec["text"] == (f"{title}\n\nĐoạn văn bản đầu tiên của trang."
                           "\n\nSecond paragraph of the page.")


# elements whose content is plain text, matched as one token, and the
# near misses that must fall through to the open/close tokens
_LEAF_CASES = [
    "<P>x</p>", "<a>x</ab>", "<br>x</br>", "<p/>x</p>", "<a><b>x</b></a>",
    "<a><li>x</li></a>", "<k>x</\u212a>", "<a>x</a x>", "<p>x</p",
    "<div><p>x</P >y</div>", "<td> </td><td>&amp; z</td>",
    "<a href='>'>x</a>", "<li>x</li >", "<a>x</a><a>y</A>",
    "<p><a>x</a> y</p>", "<a>x</a:b>", "<h1>x</h1-2>", "<b>x</bb></b>",
    "<p>x</p<p>y</p>", "<p>x</>", "<p>x</ p>", "<script>x</script>",
    "<style>x</style >", "<p title=\"a\">\u0130 x</p>", "<a>x</a",
]


@pytest.mark.parametrize("page", _LEAF_CASES)
def test_parse_html_matches_reference_on_leaf_elements(page):
    # text after the case shows which elements it left open
    for wrapped in (page, page + " y", "<div>" + page + " y</div>z"):
        _same_blocks(wrapped.encode("utf-8"))


def test_parse_html_matches_reference_on_fixture_pages():
    for i in range(300):
        _same_blocks(fixtures.gen_page(i)[2])


def test_parse_html_matches_reference_on_fuzz_mutants():
    for _url, payload in _mutants():
        _same_blocks(payload)


# tag soup from the tokenizer's own corner cases: quoted '>' in
# attributes, unclosed quotes, raw-text elements (any case), comments,
# doctype/PI, void and self-closing tags, stray and trailing '<',
# unmatched and nameless close tags, and 'İ', whose lowercase is two
# chars long (a raw-text scan on a lowercased copy drifts past it)
_SOUP_TOKENS = st.sampled_from([
    "<div>", "</div>", "<DIV class=a>", "</span>", "<a href='x>y'>",
    '<a href="q>', "</a>", "<a/>", "<a x='/'>", "<b>", "</b >", "</ b>",
    "<script>", "</script>", "</SCRIPT >", "<style/>", "<style>",
    "</style", "<!--", "-->", "<!DOCTYPE html>", "<!x", "<?xml ?>",
    "&amp;", "&#x41;", "&#;", "'", '"', "<br/>", "<img src=x>", "<p",
    "<p>", "</p>", "<td>", ">", "<", "</", "</>", "<1", "< a>",
    "<a:b-c>", "</a:b-c>", "/", "=", "x", " ", "\n", "İ", "text ",
])
_tag_soup = st.lists(
    st.one_of(_SOUP_TOKENS, st.text(alphabet="<>/=\"' &;!?-abpİ", max_size=6)),
    max_size=40).map("".join)


@settings(**COMMON)
@given(_tag_soup)
def test_parse_html_matches_reference_on_tag_soup(text):
    _same_blocks(text.encode("utf-8"))


# ------------------------------------------------------------ proximity

_KW_PRESENT_REF: dict[str, re.Pattern] = {}


def reference_proximity_candidate(sentences, text, name, field_type):
    """The per-sentence form proximity_candidate replaced: one search
    per keyword per sentence, with the RE2-compatible boundary classes
    the DuckDB oracle uses."""
    keywords = fields.KEYWORDS.get(name, ())
    if not keywords or not sentences:
        return "", 0.0, -1, -1
    pats = []
    for kw in keywords:
        if kw not in _KW_PRESENT_REF:
            _KW_PRESENT_REF[kw] = re.compile(
                r"(?:^|[^\w])(?:" + re.escape(kw) + r")(?:$|[^\w])",
                re.IGNORECASE)
        pats.append(_KW_PRESENT_REF[kw])
    best_sim, best_idx = 0.0, -1
    for idx, (sent, _) in enumerate(sentences):
        sim = sum(1 for p in pats if p.search(sent)) / len(keywords)
        if sim > best_sim:
            best_sim, best_idx = sim, idx
    if best_sim <= fields.PROXIMITY_THRESHOLD:
        return "", 0.0, -1, -1
    sent, sent_start = sentences[best_idx]
    value = fields.value_from_sentence(sent, field_type, list(keywords))
    if not value:
        return "", 0.0, -1, -1
    conf = min(best_sim, fields.PROXIMITY_CAP)
    pos = text.find(value, sent_start)
    return (value, conf, pos, pos + len(value)) if pos >= 0 \
        else (value, conf, -1, -1)


def test_keywords_fit_the_whole_text_scan():
    """The scan's equivalence argument: every keyword starts and ends
    with a word char and holds no sentence delimiter."""
    for kws in fields.KEYWORDS.values():
        for kw in kws:
            assert re.fullmatch(r"\w(?:[^.!?;\n]*\w)?", kw), kw


# test_property's keyword soup plus adjacent and overlapping keyword
# occurrences, case variants and word-char neighbours
_PROX_WORDS = st.one_of(_KW_WORDS, st.sampled_from([
    "số số", "v/v/v", "v/v", "V/V", "xv/v/v", "SỐ", "_số", "số_", "về",
    "stt", "STT1", "ký hiệu", "số ký hiệu", "loại", "văn bản",
    "tên hồ sơ", "ghi chú", "note", "\x1c", " ", " ",
]))


@settings(**COMMON)
@given(st.lists(_PROX_WORDS, max_size=40),
       st.sampled_from([" ", "", "\n", ". ", "\t"]))
# trich_yeu clears the 0.6 threshold only when its "v/v" counts, and the
# only whole-word "v/v" here overlaps a rejected or an accepted one
@example(["trích yếu", "nội dung", "về", "xv/v/v"], " ")
@example(["trích yếu", "nội dung", "về", "v/v/v"], " ")
@example(["số số hồ sơ", "mã số"], " ")
def test_proximity_matches_reference_on_keyword_soup(parts, sep):
    text = sep.join(parts)
    sentences = fields.sentences_of(text)
    hits = {}  # one cache across the fields, as in extract_spans
    for name in fields.KEYWORDS:
        for ftype in ("TEXT", "DATE", "NUMERIC"):
            assert fields.proximity_candidate(
                sentences, text, name, ftype, hits) == \
                reference_proximity_candidate(sentences, text, name, ftype)


# ------------------------------------------------------------ case fold

_REF_PATTERNS = {name: [re.compile(p, re.IGNORECASE) for p in pats]
                 for name, pats in fields.PATTERNS.items()}
_REF_ENTITIES = {
    label: re.compile(fields._B_L + "(" + body + ")" + fields._B_R,
                      re.IGNORECASE)
    for label, body in fields.ENTITY_BODIES.items()}
_REF_KW_SCAN: dict[str, re.Pattern] = {}


def reference_keyword_starts(text, kw):
    """The IGNORECASE whole-text keyword scan _keyword_starts replaced."""
    if kw not in _REF_KW_SCAN:
        _REF_KW_SCAN[kw] = re.compile(re.escape(kw) + r"(?!\w)",
                                      re.IGNORECASE)
    search = _REF_KW_SCAN[kw].search
    out = []
    pos = 0
    while (m := search(text, pos)) is not None:
        pos = m.start()
        if pos == 0 or not (text[pos - 1].isalnum() or text[pos - 1] == "_"):
            out.append(pos)
        pos += 1
    return out


def reference_entity_firsts(text):
    out = {}
    for label, pat in _REF_ENTITIES.items():
        m = pat.search(text)
        out[label] = (m.group(1), m.start(1), m.end(1)) if m else None
    return out


def _reference_pattern_hit(text, name):
    for pat in _REF_PATTERNS.get(name, ()):
        m = pat.search(text)
        if m and m.group(1):
            value, s, e = fields._strip_span(text, m.start(1), m.end(1))
            if value:
                return value, s, e
    return None


# the generic fallbacks as the registry states them, compiled here: the
# production ones are rewritten for speed and must not check themselves
_REF_FALLBACKS = {"DATE": (re.compile(fields._DATE), 0.6),
                  "NUMERIC": (re.compile(r"(\d+)"), 0.4)}


def _reference_fallback(text, field_type):
    pat, conf = _REF_FALLBACKS.get(field_type, (None, 0.0))
    m = pat.search(text) if pat is not None else None
    if m is None:
        return "", 0.0, -1, -1, "none"
    value, s, e = fields._strip_span(text, m.start(1), m.end(1))
    return value, conf, s, e, "fallback"


def reference_extract_spans(text, doc_type, patterns_only=False):
    """extract_spans as it was before the fold: every arm IGNORECASE on
    ``text``, the sentence split always made, the proximity arm always
    run (in its per-sentence reference form)."""
    registry = fields.DOC_FIELDS.get(doc_type,
                                     fields.DOC_FIELDS[fields.DOC_VANBAN])
    if not patterns_only:
        sentences = fields.sentences_of(text)
        firsts = reference_entity_firsts(text)
    spans, confs = [], []
    required_total = required_hit = 0
    for name, ftype, required in registry:
        hit = _reference_pattern_hit(text, name)
        if hit is not None:
            value, conf, s, e, method = hit[0], 0.8, hit[1], hit[2], "pattern"
        else:
            value, conf, s, e, method = "", 0.0, -1, -1, "none"
        if hit is None and not patterns_only:
            value, conf, s, e = reference_proximity_candidate(
                sentences, text, name, ftype)
            method = "proximity"
            if not value:
                value, conf, s, e, method = _reference_fallback(text, ftype)
        if not patterns_only:
            e_value, e_conf, e_s, e_e = fields.entity_candidate(firsts, ftype)
            if e_conf > conf:
                value, conf, s, e, method = e_value, e_conf, e_s, e_e, "entity"
        spans.append({"name": name, "value": value, "field_type": ftype,
                      "start": s, "end": e, "confidence": conf,
                      "is_required": required, "method": method})
        confs.append(conf)
        if required:
            required_total += 1
            required_hit += conf > 0
    hits = [c for c in confs if c > 0]
    if not patterns_only:
        return spans, sum(hits) / len(hits) if hits else 0.0
    if not confs:
        return spans, 0.0
    if hits and required_total and required_hit == required_total:
        return spans, sum(hits) / len(hits)
    return spans, sum(confs) / len(confs)


def _same_spans(text):
    for doc_type in fields.DOC_FIELDS:
        for patterns_only in (False, True):
            assert fields.extract_spans(text, doc_type, patterns_only) == \
                reference_extract_spans(text, doc_type, patterns_only), \
                (doc_type, patterns_only, text[:200])


# every code point (lone surrogates included) and its fold. str.lower()
# depends on context only for Greek final sigma, which no pattern holds
# and which re's classes treat like any other letter
_ALL = "".join(map(chr, range(sys.maxunicode + 1)))
_FOLDED = "".join(fields.fold(c) for c in _ALL)
_SOURCES = ([p for pats in fields.PATTERNS.values() for p in pats]
            + list(fields.ENTITY_BODIES.values())
            + [kw for kws in fields.KEYWORDS.values() for kw in kws])


# digit runs (ASCII and other Nd digits), whitespace runs, the literal
# the `(\d+)\s*trang` patterns are found from, dates and Vietnamese
# words: what the rewritten digit patterns must match exactly as written
_DIGIT_SOUP = st.one_of(
    st.text(alphabet="0123456789٣٤٥०१۹", min_size=1, max_size=6),
    st.text(alphabet=" \t\n\u00a0\u2003\x1c", min_size=1, max_size=4),
    st.sampled_from([
        "trang", "TRANG", "Trang", "trangx", "xtrang", "tr ang",
        "1/2/2024", "01-02-2024", "1/2/24", "123/4/2024", "٣/٤/٢٠٢٤",
        "31/12/20245", "Tổng số", ":", "Số", "trang:", "Trang: 7",
        "ngày", "văn bản", "hồ sơ", "Phòng Tổ chức", "Nguyễn Văn",
        "-", "/", "a", "_"]))


@settings(**COMMON)
@given(st.lists(_DIGIT_SOUP, max_size=30).map("".join))
@example("12 trang 34trang")
@example("٣٤ trang")
@example("x1 \n trang, 7/8/2024")
def test_extract_spans_matches_reference_on_digit_soup(text):
    _same_spans(text)


def test_whitespace_and_digit_tests_are_res_classes():
    """_DigitsBefore walks back with str.isspace and str.isdecimal: on
    a str, re's \\s and \\d are exactly those."""
    for cls, test in ((r"\s", str.isspace), (r"\d", str.isdecimal)):
        assert [m.start() for m in re.finditer(cls, _ALL)] == \
            [i for i, c in enumerate(_ALL) if test(c)], cls


def test_fold_is_one_char_per_char():
    assert all(len(c) == 1 for c in map(fields.fold, _ALL))


def test_fold_agrees_with_ignorecase_on_every_code_point():
    """For each literal of the patterns' alphabet, and each character
    class they use, the IGNORECASE form matches a code point exactly
    where the lowered form matches its fold."""
    alphabet = sorted({c for src in _SOURCES
                       for c in re.sub(r"\\.", "", src) if c.isalpha()})
    atoms = [re.escape(x) for x in alphabet]
    atoms += sorted({m.group() for src in _SOURCES
                     for m in re.finditer(r"\[(?:\\.|[^\]\\])*\]", src)})
    atoms += [r"\w", r"\d", r"\s"]
    # lowering a pattern must not turn an escape into another one
    assert not [src for src in _SOURCES if re.search(r"\\[A-Z]", src)]
    for atom in atoms:
        ignorecase = [m.start() for m in re.finditer(atom, _ALL, re.I)]
        folded = [m.start() for m in re.finditer(atom.lower(), _FOLDED)]
        assert ignorecase == folded, (atom, sorted(
            hex(i) for i in set(ignorecase) ^ set(folded))[:10])


def test_keywords_are_folded():
    for kws in fields.KEYWORDS.values():
        assert all(kw == fields.fold(kw) for kw in kws), kws


def test_extract_spans_matches_reference_on_fixture_texts():
    for i in range(400):
        url, _ts, payload, _t, _l = fixtures.gen_page(i)
        _same_spans(oracle.extract_document(url, payload)["text"])


@settings(**COMMON)
@given(st.lists(_PROX_WORDS, max_size=40),
       st.sampled_from([" ", "", "\n", ". ", "\t"]))
@example(["số số hồ sơ", "mã số"], " ")
def test_extract_spans_matches_reference_on_keyword_soup(parts, sep):
    _same_spans(sep.join(parts))


@settings(**COMMON)
@given(st.lists(_KW_WORDS, max_size=40))
def test_keyword_starts_match_reference(parts):
    text = " ".join(parts)
    low = fields.fold(text)
    for kws in fields.KEYWORDS.values():
        for kw in kws:
            assert fields._keyword_starts(low, kw) == \
                reference_keyword_starts(text, kw)


# the literal heads of the field patterns, the keywords and the entity
# heads, with the characters where str.lower() and re.IGNORECASE part
# ways (İ ı ſ) or that fold onto ASCII or each other (K ẞ ß)
_HEADS = sorted({re.match(r"[^\\(\[]*", p).group().strip()
                 for pats in fields.PATTERNS.values() for p in pats}
                | {kw for kws in fields.KEYWORDS.values() for kw in kws}
                | {"phòng ban", "công ty", "Nguyễn Văn", "ngày"} - {""})
_ODD = "İıſKẞß"


@st.composite
def _field_head(draw):
    head = draw(st.sampled_from(_HEADS))
    case = draw(st.sampled_from(["upper", "swapcase", "title", "mixed",
                                 "none"]))
    if case == "mixed":
        flips = draw(st.lists(st.booleans(), min_size=len(head),
                              max_size=len(head)))
        head = "".join(c.upper() if f else c for c, f in zip(head, flips))
    elif case != "none":
        head = getattr(head, case)()
    pos = draw(st.integers(0, len(head)))
    odd = draw(st.sampled_from(_ODD + "-"))
    if odd != "-":
        head = head[:pos] + odd + head[pos:]
    value = draw(st.sampled_from([
        "123/QD-UB", "01/02/2024", "7 trang", "Phòng Tổ chức", "Ông Ba",
        "", "ı2", "ſố 5"]))
    return head + draw(st.sampled_from([": ", " : ", " ", ":"])) + value


@settings(**COMMON)
@given(st.lists(_field_head(), max_size=12),
       st.sampled_from(["\n", ". ", " ", "; "]))
@example(["Sİ: 1", "İ1"], "\n")
@example(["ſố hồ ſơ: 12/ab"], "\n")
@example(["NGÀY BAN HÀNH: 01/02/2024", "ngày ban hành, ban hành"], ". ")
def test_extract_spans_matches_reference_on_folded_heads(parts, sep):
    _same_spans(sep.join(parts))


# ------------------------------------------------------------ PDF tokens

_REF_NAME_RE = re.compile(rb"/[^\s\[\]()<>/]*")
_REF_NUM_RE = re.compile(rb"[+-]?(\d+\.?\d*|\.\d+)")
_REF_OP_RE = re.compile(rb"[A-Za-z'\"*]+")
_REF_OCTAL_RE = re.compile(rb"[0-7]{1,3}")


def reference_tokens(content: bytes):
    """The per-byte content-stream tokenizer pdfrun._tokens replaced."""
    i, n = 0, len(content)
    while i < n:
        c = content[i:i + 1]
        if c in b" \t\r\n":
            i += 1
            continue
        if c == b"(":
            s, i = reference_string(content, i)
            yield ("str", s)
            continue
        if c == b"[":
            yield ("arr_open", None)
            i += 1
            continue
        if c == b"]":
            yield ("arr_close", None)
            i += 1
            continue
        if c == b"/":
            m = _REF_NAME_RE.match(content, i)
            yield ("name", m.group(0).decode("latin-1"))
            i = m.end()
            continue
        m = _REF_NUM_RE.match(content, i)
        if m:
            yield ("num", float(m.group(0)))
            i = m.end()
            continue
        m = _REF_OP_RE.match(content, i)
        if m:
            yield ("op", m.group(0).decode("latin-1"))
            i = m.end()
            continue
        i += 1


def reference_string(content: bytes, i: int):
    out = []
    depth = 1
    i += 1
    n = len(content)
    while i < n:
        c = content[i:i + 1]
        if c == b"\\":
            nxt = content[i + 1:i + 2]
            if nxt.isdigit():
                m = _REF_OCTAL_RE.match(content, i + 1)
                if m:
                    out.append(chr(int(m.group(0), 8)))
                    i = m.end()
                    continue
            out.append(pdfrun._ESCAPES.get(nxt, nxt.decode("latin-1")))
            i += 2
            continue
        if c == b"(":
            depth += 1
            out.append("(")
        elif c == b")":
            depth -= 1
            if depth == 0:
                return "".join(out), i + 1
            out.append(")")
        else:
            out.append(c.decode("latin-1"))
        i += 1
    raise ValueError("pdf: unterminated string")


def _token_list(tokens, content):
    try:
        return list(tokens(content))
    except ValueError as e:
        return str(e)


def _same_tokens(content: bytes) -> None:
    assert _token_list(pdfrun._tokens, content) == \
        _token_list(reference_tokens, content), content[:200]


def _streams(payload: bytes):
    """The payload itself, then every stream body the parser decodes."""
    yield payload
    try:
        objs = pdfrun._objects(payload)
    except ValueError:
        return
    for body in objs.values():
        try:
            st_ = pdfrun._stream_of(body, pdfrun.MAX_PAYLOAD_BYTES)
        except ValueError:
            continue
        if st_:
            yield st_


def test_pdf_tokens_match_reference_on_corpus_pdfs():
    n = 0
    for i in range(600):
        payload = fixtures.gen_page(i)[2]
        if payload.startswith(b"%PDF-"):
            for content in _streams(payload):
                _same_tokens(content)
            n += 1
    assert n > 50


def test_pdf_tokens_match_reference_on_fuzz_mutants():
    for _url, payload in _mutants():
        for content in _streams(payload):
            _same_tokens(content)


_PDF_SOUP = b" \t\r\n\f()[]/\\+-.0123456789abTJjdmf*'\"<>\x00\xff"


@settings(**COMMON)
@given(st.lists(st.sampled_from([bytes([b]) for b in _PDF_SOUP]
                                + [b"(a) Tj ", b"\\(", b"\\053", b"\\8",
                                   b"BT", b"[(x) -12.5 (y)] TJ"]),
                max_size=60).map(b"".join))
@example(b"(a\\)b) (c(d)e) (f")
@example(b"+.-. .5 5. -.5 +x /a/b//c 1.2.3")
def test_pdf_tokens_match_reference_on_byte_soup(content):
    _same_tokens(content)


def reference_gopher_quality_flags(df, text_col="text", line_sep="\n",
                                   min_words=50, max_words=100000,
                                   min_mean_word_len=3.0,
                                   max_mean_word_len=10.0,
                                   max_symbol_ratio=0.1,
                                   max_bullet_frac=0.9,
                                   max_ellipsis_frac=0.3,
                                   min_alpha_frac=0.8, min_stop_hits=2):
    """The per-token lambda formulation: every statistic re-splits the
    row, word lengths are an ``aggregate`` lambda and stop words an
    ``array_contains`` over a literal array."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(F.replace(t, F.lit(line_sep), F.lit(" ")), " "),
                    lambda x: x != "")
    lines = F.filter(F.split(t, textstats._lit_re(line_sep)),
                     lambda x: x != "")
    n_words = F.size(toks).cast("bigint")
    n_lines = F.size(lines)
    wchars = F.aggregate(toks, F.lit(0).cast("bigint"),
                         lambda a, x: a + F.length(x))
    mean_wl = F.when(n_words > 0,
                     wchars.cast("double") / n_words).otherwise(0.0)

    def _count(sub):
        return ((F.length(t) - F.length(F.replace(t, F.lit(sub), F.lit(""))))
                / len(sub)).cast("bigint")

    symbols = _count("#") + _count("...") + _count("…")
    sym_ratio = F.when(n_words > 0,
                       symbols.cast("double") / n_words).otherwise(0.0)

    def _is_bullet(x):
        cond = x.startswith(textstats.GOPHER_BULLETS[0])
        for p in textstats.GOPHER_BULLETS[1:]:
            cond = cond | x.startswith(p)
        return cond

    bullet = F.when(
        n_lines > 0,
        F.size(F.filter(lines, _is_bullet)).cast("double") / n_lines
    ).otherwise(0.0)
    ellipsis = F.when(
        n_lines > 0,
        F.size(F.filter(lines, lambda x: x.endswith("...")
                        | x.endswith("…"))).cast("double")
        / n_lines).otherwise(0.0)
    alpha = F.when(
        n_words > 0,
        F.size(F.filter(toks, lambda x: x.rlike(textstats.EN_ALPHA_RE)))
        .cast("double") / n_words).otherwise(0.0)
    stops = F.array(*[F.lit(w) for w in textstats.EN_STOPWORDS])
    stop_hits = F.size(F.filter(toks,
                                lambda x: F.array_contains(stops, x))
                       ).cast("bigint")
    out = (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_wl)
        .withColumn("symbol_word_ratio", sym_ratio)
        .withColumn("bullet_line_frac", bullet)
        .withColumn("ellipsis_line_frac", ellipsis)
        .withColumn("alpha_word_frac", alpha)
        .withColumn("stop_hits", stop_hits)
    )
    passed = (
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") < max_symbol_ratio)
        & (F.col("bullet_line_frac") < max_bullet_frac)
        & (F.col("ellipsis_line_frac") < max_ellipsis_frac)
        & (F.col("alpha_word_frac") > min_alpha_frac)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return out.withColumn("gopher_pass", passed.cast("int"))


def _same_gopher_rows(spark, texts, line_sep, **thresholds):
    # from pandas, so the rows reach the JVM as Arrow, not via Python tasks
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        "doc_id bigint, text string")
    want = reference_gopher_quality_flags(df, line_sep=line_sep,
                                          **thresholds)
    got = textstats.gopher_quality_flags(df, line_sep=line_sep,
                                         **thresholds)
    assert got.columns == want.columns
    # one job for both sides
    rows = got.withColumn("_new", F.lit(True)).unionByName(
        want.withColumn("_new", F.lit(False))).collect()
    side = {True: [], False: []}
    for r in rows:
        side[r["_new"]].append(tuple(r)[:-1])
    assert sorted(side[True]) == sorted(side[False])
    assert len(side[True]) == len(texts)
    return side[True]


# runs of spaces and empty lines, every tested line_sep, stop words
# (and near misses), both ellipsis spellings, bullets, non-BMP letters
_GOPHER_PIECES = st.sampled_from([
    " ", "  ", "   ", "\n", "\n\n", "\r\n", "\r", "x", "xx", "\t",
    *textstats.EN_STOPWORDS, "The", "then", "ofx", "word", "tiếng", "việt",
    "#", "...", "…", "....", "- ", "* ", "• ", "-", "1", "42", ".",
    "𝐀", "𠀀", "😀", "a𝐀b",
])
_GOPHER_TEXTS = st.lists(
    st.one_of(st.none(), st.lists(_GOPHER_PIECES, max_size=30).map("".join)),
    min_size=1, max_size=40)


@pytest.mark.parametrize("line_sep", ["\n", "\r\n", "x"])
@settings(max_examples=20, deadline=None, derandomize=True)
@given(texts=_GOPHER_TEXTS)
@example(texts=[None])
@example(texts=[None, "", " ", "\n\n", "x", "  \n  \r\n  x  "])
@example(texts=["the cat sat on the", "with a\nb\n\nto the",
                "and... or… then …\n- a ...\n* b…\n• c",
                "𝐀𝐁 𠀀𠀁 😀 the of", "# ## ... …. …"])
def test_gopher_flags_match_reference_on_text_soup(spark, line_sep, texts):
    _same_gopher_rows(spark, texts, line_sep)


def test_gopher_flags_match_reference_on_fixture_texts(spark):
    texts = [fixtures.gen_page(i)[3] for i in range(300)]
    # thresholds the fixture texts straddle, so gopher_pass takes both values
    rows = _same_gopher_rows(spark, texts, "\n", min_words=5,
                             min_mean_word_len=4.0, min_stop_hits=0)
    assert {r[-1] for r in rows} == {0, 1}


def reference_signature(text, n_hashes=4, prefix_len=12):
    """dedup.minhash_signatures for one document: per hash seed, the
    least md5 hex of '<seed>:<token>' over its distinct non-empty
    whitespace tokens, cut to ``prefix_len``; None without tokens."""
    toks = {t for t in (text or "").split(" ") if t}
    if not toks:
        return None
    return "".join(
        min(hashlib.md5(f"{s}:{t}".encode()).hexdigest() for t in toks)
        [:prefix_len] for s in range(n_hashes))


def reference_components(docs):
    """Union-find over the full-signature collision graph of the
    non-NULL ids (minhash_signatures folds the NULL-id rows into one
    NULL-id signature, which names no cluster member) → {id: root}."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    first_of_key = {}
    for doc_id, text in docs:
        key = reference_signature(text)
        if doc_id is None or key is None:
            continue
        parent.setdefault(doc_id, doc_id)
        other = first_of_key.setdefault(key, doc_id)
        a, b = find(doc_id), find(other)
        parent[max(a, b)] = min(a, b)
    return {x: find(x) for x in parent}


# a small vocabulary, so token sets — and with them signatures — collide
_DUP_TEXTS = st.one_of(
    st.none(),
    st.lists(st.sampled_from(["", "a", "b", "c", "dd", "a b"]),
             max_size=4).map(" ".join))


@st.composite
def _dup_docs(draw):
    """(doc_id, text) rows: unique ids with some NULLs, singleton and
    small buckets from the vocabulary, and one large identical bucket."""
    texts = draw(st.lists(_DUP_TEXTS, max_size=30))
    big = draw(st.integers(min_value=0, max_value=40))
    texts += ["x y z"] * big
    ids = draw(st.permutations(range(len(texts))))
    nulls = draw(st.sets(st.sampled_from(range(len(texts))), max_size=4)
                 if texts else st.just(set()))
    return [(None if i in nulls else i, t) for i, t in zip(ids, texts)]


def _row_key(row):
    """Total order over (id, text) rows holding NULLs."""
    doc_id, text = row
    return (doc_id is None, doc_id or 0, text is None, text or "")


@settings(max_examples=12, deadline=None, derandomize=True)
@given(_dup_docs())
@example([(None, "a"), (None, "b"), (0, "a b"), (1, "c"), (2, "c"),
          (3, None), (4, ""), (5, "c c")])
@example([(None, "q"), (0, "c"), (1, "c"), (2, "dd")])
def test_duplicate_clusters_match_propagation_reference(spark, docs):
    comps = reference_components(docs)
    members = {}
    for x, root in comps.items():
        members.setdefault(root, []).append(x)
    want_clusters = sorted((root, len(m), min(m))
                           for root, m in members.items() if len(m) > 1)
    want_kept = sorted(((i, t) for i, t in docs
                        if i is None or comps.get(i, i) == i), key=_row_key)

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": pd.array([i for i, _ in docs],
                                         dtype="Int64"),
                      "text": [t for _, t in docs]}),
        "doc_id bigint, text string")
    sig = dedup.minhash_signatures(df)
    kept = dedup.deduplicate(df)
    try:
        got_clusters = sorted(tuple(r) for r in
                              dedup.duplicate_clusters(sig).collect())
        got_kept = sorted((tuple(r) for r in kept.collect()), key=_row_key)
    finally:
        cache.release(sig)
        cache.release(kept)
    assert got_clusters == want_clusters
    assert got_kept == want_kept
