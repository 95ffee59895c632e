"""Differential tests for the two rewritten oracle layers: the HTML
tokenizer (dom.parse_html: one master-regex search per tag, per-name
open-element counts) and the field proximity arm
(fields.proximity_candidate: one whole-text scan per keyword, hits
bisected onto sentences). Each is compared with the implementation it
replaced, kept here as the reference: all five ``Dom`` arrays, and the
whole proximity result, must be equal."""

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from test_fuzz import _mutants
from test_property import _KW_WORDS
from webextract import dom, fields, fixtures
from webextract.dom import RAWTEXT_ELEMENTS, VOID_ELEMENTS, Dom, _add_text

COMMON = dict(max_examples=300, deadline=None, derandomize=True)

_TAGNAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9:-]*")


def reference_parse_html(payload: bytes) -> Dom:
    """The state machine parse_html replaced: one Python loop turn per
    '<', a linear scan of the open-element stack per close tag."""
    s = dom.decode_payload(payload)
    n = len(s)
    d = Dom()
    stack = [0]
    anchor_depth = 0
    low = None
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
        if name in RAWTEXT_ELEMENTS and not self_close:
            if low is None:
                low = s.lower()
            end = low.find("</" + name, i)
            if end == -1:
                break
            gt = s.find(">", end)
            i = n if gt == -1 else gt + 1
            continue
        if self_close or name in VOID_ELEMENTS:
            continue
        stack.append(node)
        if name == "a":
            anchor_depth += 1
    return d


def _arrays(d: Dom):
    return d.parent, d.tag, d.seg_owner, d.seg_text, d.seg_anchor


def _same_dom(payload: bytes) -> None:
    assert _arrays(dom.parse_html(payload)) == \
        _arrays(reference_parse_html(payload)), payload[:200]


def test_parse_html_matches_reference_on_fixture_pages():
    for i in range(300):
        _same_dom(fixtures.gen_page(i)[2])


def test_parse_html_matches_reference_on_fuzz_mutants():
    for _url, payload in _mutants():
        _same_dom(payload)


# tag soup from the tokenizer's own corner cases: quoted '>' in
# attributes, unclosed quotes, raw-text elements (any case), comments,
# doctype/PI, void and self-closing tags, stray and trailing '<',
# unmatched and nameless close tags, and 'İ', whose lowercase is two
# chars long (the raw-text scan indexes a lowercased copy)
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
    _same_dom(text.encode("utf-8"))


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
