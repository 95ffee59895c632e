"""From-scratch HTML tokenizer + parent-pointer-array DOM.

No lxml/bs4 in the environment (SURVEY.md §7.0) and the brief forbids a
port — this is a small deterministic state machine producing flat arrays
(no object tree), the parent-pointer-array encoding called for by the
north_star. It is the Spark-side analogue of the reference's image
preprocessing stages (ocr-ai-service/app/services/ocr_service.py:56-76):
normalize raw payload bytes into a structure the scorer can consume.

Supported grammar (FIXTURES.md §1): nested elements, ``script``/``style``
raw-text modes, comments, doctype/PI, void elements, single/double/unquoted
attributes, the ~10 core named entities plus numeric character references.
Anything else must still terminate and yield deterministic output.
"""

from __future__ import annotations

import re

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
RAWTEXT_ELEMENTS = frozenset(("script", "style"))

# The ~10 core named entities (FIXTURES.md); numeric refs handled generically.
NAMED_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": "\xa0",
    "copy": "\xa9",
    "ndash": "–",
    "mdash": "—",
    "hellip": "…",
}

_ENTITY_RE = re.compile(r"&(#x[0-9a-fA-F]{1,6}|#[0-9]{1,7}|[a-zA-Z]{1,12});")
_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?([a-zA-Z0-9_\-]+)")


def _entity_sub(m: re.Match) -> str:
    body = m.group(1)
    if body.startswith("#x") or body.startswith("#X"):
        try:
            cp = int(body[2:], 16)
        except ValueError:
            return m.group(0)
    elif body.startswith("#"):
        try:
            cp = int(body[1:], 10)
        except ValueError:
            return m.group(0)
    else:
        return NAMED_ENTITIES.get(body, m.group(0))
    # restrict to BMP so Python len() == Spark length() == code-point count
    if 0 < cp <= 0xFFFD and not (0xD800 <= cp <= 0xDFFF):
        return chr(cp)
    return "�"


def decode_entities(s: str) -> str:
    if "&" not in s:  # fast path: most segments carry no entities
        return s
    return _ENTITY_RE.sub(_entity_sub, s)


def decode_payload(payload: bytes) -> str:
    """bytes → str. Honor an ASCII-detectable ``<meta charset>`` in the
    first 1024 bytes (utf-8 / latin-1 / ascii only), else UTF-8 with
    errors='replace' (analogue of grayscale normalization, M5)."""
    head = payload[:1024]
    m = _CHARSET_RE.search(head)
    enc = "utf-8"
    if m:
        cand = m.group(1).decode("ascii", "replace").lower().replace("_", "-")
        if cand in ("utf-8", "utf8"):
            enc = "utf-8"
        elif cand in ("latin-1", "latin1", "iso-8859-1", "windows-1252", "cp1252"):
            enc = "latin-1"
        elif cand in ("ascii", "us-ascii"):
            enc = "ascii"
    return payload.decode(enc, errors="replace")


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

    def ancestors(self, i: int):
        while i >= 0:
            yield i
            i = self.parent[i]


# One token per match: the next '<' and what follows it. Groups: 1
# ``!--`` (comment), 2 close-tag name, 3 open-tag name, 4 the open tag's
# attributes through its real '>' (quoted values may hold '>'; None when
# the tag never closes, which consumes the rest of the input). ``!``/``?``
# (doctype, PI) match with no group set, and a '<' that starts none of
# these matches alone (stray, kept as text).
_TOKEN_RE = re.compile(
    r"<(?:(!--)|[!?]|/([a-zA-Z][a-zA-Z0-9:-]*+)?"
    r"|([a-zA-Z][a-zA-Z0-9:-]*+)((?:[^>\"']++|\"[^\"]*+\"|'[^']*+')*+>)?)?")


def parse_html(payload: bytes) -> Dom:
    """Tokenize + build the DOM in one pass. Always terminates; malformed
    input degrades to text/skip, never raises (C2: failures are data).
    Linear in the input: one ``_TOKEN_RE`` search per tag, and per-name
    counts of open elements make an unmatched close tag one lookup."""
    s = decode_payload(payload)
    n = len(s)
    dom = Dom()
    tag, parent = dom.tag, dom.parent
    stack: list[int] = [0]  # open-element node indices, root always open
    open_count: dict[str, int] = {}  # tag name → its elements on the stack
    low: str | None = None  # lazily-built lowercase copy for rawtext scans
    search = _TOKEN_RE.search
    i = 0
    while i < n:
        m = search(s, i)
        if m is None:
            _add_text(dom, stack[-1], s[i:], open_count.get("a", 0))
            break
        lt = m.start()
        if lt > i:
            _add_text(dom, stack[-1], s[i:lt], open_count.get("a", 0))
        k = m.lastindex
        if k is None or k == 1:
            if lt + 1 >= n:
                break
            c = s[lt + 1]
            if k == 1:  # comment
                end = s.find("-->", lt + 4)
                i = n if end == -1 else end + 3
            elif c == "!" or c == "?":  # doctype, processing instruction
                end = s.find(">", lt + 2)
                i = n if end == -1 else end + 1
            elif c == "/":  # close tag without a name
                end = s.find(">", lt + 1)
                if end == -1:
                    break
                i = end + 1
            else:  # stray '<' — literal text
                _add_text(dom, stack[-1], "<", open_count.get("a", 0))
                i = lt + 1
            continue
        if k == 2:  # close tag
            end = s.find(">", lt + 1)
            if end == -1:
                break
            i = end + 1
            name = m.group(2).lower()
            # pop to the innermost open element of that name, if any
            # (soup-tolerant); an unmatched close tag is ignored
            if open_count.get(name):
                while True:
                    top = tag[stack.pop()]
                    open_count[top] -= 1
                    if top == name:
                        break
            continue
        name = m.group(3).lower()
        if k == 3:  # no closing '>' (or an unclosed quote): rest is tag
            i = n
            self_close = False
        else:
            i = m.end()
            self_close = s[i - 2] == "/"
        node = len(tag)
        parent.append(stack[-1])
        tag.append(name)
        if name in RAWTEXT_ELEMENTS and not self_close:
            # raw-text mode: content is NOT document text — skip to close tag
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
        open_count[name] = open_count.get(name, 0) + 1
    return dom


def _add_text(dom: Dom, owner: int, raw: str, anchor_depth: int) -> None:
    if not raw or raw.isspace():
        return
    dom.seg_owner.append(owner)
    dom.seg_text.append(decode_entities(raw))
    dom.seg_anchor.append(anchor_depth > 0)
