"""From-scratch HTML front end: payload bytes → text blocks in one scan.

No lxml/bs4 in the environment (SURVEY.md §7.0) and the brief forbids a
port — this is a small deterministic tokenizer that never builds a tree.
One master regex (``_SCAN_RE``) walks the page with a single ``findall``;
a Python loop keeps the open-element stack, each element with its
nearest block-tag ancestor, and appends every text segment straight to
that block. An element whose content is plain text (open tag, text,
its own close tag) is one match, handled without touching the stack:
about a quarter of a page's tokens. It is the Spark-side analogue of
the reference's image preprocessing stages
(ocr-ai-service/app/services/ocr_service.py:56-76): normalize raw
payload bytes into a structure the scorer can consume.

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
# elements that own text blocks (boiler.py scores them)
BLOCK_TAGS = frozenset(
    ["p", "div", "article", "section", "main", "li", "td", "th", "pre",
     "blockquote", "h1", "h2", "h3", "h4", "h5", "h6", "caption", "figcaption"]
)

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


def collapse(s: str) -> str:
    """``re.sub(r"\\s+", " ", s).strip()``: str.split()'s whitespace set is
    exactly re's \\s (checked over every code point). Every such character
    but ' ' is non-printable, so a printable string with no doubled, leading
    or trailing space is returned as it is, without the split."""
    if s.isprintable() and "  " not in s and s[:1] != " " and s[-1:] != " ":
        return s
    return " ".join(s.split())


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


# HTML element names and attribute runs. Attributes run through the
# tag's real '>': a quoted value may hold '>', and an unclosed quote
# leaves the tag without one.
_NAME = r"[a-zA-Z][a-zA-Z0-9:-]*+"
_ATTRS = r"""(?:[^>"']++|"[^"]*+"|'[^']*+')*+"""


def _rawtext(name: str) -> str:
    """A ``<script>``/``<style>`` open tag that does not end in ``/>``,
    with its body: through the next ``</name`` (ASCII case-insensitive,
    matched on the page itself) and the '>' after it, or to the end of
    the page. The body is not document text."""
    return (rf"(?ai:{name})(?![a-zA-Z0-9:-]){_ATTRS}(?<!/)>"
            rf"[^<]*+(?:<(?!/(?ai:{name}))[^<]*+)*+[^>]*+>?")


# One match per token, and every match ends where the next begins, so
# ``findall`` walks the whole page in one C-level pass. Groups: 1 the
# text before the token, 2 a close-tag name, 3 and 4 a leaf element's
# name and text, 5 an open-tag name, 6 its closing '>' unless the tag
# ends in '/>' (empty too when the tag never closes: it takes the rest
# of the page), 7 a stray '<' (kept as text). A leaf element is an open
# tag not ending in '/>', text with no '<', and the close tag of the
# same name (ASCII case-insensitive, as the close-tag name is lowered:
# it is ASCII) through its '>'; the tokens it replaces are exactly the
# open tag, text and close tag the other branches would match there,
# so anything else falls through to them.
# Comments, doctype/PI, nameless close tags and raw-text elements match
# with no group set. Each construct that never closes takes the rest of
# the page inside the regex: a failed match would restart the scan one
# '<' later and rescan the tail, quadratic in the page. A trailing '<'
# is dropped.
_SCAN_RE = re.compile(
    r"([^<]*+)(?:<(?:"
    r"!--[^-]*+(?:-(?!->)[^-]*+)*+(?:-->)?"
    r"|[!?][^>]*+>?"
    rf"|/({_NAME})?[^>]*+>?"
    rf"|{_rawtext('script')}|{_rawtext('style')}"
    rf"|(?P<leaf>{_NAME}){_ATTRS}(?<!/)>([^<]*+)</(?ai:(?P=leaf))"
    r"(?![a-zA-Z0-9:-])[^>]*+>"
    rf"|({_NAME})(?:{_ATTRS}(?:(?<!/)(>)|>)|[\s\S]*+)"
    r")|(<)(?=[\s\S])|<|\Z)")


def parse_html(payload: bytes) -> list[list]:
    """Tokenize the page straight into its blocks, in one pass that never
    raises (C2: malformed input degrades to text or is skipped).

    Returns the blocks that received text, in first-text order, each as
    ``[tag, link_chars, segment, ...]``: the text segments whose nearest
    open block-tag element (or the root, tag ``#root``) it is, entity-
    decoded, whitespace-only segments skipped. ``link_chars`` sums the
    collapsed length of the segments inside an open ``<a>``.

    Linear in the input: one ``_SCAN_RE.findall``, and per-name counts of
    open elements make an unmatched close tag one lookup. A leaf element
    nets out to what its three tokens would do: its open tag pushed and
    its close tag popped again, its text in between goes to a fresh
    block when it is a block tag and to the current owner otherwise,
    counted as link text when it is an ``<a>`` or one is open."""
    s = decode_payload(payload)
    owner = ["#root", 0]  # the nearest block of the innermost open element
    out: list[list] = []  # blocks in first-text order
    names: list[str] = []  # open elements, innermost last
    owners: list[list] = [owner]  # nearest block per open element, root first
    open_count: dict[str, int] = {}  # tag name → its elements on the stack
    for text, close, leaf, inner, name, opens, stray in _SCAN_RE.findall(s):
        if text and not text.isspace():
            if len(owner) == 2:  # the block's first text
                out.append(owner)
            text = decode_entities(text)
            owner.append(text)
            if open_count.get("a"):
                owner[1] += len(collapse(text))
        if leaf:
            if inner and not inner.isspace():
                leaf = leaf.lower()
                block = [leaf, 0] if leaf in BLOCK_TAGS else owner
                if len(block) == 2:
                    out.append(block)
                inner = decode_entities(inner)
                block.append(inner)
                if leaf == "a" or open_count.get("a"):
                    block[1] += len(collapse(inner))
        elif name:
            if not opens:
                continue  # self-closing, or takes the rest of the page
            name = name.lower()
            if name in VOID_ELEMENTS:
                continue
            names.append(name)
            if name in BLOCK_TAGS:
                owner = [name, 0]
            owners.append(owner)
            open_count[name] = open_count.get(name, 0) + 1
        elif close:
            # pop to the innermost open element of that name, if any
            # (soup-tolerant); an unmatched close tag is ignored
            name = close.lower()
            if open_count.get(name):
                while True:
                    top = names.pop()
                    owners.pop()
                    open_count[top] -= 1
                    if top == name:
                        break
                owner = owners[-1]
        elif stray:
            if len(owner) == 2:
                out.append(owner)
            owner.append("<")
            if open_count.get("a"):
                owner[1] += 1
    return out
