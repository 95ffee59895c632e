"""From-scratch PDF subset parser: text runs → reading order → page text.

Replaces the reference's rasterize-then-OCR path
(ocr-ai-service/app/services/ocr_service.py:41-54 pdf2image +
ocr_service.py:90-106 Tesseract, S4/M1) with direct text extraction —
exact bytes, confidence 1.0, no inference.

Supported subset (FIXTURES.md §1, and what fixtures.py emits):
PDF 1.4, classic xref not required (objects discovered by scanning),
uncompressed and /FlateDecode content streams, text operators
``BT ET Tf Td TD Tm Tj TJ ' "``, literal ``( )`` strings with the
standard escapes, WinAnsi/ASCII text. 1–3 pages, 1–2 columns.

Tokenizer: one master-regex match per content-stream token. The match
first skips, in one possessive run, every byte that cannot start a
token (whitespace and anything outside the subset), then tries the
token branches in a fixed order; a simple literal string ``(...)``
with no escape or nested parenthesis is decoded whole, and only nested
or escaped strings take the ``_string`` path. Stream bytes
are budgeted per document: all of its streams together may decode to
at most ``MAX_PAYLOAD_BYTES``, and /FlateDecode output is inflated in
chunks against that budget, so a decompression bomb fails without
being held.

Reading order (SURVEY.md §7.3, O7): column detection by x-gap split,
then sort runs by (column, -y, x); runs on the same baseline
(|Δy| < 2.0) join with a single space, lines join with "\\n", pages join
with "\\n\\n" (F2 — byte-identical contract). Anything outside the subset
raises ValueError; callers map that to status=FAILED (C2: failures are
data, never thrown past the batch boundary).
"""

from __future__ import annotations

import re
import zlib
from bisect import bisect_left

from . import MAX_PAYLOAD_BYTES

# a header starts only where a digit run starts: tried at every digit of
# a long run, each attempt rescanned the rest of the run (quadratic)
_OBJ_RE = re.compile(rb"(?<!\d)(\d++)\s++(\d++)\s++obj\b")
_ENDOBJ_RE = re.compile(rb"endobj")
_STREAM_RE = re.compile(rb"stream\r?\n")
_ESCAPES = {
    b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
    b"(": "(", b")": ")", b"\\": "\\",
}

COLUMN_GAP = 120.0   # min x gap (pts) splitting two columns
LINE_TOL = 2.0       # same-baseline tolerance (pts)

# bytes that start no token: whitespace, and anything outside the subset
_SKIP = rb"[^(\[\]/0-9+\-.A-Za-z'\"*]*+"
# one content-stream token after the bytes skipped before it (see _tokens)
_TOKEN_RE = re.compile(_SKIP + rb"""(?:
    \((?P<lit>[^()\\]*)\)
  | (?P<str>\()
  | (?P<open>\[)
  | (?P<close>\])
  | (?P<name>/[^\s\[\]()<>/]*)
  | (?P<num>[+-]?(?:\d+\.?\d*|\.\d+))
  | (?P<op>[A-Za-z'"*]+)
)""", re.X)
_SKIP_RE = re.compile(_SKIP)
_STRING_RUN_RE = re.compile(rb"[^()\\]+")
_OCTAL_RE = re.compile(rb"[0-7]{1,3}")
_INFLATE_CHUNK = 1 << 20


def _objects(data: bytes) -> dict[int, bytes]:
    """Scan ``N 0 obj ... endobj`` bodies: a header's body runs to the
    first ``endobj`` after it (found by bisecting the ``endobj`` offsets,
    collected once), or to the next header when that comes first — an
    object left open by a missing ``endobj``. Bodies never overlap, so
    together they hold at most the file's bytes and every later scan of
    them is linear in the file. Tolerates a missing/garbled xref table
    (we never read it) — object ids must still be well-formed."""
    ends = [m.start() for m in _ENDOBJ_RE.finditer(data)]
    objs: dict[int, bytes] = {}
    heads = _OBJ_RE.finditer(data)
    m = next(heads, None)
    while m is not None:
        nxt = next(heads, None)
        k = bisect_left(ends, m.end())
        if k < len(ends):
            end = ends[k] if nxt is None else min(ends[k], nxt.start())
            objs[int(m.group(1))] = data[m.end():end]
        m = nxt
    if not objs:
        raise ValueError("pdf: no objects found")
    return objs


def _inflate(raw: bytes, budget: int) -> bytes:
    """``zlib.decompress(raw)``, inflating at most ``budget`` bytes: the
    same bytes, and the same errors, for a stream within budget; one
    over it fails when its output passes the budget, holding no more
    than that plus one chunk."""
    d = zlib.decompressobj()
    parts: list[bytes] = []
    size = 0
    try:
        while not d.eof:
            part = d.decompress(raw, _INFLATE_CHUNK)
            if not part and not d.eof:
                # input spent before the end of the stream — decompressobj
                # reports this as eof False, zlib.decompress raises
                raise ValueError(
                    "pdf: bad flate stream: Error -5 while decompressing "
                    "data: incomplete or truncated stream")
            size += len(part)
            if size > budget:
                raise ValueError("pdf: stream exceeds budget")
            parts.append(part)
            raw = d.unconsumed_tail
    except zlib.error as e:
        raise ValueError(f"pdf: bad flate stream: {e}") from None
    return b"".join(parts)


def _stream_of(body: bytes, budget: int) -> bytes | None:
    """The object's stream bytes, decoded; ``budget`` caps their length
    (ValueError past it)."""
    sm = _STREAM_RE.search(body)
    if not sm:
        return None
    end = body.find(b"endstream", sm.end())
    if end == -1:
        raise ValueError("pdf: unterminated stream")
    raw = body[sm.end():end]
    if raw.endswith(b"\r\n"):
        raw = raw[:-2]
    elif raw.endswith(b"\n"):
        raw = raw[:-1]
    if b"/FlateDecode" in body[:sm.start()]:
        return _inflate(raw, budget)
    if len(raw) > budget:
        raise ValueError("pdf: stream exceeds budget")
    return raw


_REF_LIST_RE = re.compile(rb"(\d+)\s+0\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.S)
_CONTENTS_RE = re.compile(rb"/Contents\s*(\[[^\]]*\]|\d+\s+0\s+R)")
_CONTENTS_REF_RE = re.compile(rb"/Contents\s*(\d+\s+0\s+R)")


def _page_content_ids(objs: dict[int, bytes]) -> list[list[int]]:
    """Ordered pages → list of content-stream object ids per page.
    Page order follows the /Kids array of the page tree root; falls back
    to ascending object id of /Type /Page objects."""
    pages_nodes = {
        oid: body for oid, body in objs.items()
        if b"/Type" in body and b"/Pages" in body and b"/Kids" in body
    }
    page_objs = {
        oid: body for oid, body in objs.items()
        if re.search(rb"/Type\s*/Page\b", body)
    }
    order: list[int] = []
    # an array closes before its body's last ']': searched past it, each
    # '[' there would rescan the rest of the body (quadratic)
    for body in pages_nodes.values():
        km = _KIDS_RE.search(body, 0, body.rfind(b"]") + 1)
        if km:
            order = [int(x) for x in _REF_LIST_RE.findall(km.group(1))]
            break
    if not order:
        order = sorted(page_objs)
    out: list[list[int]] = []
    for oid in order:
        body = page_objs.get(oid)
        if body is None:
            continue
        last = body.rfind(b"]") + 1
        cm = _CONTENTS_RE.search(body, 0, last) \
            or _CONTENTS_REF_RE.search(body, last)
        if not cm:
            out.append([])
            continue
        out.append([int(x) for x in _REF_LIST_RE.findall(cm.group(1))])
    if not out:
        raise ValueError("pdf: no pages")
    return out


def _tokens(content: bytes):
    """Minimal content-stream tokenizer: strings, arrays, numbers, names,
    operators. One ``_TOKEN_RE`` match per token, skipping the bytes
    before it; a byte that could start a token but starts none (``+``,
    ``-`` or ``.`` before no digit) is skipped on its own."""
    i, n = 0, len(content)
    match = _TOKEN_RE.match
    while i < n:
        m = match(content, i)
        if m is None:
            i = _SKIP_RE.match(content, i).end() + 1
            continue
        kind = m.lastgroup
        if kind == "lit":
            yield ("str", m.group("lit").decode("latin-1"))
        elif kind == "str":
            s, i = _string(content, m.start("str"))
            yield ("str", s)
            continue
        elif kind == "open":
            yield ("arr_open", None)
        elif kind == "close":
            yield ("arr_close", None)
        elif kind == "num":
            yield ("num", float(m.group("num")))
        else:
            yield (kind, m.group(kind).decode("latin-1"))
        i = m.end()


def _string(content: bytes, i: int) -> tuple[str, int]:
    assert content[i:i + 1] == b"("
    out: list[str] = []
    depth = 1
    i += 1
    n = len(content)
    while i < n:
        m = _STRING_RUN_RE.match(content, i)
        if m:
            out.append(m.group(0).decode("latin-1"))
            i = m.end()
            continue
        c = content[i:i + 1]
        if c == b"\\":
            nxt = content[i + 1:i + 2]
            if nxt.isdigit():  # octal escape \ddd
                # \8 / \9 pass isdigit but are not octal — fall through to
                # the literal-escape branch instead of crashing (ADVICE r1)
                m = _OCTAL_RE.match(content, i + 1)
                if m:
                    out.append(chr(int(m.group(0), 8)))
                    i = m.end()
                    continue
            out.append(_ESCAPES.get(nxt, nxt.decode("latin-1")))
            i += 2
            continue
        if c == b"(":
            depth += 1
            out.append("(")
        else:  # ")"
            depth -= 1
            if depth == 0:
                return "".join(out), i + 1
            out.append(")")
        i += 1
    raise ValueError("pdf: unterminated string")


def runs_of_page(content: bytes) -> list[tuple[float, float, str]]:
    """Execute the text-op subset, returning (x, y, text) runs."""
    runs: list[tuple[float, float, str]] = []
    x = y = 0.0          # current text position
    lx = ly = 0.0        # line start (Td/TD/Tm set it)
    leading = 0.0
    in_text = False
    stack: list = []     # pending operands
    in_array: bool = False
    arr: list = []
    for kind, val in _tokens(content):
        if kind == "arr_open":
            in_array, arr = True, []
            continue
        if kind == "arr_close":
            in_array = False
            stack.append(("arr", arr))
            continue
        if kind in ("num", "str", "name"):
            (arr if in_array else stack).append((kind, val))
            continue
        op = val
        if op == "BT":
            in_text, x, y, lx, ly = True, 0.0, 0.0, 0.0, 0.0
        elif op == "ET":
            in_text = False
        elif op in ("Td", "TD"):
            if len(stack) >= 2 and stack[-1][0] == "num" and stack[-2][0] == "num":
                tx, ty = stack[-2][1], stack[-1][1]
                lx, ly = lx + tx, ly + ty
                x, y = lx, ly
                if op == "TD":
                    leading = -ty
        elif op == "Tm":
            if len(stack) >= 6:
                e, f = stack[-2][1], stack[-1][1]
                lx, ly = e, f
                x, y = lx, ly
        elif op == "TL":
            if stack and stack[-1][0] == "num":
                leading = stack[-1][1]
        elif op == "T*":
            ly -= leading
            x, y = lx, ly
        elif op == "Tj":
            if in_text and stack and stack[-1][0] == "str":
                runs.append((x, y, stack[-1][1]))
        elif op in ("'", '"'):
            if in_text and stack and stack[-1][0] == "str":
                ly -= leading
                x, y = lx, ly
                runs.append((x, y, stack[-1][1]))
        elif op == "TJ":
            if in_text and stack and stack[-1][0] == "arr":
                txt = "".join(v for k, v in stack[-1][1] if k == "str")
                if txt:
                    runs.append((x, y, txt))
        # Tf and anything else: operands consumed, no effect on runs
        stack.clear()
    return runs


def page_text(runs: list[tuple[float, float, str]]) -> str:
    """Column split + reading-order sort + line assembly (O7)."""
    if not runs:
        return ""
    xs = sorted({r[0] for r in runs})
    split = None
    best_gap = COLUMN_GAP
    for a, b in zip(xs, xs[1:]):
        if b - a >= best_gap:
            best_gap = b - a
            split = (a + b) / 2.0
    left = sum(1 for r in runs if split is not None and r[0] < split)
    right = len(runs) - left
    if split is None or left < 2 or right < 2:
        split = None

    def col(r):
        return 0 if split is None or r[0] < split else 1

    ordered = sorted(runs, key=lambda r: (col(r), -r[1], r[0]))
    lines: list[list[str]] = []
    last: tuple[int, float] | None = None
    for r in ordered:
        key = (col(r), r[1])
        if last is not None and key[0] == last[0] and abs(key[1] - last[1]) < LINE_TOL:
            lines[-1].append(r[2])
        else:
            lines.append([r[2]])
            last = key
    return "\n".join(" ".join(parts) for parts in lines)


def extract_pdf(payload: bytes) -> list[str]:
    """payload → list of page texts (reading order). Raises ValueError on
    anything outside the supported subset."""
    objs = _objects(payload)
    pages = _page_content_ids(objs)
    budget = MAX_PAYLOAD_BYTES  # stream bytes, shared by the document
    out: list[str] = []
    for content_ids in pages:
        chunks: list[bytes] = []
        for cid in content_ids:
            body = objs.get(cid)
            if body is None:
                raise ValueError(f"pdf: missing content object {cid}")
            st = _stream_of(body, budget)
            if st is None:
                raise ValueError(f"pdf: object {cid} has no stream")
            budget -= len(st)
            chunks.append(st)
        out.append(page_text(runs_of_page(b"\n".join(chunks))))
    return out
