"""Minimal REAL-PDF content-stream kernel.

The north-star brief calls for "tokenizing content streams" of PDF byte
streams. This module handles a structurally genuine PDF subset —
``%PDF-1.4`` header, numbered objects, page tree, per-page
uncompressed content streams, xref table, trailer — whose streams use
the real PDF operator vocabulary:

    BT … ET                 text object
    a b c d e f Tm          text matrix (absolute positioning; e,f = x,y)
    tx ty Td                relative line displacement
    n TL   T*   (s) '       leading / next-line / next-line-and-show
    (string) Tj             show text
    [(a) -250 (b)] TJ       show with kerning (gap ≤ KERN_SPACE → space)
    x y m   x y l   S       path moveto/lineto/stroke (ruling lines)
    /Fx size Tf             select font (CMap + /Widths) and size

An operator whose numeric operands are not numbers (a string or a name
where a number belongs) is ignored: it leaves the interpreter state as
it was, so a damaged stream loses that operator, not the document.

Streams may be /FlateDecode-compressed (zlib, stdlib); uncompressed
streams pass through untouched. The tokenizer walks each stream, tracks
the text matrix, and emits positioned glyph runs + ruling segments;
PDF's bottom-left origin is flipped to layout (top-down) Y.
Reconstruction — Y-clustering into lines, ruling-grid table detection,
reading order — is shared with the FPDF1 kernel
(`pdfish_layout.assemble_pages`), so both formats satisfy the same
byte-identity oracle.

CID text (the encoding every real CJK PDF uses — reference dependency:
pdfplumber, src/pdf_reader.py:17-29) is supported through the
Identity-H + /ToUnicode path: hex show-strings ``<0001 0002> Tj`` carry
2-byte CIDs, the page's /Resources /Font dict routes ``/Fx`` names to
Type0 font objects, and each font's embedded /ToUnicode CMap stream
(bfchar + bfrange, scalar and array forms, optionally Flate-compressed)
maps CIDs to Unicode — including multi-code-unit UTF-16BE targets
(surrogate pairs). ``Tf`` switches the active font mid-stream. Fonts
without a ToUnicode CMap fall back to code=codepoint (true Identity).
When /Encoding is an embedded CMap STREAM (not the /Identity-H name),
its cidrange/cidchar entries add the code→CID layer — show-string hex
then carries codes, decoded code→CID→unicode, the full two-layer walk
real non-Identity CJK encodings require (its codespaceranges override
ToUnicode's, their canonical home per §9.7.5.3).

Simplifications vs full PDF (documented contract of the subset): one
content stream per page in document order, literal strings UTF-8, and
the first definition of an object number wins. Objects are found by one
left-to-right scan of the file (``_scan``), never through the xref, so
incremental updates are not followed and an indirect ``/Length`` must
point at a top-level object.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from math import isfinite
from typing import NamedTuple

from .pdfish_layout import assemble_pages

PAGE_W, PAGE_H = 612, 792

# TJ kerning adjustments are in thousandths of an em, negative = closer;
# a gap at or below this (i.e. adjustment ≤ -KERN_SPACE) renders as an
# inter-word space — the same heuristic pdfminer/pdfplumber apply
KERN_SPACE = 180.0

# content-stream token classes (group index = token kind, dispatched
# via match.lastindex — cheaper than re-inspecting the lexeme)
_TOKEN_RE = re.compile(
    r"""(\((?:\\.|[^\\()])*\))   # 1: literal string
      | (<[0-9A-Fa-f\s]*>)       # 2: hex string (CID show text)
      | ([-+]?\d+(?:\.\d+)?)     # 3: number
      | (/[A-Za-z0-9]+)          # 4: name
      | ([A-Za-z']{1,3}\*?)      # 5: operator
    """,
    re.X,
)
_ESCAPE_RE = re.compile(r"\\(.)", re.S)


def is_minipdf(blob: bytes) -> bool:
    return blob[:5] == b"%PDF-"


def _unescape(s: str) -> str:
    # a lone trailing backslash has no escaped character and stays
    return _ESCAPE_RE.sub(r"\1", s)


def _nums(stack: list[str], n: int) -> tuple[float, ...] | None:
    """The last ``n`` operands as floats; None when fewer than ``n`` are
    stacked or one of them is not a finite number (a string, a name, or
    309+ digits, which read as ``inf``)."""
    try:
        v = tuple(map(float, stack[-n:]))
    except ValueError:
        return None
    return v if len(v) == n and all(map(isfinite, v)) else None


def _text_width(text: str, wt: WidthTable) -> int:
    """Sum of ``text``'s glyph widths (1/1000 em) in a /Widths table."""
    first, widths, missing = wt
    n = len(widths)
    total = 0
    for ch in text:
        i = ord(ch) - first
        total += widths[i] if 0 <= i < n else missing
    return total


def _tokenize_stream(
    data: str, fonts: dict[str, FontEntry] | None = None
) -> dict:
    """One content stream → {runs, h, v} in layout (top-down) coords.

    ``fonts`` maps resource names ("/F2") to (CMap table, /Widths
    table); ``Tf`` selects the active entry. Hex show-strings decode
    through its CMap table (variable-byte codespace-driven codes,
    code=codepoint fallback when the font has none).

    When the active font carries a /Widths table, every show operator
    advances the text position by the shown glyphs' widths × font
    size / 1000 (and TJ kern adjustments subtract adj/1000 × size), so
    consecutive shows with no intervening Tm/Td land where a
    metrics-aware renderer puts them. Fonts without /Widths keep the
    no-advance behavior (every show explicitly positioned).

    Operands stay strings on the stack; each operator reads its numbers
    through ``_nums`` and ignores itself when they are not numbers.
    """
    fonts = fonts or {}
    runs: list[tuple[int, int, str]] = []
    h_segs: list[tuple[int, int, int, int]] = []
    v_segs: list[tuple[int, int, int, int]] = []
    stack: list[str] = []
    tx = ty = 0.0          # current show position (text matrix, PDF coords)
    lx = ly = 0.0          # current LINE start (text line matrix): Td, T*
    #                        and ' translate THIS matrix (§9.4.2) — show
    #                        operators advance only tx, so a Td after a
    #                        metrics-advanced show must not inherit the
    #                        advance
    leading = 12.0         # TL text leading (T* / ' displacement)
    cur_cmap: CMapTable | None = None
    cur_widths: WidthTable | None = None
    cur_size = 10.0        # Tf size operand (scales /Widths advances)
    path_pt: tuple[float, ...] | None = None
    pending_seg: tuple[float, ...] | None = None

    def flip(y: float) -> int:
        return int(PAGE_H - y)

    def lit(tok: str) -> str:
        s = tok[1:-1]
        if "\\" in s:  # escape processing only when present
            s = _unescape(s)
        return s

    def hexs(tok: str) -> str:
        """<XXXX…> hex string → text, decoded through the active font's
        codespace ranges (variable byte length: e.g. 1-byte ASCII +
        2-byte CID regions) and its ToUnicode CMap; chr(code) when a
        code has no mapping (the Identity interpretation), U+FFFD when
        that code is a surrogate or past U+10FFFF. Odd final
        digit pads with 0 (spec). Unmatched byte sequences consume the
        shortest declared code length — the spec's error recovery."""
        hx = "".join(tok[1:-1].split())
        if len(hx) % 2:
            hx += "0"
        bs = bytes.fromhex(hx)
        cmap, ranges, code2cid = cur_cmap or _EMPTY_CMAP
        min_n = ranges[0][0]
        out = []
        i, L = 0, len(bs)
        while i < L:
            code, used = None, None
            for n, lo, hi in ranges:
                if i + n <= L:
                    c = int.from_bytes(bs[i:i + n], "big")
                    if lo <= c <= hi:
                        code, used = c, n
                        break
            if used is None:
                used = min(min_n, L - i)
                code = int.from_bytes(bs[i:i + used], "big")
            cid = _apply_code2cid(code, code2cid)
            mapped = cmap.get(cid)
            if mapped is None:
                # no text holds a surrogate or a code past U+10FFFF (a
                # 4-byte codespace reaches that far)
                bad = 0xD800 <= cid <= 0xDFFF or cid > 0x10FFFF
                mapped = "\ufffd" if bad else chr(cid)
            out.append(mapped)
            i += used
        return "".join(out)

    def shown(tok: str) -> str:
        return lit(tok) if tok[0] == "(" else hexs(tok)

    def advance(text: str) -> None:
        """Move tx past ``text`` by the active simple font's metrics."""
        nonlocal tx
        if cur_widths is not None:
            tx += _text_width(text, cur_widths) * cur_size / 1000.0

    def emit(text: str) -> None:
        # finite operands can still sum past the float range (Td after
        # Td, a huge Tf size times the widths): such a run has no place
        # on the page and is dropped
        if isfinite(tx) and isfinite(ty):
            runs.append((int(tx), flip(ty), text))

    def show_top() -> None:
        if stack and stack[-1][0] in "(<":
            text = shown(stack[-1])
            emit(text)
            advance(text)

    for m in _TOKEN_RE.finditer(data):
        if m.lastindex != 5:  # an operand: number, string or name, verbatim
            stack.append(m.group())
        else:
            tok = m.group()
            if tok == "Tj":
                show_top()
            elif tok == "Tf":
                # /Fx size Tf — switch the active CMap and width
                # tables; remember the size for advance scaling
                if (v := _nums(stack, 1)) is not None and len(stack) > 1:
                    cur_cmap, cur_widths = fonts.get(stack[-2], (None, None))
                    (cur_size,) = v
            elif tok == "TJ":
                # [(a) -250 (b)] TJ — brackets are not tokens, so the
                # stack holds the strings and kern numbers in order
                parts: list[str] = []
                adv = 0.0  # total advance in 1/1000-em units × size
                for item in stack:
                    if item[0] in "(<":
                        s = shown(item)
                        parts.append(s)
                        if cur_widths is not None:
                            adv += _text_width(s, cur_widths)
                        continue
                    try:
                        k = float(item)
                    except ValueError:
                        continue
                    if k <= -KERN_SPACE:
                        parts.append(" ")
                    # a TJ adjustment moves the glyph origin by
                    # -adj/1000 × size regardless of whether it
                    # rendered as a space (spec §9.4.3)
                    adv -= k
                text = "".join(parts)
                if text:
                    emit(text)
                if cur_widths is not None:
                    tx += adv * cur_size / 1000.0
            elif tok == "TL":
                if (v := _nums(stack, 1)) is not None:
                    (leading,) = v
            elif tok == "T*":
                ly -= leading
                tx, ty = lx, ly
            elif tok == "'":
                ly -= leading
                tx, ty = lx, ly
                show_top()
            elif tok == "Tm":
                if (v := _nums(stack, 6)) is not None:
                    tx, ty = lx, ly = v[4], v[5]
            elif tok == "Td":
                if (v := _nums(stack, 2)) is not None:
                    lx += v[0]
                    ly += v[1]
                    tx, ty = lx, ly
            elif tok == "m":
                if (v := _nums(stack, 2)) is not None:
                    path_pt = v
            elif tok == "l":
                if path_pt is not None and (v := _nums(stack, 2)) is not None:
                    pending_seg = path_pt + v
                    path_pt = v
            elif tok == "S":
                if pending_seg is not None:
                    x1, y1, x2, y2 = pending_seg
                    seg = (int(x1), flip(y1), int(x2), flip(y2))
                    if seg[1] == seg[3]:
                        h_segs.append(seg)
                    else:
                        v_segs.append(seg)
                    pending_seg = None
                path_pt = None
            stack.clear()
    return {"runs": runs, "h": h_segs, "v": v_segs,
            "width": float(PAGE_W), "height": float(PAGE_H)}


# ---------------------------------------------------------------------------
# object table: one left-to-right pass per file finds every object header
# and every stream; object, stream, page and font lookups all read it
# ---------------------------------------------------------------------------

_HEADER_RE = re.compile(rb"(?<![0-9])(\d+)\s+(\d+)\s+obj\b")
# the pass's two events: an object header (groups 1-2), or a stream dict
# (group 3, which tells us the /Filter) up to the end of its 'stream' line
_SCAN_RE = re.compile(
    _HEADER_RE.pattern + rb"|<<((?:[^<>]|<<[^>]*>>)*?)>>\s*stream\r?\n"
)
# direct /Length only: the (?![0-9]) stops backtracking from shaving
# digits off an indirect reference ('/Length 80 0 R' must NOT parse as
# 8), and the trailing lookahead rejects the indirect 'N g R' form
# outright — indirect lengths resolve through _declared_length below
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?![0-9])(?!\s+\d+\s+R)")
_LENGTH_REF_RE = re.compile(rb"/Length\s+(\d+)\s+\d+\s+R")
_INT_OBJ_RE = re.compile(rb"\s*(\d+)")
_OBJSTM_N_RE = re.compile(rb"/N\s+(\d+)")
_OBJSTM_FIRST_RE = re.compile(rb"/First\s+(\d+)")
_PAGE_OBJ_RE = re.compile(rb"/Type\s*/Page(?![a-zA-Z])")
_ROTATE_RE = re.compile(rb"/Rotate\s+(-?\d+)")


class ObjectTable(NamedTuple):
    """One PDF's objects and streams in document order, as offsets.

    ``heads``: one ``[num, gen, body start, body end, first stream]``
    per ``N G obj`` header; the body ends at the next header or at the
    payload of the object's first stream (index into ``streams``, -1
    when it has none). ``first``: object number → index of its first
    gen-0 header. ``streams``: ``(owning header or -1, dict start, dict
    end, payload start, payload end)``. ``objstm``: {objnum: body} of
    the objects packed in /ObjStm streams."""

    blob: bytes
    heads: list[list[int]]
    first: dict[int, int]
    streams: list[tuple[int, int, int, int, int]]
    objstm: dict[int, bytes]


def _scan(blob: bytes) -> ObjectTable:
    """The one pass. A stream's payload is ``/Length`` bytes when the
    length is declared (binary Flate data may contain the literal
    'endstream'), else it runs to the next 'endstream' (or to EOF). The
    scan resumes after the payload's 'endstream' (or after the payload
    when none follows), so payload bytes are never searched for
    headers or streams — a spurious '<<...>>stream' or 'N 0 obj' inside
    binary data is never recorded."""
    heads: list[list[int]] = []
    first: dict[int, int] = {}
    streams: list[tuple[int, int, int, int, int]] = []
    size = len(blob)
    pos = 0
    while (m := _SCAN_RE.search(blob, pos)) is not None:
        pos = m.end()
        if m.start(3) < 0:  # an object header
            if heads:
                heads[-1][3] = min(heads[-1][3], m.start())
            num, gen = int(m.group(1)), int(m.group(2))
            if gen == 0:
                first.setdefault(num, len(heads))
            heads.append([num, gen, pos, size, -1])
            continue
        n = _declared_length(blob, m.group(3), heads, first, pos)
        if n is None:
            end = blob.find(b"endstream", pos)
            data_end = end if end >= 0 else size
        else:
            data_end = min(pos + n, size)
            end = blob.find(b"endstream", data_end)
        if heads:
            head = heads[-1]
            head[3] = min(head[3], pos)
            if head[4] < 0:
                head[4] = len(streams)
        streams.append((len(heads) - 1, m.start(3), m.end(3), pos, data_end))
        pos = end + len(b"endstream") if end >= 0 else data_end
    return ObjectTable(blob, heads, first, streams, _objstm_index(blob, streams))


def _declared_length(blob: bytes, obj_dict: bytes, heads: list[list[int]],
                     first: dict[int, int], pos: int) -> int | None:
    """A stream dict's /Length: the direct value, or the integer body of
    an indirect '/Length N g R' object (Acrobat/Distiller writers
    routinely indirect it, usually to an object right after the
    stream, which the pass has not reached yet). None when absent."""
    lm = _LENGTH_RE.search(obj_dict)
    if lm is not None:
        return int(lm.group(1))
    rm = _LENGTH_REF_RE.search(obj_dict)
    if rm is None:
        return None
    num = int(rm.group(1))
    if num in first:
        start = heads[first[num]][2]
    else:
        end = blob.find(b"endstream", pos)
        start = next(
            (h.end() for h in _HEADER_RE.finditer(blob, end if end >= 0 else pos)
             if int(h.group(1)) == num and int(h.group(2)) == 0),
            None,
        )
        if start is None:
            return None
    im = _INT_OBJ_RE.match(blob, start)
    return int(im.group(1)) if im is not None else None


def _objstm_index(
    blob: bytes, streams: list[tuple[int, int, int, int, int]]
) -> dict[int, bytes]:
    """Object-stream (PDF 1.5 §7.5.7) index: {objnum: body bytes} for
    every object packed inside a /Type /ObjStm stream — the layout
    every modern real-world writer emits (dict-type objects compressed
    together; content/CMap streams stay top-level by spec). The stream
    body is ``num₁ off₁ num₂ off₂ …`` header pairs, then the object
    bodies starting at /First, offsets relative to it. A malformed
    header skips its stream."""
    idx: dict[int, bytes] = {}
    for _, ds, de, start, end in streams:
        obj_dict = blob[ds:de]
        if b"/ObjStm" not in obj_dict:
            continue
        nm, fm = _OBJSTM_N_RE.search(obj_dict), _OBJSTM_FIRST_RE.search(obj_dict)
        if nm is None or fm is None:
            continue
        body = _decode_stream_bytes(obj_dict, blob[start:end])
        n, first = int(nm.group(1)), int(fm.group(1))
        toks = body[:first].split()
        try:
            pairs = [
                (int(toks[2 * i]), int(toks[2 * i + 1]))
                for i in range(min(n, len(toks) // 2))
            ]
        except ValueError:
            continue
        for i, (num, off) in enumerate(pairs):
            stop = pairs[i + 1][1] if i + 1 < len(pairs) else len(body) - first
            idx.setdefault(num, body[first + off: first + stop])
    return idx


def _body(tbl: ObjectTable, i: int) -> bytes:
    """Bytes of header ``i``'s object up to its 'endobj' (or to where
    its body ends when the 'endobj' is missing)."""
    _, _, start, end, _ = tbl.heads[i]
    e = tbl.blob.find(b"endobj", start, end)
    return tbl.blob[start: e if e >= 0 else end]


def _object_slice(tbl: ObjectTable, num: int) -> bytes | None:
    """Body of object ``num``: its first top-level gen-0 definition,
    else the ObjStm-packed one; None if absent."""
    i = tbl.first.get(num)
    return _body(tbl, i) if i is not None else tbl.objstm.get(num)


def _object_stream(tbl: ObjectTable, num: int) -> tuple[bytes, bytes] | None:
    """(dict bytes, payload bytes) of object ``num``'s stream; None when
    the object is absent, packed in an ObjStm (packed objects carry no
    stream, §7.5.7) or streamless."""
    i = tbl.first.get(num)
    if i is None or tbl.heads[i][4] < 0:
        return None
    _, ds, de, start, end = tbl.streams[tbl.heads[i][4]]
    return tbl.blob[ds:de], tbl.blob[start:end]


def _page_objects(tbl: ObjectTable) -> list[bytes]:
    """The page walk: /Type /Page object bodies in document order. PDF
    1.5 files pack them in /ObjStm streams instead, walked in pack
    order (the writer's page order; a full /Kids tree walk is
    unnecessary for the single-tree subset this kernel handles)."""
    pages = [b for i in range(len(tbl.heads)) if _PAGE_OBJ_RE.search(b := _body(tbl, i))]
    return pages or [b for b in tbl.objstm.values() if _PAGE_OBJ_RE.search(b)]


# ---------------------------------------------------------------------------
# standard security handler (PDF 1.7 §7.6.3): RC4 decryption for
# empty-user-password files — the overwhelmingly common "encrypted"
# annual-report case pdfplumber opens silently (reference dep:
# src/pdf_reader.py:17-29; such files restrict printing/copying, not
# reading). AES (/V 4+) and password-protected files raise honestly.
# ---------------------------------------------------------------------------

# the spec's 32-byte password pad (§7.6.3.3 algorithm 2, step a)
_PW_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (the /V 1-2 stream cipher); length-preserving, so
    in-place stream decryption never perturbs xref offsets/Lengths."""
    S = list(range(256))
    j = 0
    kl = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % kl]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+0\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f]*)>")
_HEXVAL_RE = {
    k: re.compile(rb"/" + k + rb"\s*<([0-9A-Fa-f]*)>")
    for k in (b"O", b"U")
}
_INTVAL_RE = {
    k: re.compile(rb"/" + k + rb"\s+(-?\d+)")
    for k in (b"V", b"R", b"P", b"Length")
}


def _encryption_key(tbl: ObjectTable) -> bytes | None:
    """File encryption key for an empty user password, or None when the
    file is unencrypted. Raises NotImplementedError for handlers this
    subset does not cover (AES, non-Standard filters) and ValueError
    when the empty password does not verify (a genuinely
    password-protected file — unreadable without secrets, like
    pdfplumber's PDFPasswordIncorrect)."""
    # only honor /Encrypt inside the TRAILER dict: matching it anywhere
    # would let an unencrypted document whose content stream merely
    # contains the text '/Encrypt N 0 R' trigger the decryption tier
    # and degrade to an empty page
    blob = tbl.blob
    tp = blob.rfind(b"trailer")
    if tp < 0:
        return None  # xref-stream layouts in this subset are never encrypted
    em = _ENCRYPT_REF_RE.search(blob, tp)
    if em is None:
        return None
    ed = _object_slice(tbl, int(em.group(1)))
    if ed is None:
        raise NotImplementedError("/Encrypt points at a missing object")
    if b"/Standard" not in ed:
        raise NotImplementedError("non-Standard security handler")
    ints = {
        k.decode(): (int(m.group(1)) if (m := _INTVAL_RE[k].search(ed)) else None)
        for k in _INTVAL_RE
    }
    v, r = ints["V"] or 1, ints["R"] or 2
    if v not in (1, 2) or r not in (2, 3):
        raise NotImplementedError(f"encryption V={v} R={r} (RC4 V1/V2 only)")
    om = _HEXVAL_RE[b"O"].search(ed)
    um = _HEXVAL_RE[b"U"].search(ed)
    if om is None or um is None:
        raise NotImplementedError("/O //U not in hex-string form")
    o_val = bytes.fromhex(om.group(1).decode())
    u_val = bytes.fromhex(um.group(1).decode())
    p = ints["P"] if ints["P"] is not None else -1
    n = (ints["Length"] or 40) // 8
    idm = _ID_RE.search(blob, tp)
    id0 = bytes.fromhex(idm.group(1).decode()) if idm else b""
    h = hashlib.md5(
        _PW_PAD + o_val + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0
    ).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    key = h[:n]
    # verify the empty user password (algorithm 6): R2 compares RC4 of
    # the pad; R3 compares the first 16 bytes of the double-hash form
    if r == 2:
        ok = _rc4(key, _PW_PAD) == u_val
    else:
        chk = hashlib.md5(_PW_PAD + id0).digest()
        for i in range(20):
            chk = _rc4(bytes(b ^ i for b in key), chk)
        ok = chk == u_val[:16]
    if not ok:
        raise ValueError("PDF is password-protected (empty password rejected)")
    return key


def _object_key(key: bytes, num: int, gen: int = 0) -> bytes:
    return hashlib.md5(
        key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
    ).digest()[: min(len(key) + 5, 16)]


def decrypt_pdf(tbl: ObjectTable) -> ObjectTable:
    """qpdf-style whole-file decrypt: every stream payload inside an
    object is RC4-decrypted in place, once, with its own object's key.
    RC4 preserves length, so offsets, /Length values and the xref stay
    valid; the plaintext file is scanned again and the rest of the
    parser runs untouched. The table itself for unencrypted files."""
    key = _encryption_key(tbl)
    if key is None:
        return tbl
    blob = tbl.blob
    out = bytearray(blob)
    for owner, _, _, start, end in tbl.streams:
        if owner >= 0:
            num, gen = tbl.heads[owner][:2]
            out[start:end] = _rc4(_object_key(key, num, gen), blob[start:end])
    # drop the /Encrypt reference IN THE TRAILER (decrypted content may
    # legitimately contain the same byte run): the bytes are plaintext now
    tp = blob.rfind(b"trailer")
    return _scan(bytes(out[:tp]) + bytes(out[tp:]).replace(b"/Encrypt", b"/Decrypt", 1))


def _decode_stream_bytes(obj_dict: bytes, data: bytes) -> bytes:
    """Apply /FlateDecode when declared; pass through otherwise. A
    corrupt deflate stream degrades to raw bytes (never raises)."""
    if b"/FlateDecode" in obj_dict:
        try:
            # decompressobj ignores the EOL padding PDF writers leave
            # between the deflate data and `endstream`
            data = zlib.decompressobj().decompress(data)
        except zlib.error:
            pass
    return data


def _decode_stream(obj_dict: bytes, data: bytes) -> str:
    return _decode_stream_bytes(obj_dict, data).decode("utf-8", errors="replace")


_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
_FONT_RES_RE = re.compile(rb"/Font\s*<<((?:[^<>]|<[^<][^>]*>)*)>>")
_FONT_REF_RE = re.compile(rb"/([A-Za-z][A-Za-z0-9]*)\s+(\d+)\s+0\s+R")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+0\s+R")
# /Encoding as an indirect STREAM ref (embedded CMap); the /Identity-H
# name form deliberately does not match
_ENCODING_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+0\s+R")
_FIRSTCHAR_RE = re.compile(rb"/FirstChar\s+(\d+)")
_WIDTHS_RE = re.compile(rb"/Widths\s*\[([^\]]*)\]")
_WIDTHS_REF_RE = re.compile(rb"/Widths\s+(\d+)\s+0\s+R")
_WIDTHS_ARR_RE = re.compile(rb"\[([^\]]*)\]")

# ToUnicode CMap syntax (PDF 32000 §9.10.3): bfchar pairs and bfrange
# triples, the range destination either a scalar start or an array
_BFCHAR_RE = re.compile(r"beginbfchar(.*?)endbfchar", re.S)
_CODESPACE_RE = re.compile(r"begincodespacerange(.*?)endcodespacerange", re.S)
_BFRANGE_RE = re.compile(r"beginbfrange(.*?)endbfrange", re.S)
_HEX_PAIR_RE = re.compile(r"<([0-9A-Fa-f\s]+)>\s*<([0-9A-Fa-f\s]+)>")
_BFRANGE_ITEM_RE = re.compile(
    r"<([0-9A-Fa-f\s]+)>\s*<([0-9A-Fa-f\s]+)>\s*"
    r"(?:<([0-9A-Fa-f\s]+)>|\[((?:\s*<[0-9A-Fa-f\s]+>)+)\s*\])"
)


# an Identity-H CMap without an explicit codespacerange: uniform
# 2-byte codes (PDF 32000 §9.7.5.2)
_DEFAULT_CODESPACE: tuple[tuple[int, int, int], ...] = ((2, 0x0000, 0xFFFF),)

# (cid→unicode map, codespace ranges (nbytes, lo, hi) sorted shortest-first,
#  code→CID mapping from an embedded /Encoding CMap — None = Identity-H,
#  else ({code: cid} singles, ((lo, hi, cid0), …) ranges))
CMapTable = tuple  # tuple[dict[int, str], tuple[...], tuple | None]

Code2Cid = tuple  # tuple[dict[int, int], tuple[tuple[int, int, int], ...]]


def _hex_int(hx: str) -> int:
    """A CMap hex code (``<00 41>`` contents, spaces allowed) → int."""
    return int("".join(hx.split()), 16)


def _apply_code2cid(code: int, code2cid: Code2Cid | None) -> int:
    """Embedded-/Encoding CMap lookup: cidchar singles first, then
    cidrange offsets; unmapped codes pass through (Identity — the
    spec's behavior for codes outside every cidrange is .notdef, but
    pass-through keeps hand-rolled fragments readable)."""
    if code2cid is None:
        return code
    singles, ranges = code2cid
    cid = singles.get(code)
    if cid is not None:
        return cid
    for lo, hi, cid0 in ranges:
        if lo <= code <= hi:
            return cid0 + (code - lo)
    return code


def _parse_tounicode(text: str) -> CMapTable:
    """ToUnicode CMap body → ({CID: unicode string}, codespace ranges).

    Destinations are UTF-16BE hex (multi-code-unit targets — surrogate
    pairs — decode to one Python string); bfrange scalar form increments
    the LAST code unit across the range (spec behavior). Codespace
    ranges carry the BYTE LENGTH of each code region (§9.7.6.2) —
    real CJK encodings mix 1-byte ASCII codes with 2-byte CID codes, so
    show-string decoding must be range-driven, not fixed-width; absent
    ranges default to uniform 2-byte Identity-H."""
    def _u(hx: str) -> str:
        hx = "".join(hx.split())
        try:
            return bytes.fromhex(hx).decode("utf-16-be", errors="replace")
        except ValueError:
            return ""

    cmap: dict[int, str] = {}
    for block in _BFRANGE_RE.findall(text):
        for lo_h, hi_h, dst_h, arr_h in _BFRANGE_ITEM_RE.findall(block):
            lo, hi = _hex_int(lo_h), _hex_int(hi_h)
            if arr_h:
                dsts = re.findall(r"<([0-9A-Fa-f\s]+)>", arr_h)
                for i, d in enumerate(dsts[: hi - lo + 1]):
                    cmap[lo + i] = _u(d)
            else:
                base = _u(dst_h)
                if not base:
                    continue
                last = ord(base[-1])
                # codes the last code unit would count past U+10FFFF
                # stay unmapped; those it counts into the surrogate block
                # map to U+FFFD, as ``hexs`` shows an unmapped surrogate
                # code (no page text may hold a lone surrogate)
                for c in range(lo, min(hi, lo + 0xFFFF, lo + 0x10FFFF - last) + 1):
                    u = last + (c - lo)
                    cmap[c] = base[:-1] + ("\ufffd" if 0xD800 <= u <= 0xDFFF else chr(u))
    for block in _BFCHAR_RE.findall(text):
        for src, dst in _HEX_PAIR_RE.findall(block):
            cmap[_hex_int(src)] = _u(dst)
    return cmap, _parse_codespaces(text) or _DEFAULT_CODESPACE, None


def _parse_codespaces(text: str) -> tuple[tuple[int, int, int], ...]:
    ranges: list[tuple[int, int, int]] = []
    for block in _CODESPACE_RE.findall(text):
        for lo_h, hi_h in _HEX_PAIR_RE.findall(block):
            nbytes = max(1, len("".join(lo_h.split())) // 2)
            ranges.append((nbytes, _hex_int(lo_h), _hex_int(hi_h)))
    ranges.sort()
    return tuple(ranges)


# embedded /Encoding CMap syntax (PDF 32000 §9.7.5.3): cidchar pairs and
# cidrange triples — destinations are DECIMAL CIDs, unlike ToUnicode's hex
_CIDRANGE_RE = re.compile(r"begincidrange(.*?)endcidrange", re.S)
_CIDCHAR_RE = re.compile(r"begincidchar(.*?)endcidchar", re.S)
_CIDRANGE_ITEM_RE = re.compile(r"<([0-9A-Fa-f\s]+)>\s*<([0-9A-Fa-f\s]+)>\s*(\d+)")
_CIDCHAR_ITEM_RE = re.compile(r"<([0-9A-Fa-f\s]+)>\s*(\d+)")


def _parse_encoding_cmap(
    text: str,
) -> tuple[Code2Cid | None, tuple[tuple[int, int, int], ...]]:
    """Embedded /Encoding CMap body → (code→CID mapping, codespaces).

    This is the layer real non-Identity CJK PDFs route through: the
    show-string carries CODES, the Encoding CMap maps codes to CIDs
    (cidrange offset runs + cidchar singles), and only then does
    /ToUnicode map CIDs to text. Codespaceranges canonically live HERE
    (§9.7.5.3) — when present they override the ToUnicode ones."""
    singles: dict[int, int] = {}
    ranges: list[tuple[int, int, int]] = []
    for block in _CIDRANGE_RE.findall(text):
        for lo_h, hi_h, cid0 in _CIDRANGE_ITEM_RE.findall(block):
            ranges.append((_hex_int(lo_h), _hex_int(hi_h), int(cid0)))
    for block in _CIDCHAR_RE.findall(text):
        for src_h, cid in _CIDCHAR_ITEM_RE.findall(block):
            singles[_hex_int(src_h)] = int(cid)
    code2cid = (singles, tuple(ranges)) if (singles or ranges) else None
    return code2cid, _parse_codespaces(text)


_EMPTY_CMAP: CMapTable = ({}, _DEFAULT_CODESPACE, None)

# glyph-width table of a SIMPLE (non-CID Type1/TrueType) embedded font:
# (first_char, widths-per-code, missing_width).  Units are 1/1000 em,
# the /Widths convention; codes outside [first, first+len) take the
# missing width (spec default 0 — /MissingWidth lives in the
# FontDescriptor, outside this subset's contract).
WidthTable = tuple[int, tuple[int, ...], int]

# one page font as the interpreter sees it: (CMap table, /Widths table
# or None); a name the page does not declare reads as (None, None)
FontEntry = tuple[CMapTable | None, WidthTable | None]


def _font_cmap(tbl: ObjectTable, font: bytes) -> CMapTable:
    """Resolve a font object's CMap layers: /ToUnicode (CID → text) and,
    when /Encoding is an embedded CMap STREAM rather than the
    /Identity-H name, the code → CID layer too. Encoding-CMap
    codespaceranges override ToUnicode's (§9.7.5.3 — that is their
    canonical home). Empty table when neither is declared (simple
    fonts, or Identity without a mapping)."""
    cid2uni, spaces, _ = _EMPTY_CMAP
    tm = _TOUNICODE_RE.search(font)
    if tm is not None:
        s = _object_stream(tbl, int(tm.group(1)))
        if s is not None:
            cid2uni, spaces, _ = _parse_tounicode(_decode_stream(*s))
    code2cid = None
    em = _ENCODING_REF_RE.search(font)
    if em is not None:
        s = _object_stream(tbl, int(em.group(1)))
        if s is not None:
            code2cid, enc_spaces = _parse_encoding_cmap(_decode_stream(*s))
            if enc_spaces:
                spaces = enc_spaces
    return cid2uni, spaces, code2cid


def _font_widths(tbl: ObjectTable, font: bytes) -> WidthTable | None:
    """``/FirstChar``/``/Widths`` metrics of a simple font object, or
    None when the font declares neither (CID fonts carry /W instead;
    the built-in 14 carry nothing — both keep the no-advance path).

    This is the non-CID half of pdfplumber's glyph-metric handling
    (reference dep: src/pdf_reader.py:17-29): successive show-runs with
    no intervening Tm/Td are positioned purely by these advances, so a
    kernel that ignores them mis-places every run after the first."""
    fm = _FIRSTCHAR_RE.search(font)
    if fm is None:
        return None
    wm = _WIDTHS_RE.search(font)
    if wm is None:
        # real writers frequently indirect the array: /Widths 12 0 R
        rm = _WIDTHS_REF_RE.search(font)
        if rm is None:
            return None
        arr = _object_slice(tbl, int(rm.group(1)))
        if arr is None:
            return None
        wm = _WIDTHS_ARR_RE.search(arr)
        if wm is None:
            return None
    try:
        widths = tuple(int(float(t)) for t in wm.group(1).split())
    except ValueError:
        return None
    return int(fm.group(1)), widths, 0


def _page_fonts(
    tbl: ObjectTable, page_obj: bytes, cache: dict[int, FontEntry]
) -> dict[str, FontEntry]:
    """Page /Resources /Font dict → {"/Fx": (CMap table, /Widths table or
    None)}. A font without ToUnicode or Encoding CMaps gets the empty
    (Identity) table. ``cache`` resolves each font object once per
    document."""
    fm = _FONT_RES_RE.search(page_obj)
    if fm is None:
        return {}
    fonts: dict[str, FontEntry] = {}
    for name, fnum in _FONT_REF_RE.findall(fm.group(1)):
        fnum = int(fnum)
        if fnum not in cache:
            font = _object_slice(tbl, fnum)
            cache[fnum] = (
                (_EMPTY_CMAP, None) if font is None
                else (_font_cmap(tbl, font), _font_widths(tbl, font))
            )
        fonts["/" + name.decode("ascii")] = cache[fnum]
    return fonts


def parse_minipdf(blob: bytes) -> list[dict]:
    """PDF bytes → per-page structs via the shared layout reconstruction.

    The object table is built once (twice for an encrypted file: the
    raw bytes, then the plaintext). Structured path: walk /Type /Page
    objects in document order and resolve each page's /Contents stream
    by object reference — so non-content streams (ToUnicode CMaps,
    XObjects) are never mistaken for pages — threading the page's font
    CMaps and widths into the tokenizer. Blobs without a resolvable
    page tree (truncated or hand-rolled fragments) fall back to
    tokenizing every stream as a page.
    """
    # tier 0: strip standard-handler RC4 encryption (empty password) so
    # every later stage sees plaintext — offsets unchanged (RC4
    # preserves length), no other code path knows encryption exists
    tbl = decrypt_pdf(_scan(blob))
    page_objs = _page_objects(tbl)
    contents = [_CONTENTS_RE.search(obj) for obj in page_objs]
    streams = [cm and _object_stream(tbl, int(cm.group(1))) for cm in contents]
    if page_objs and all(streams):
        fonts: dict[int, FontEntry] = {}
        pages_raw = [
            _tokenize_stream(_decode_stream(*s), _page_fonts(tbl, obj, fonts))
            for s, obj in zip(streams, page_objs)
        ]
    else:
        pages_raw = []
        for _, ds, de, start, end in tbl.streams:
            obj_dict, data = tbl.blob[ds:de], tbl.blob[start:end]
            # non-content streams are never pages: ObjStm/XRef carry
            # packed objects or binary xref rows, CMap streams carry
            # /CIDInit procsets — tokenizing any of them emits garbage
            if b"/ObjStm" in obj_dict or b"/XRef" in obj_dict or b"CIDInit" in data[:64]:
                continue
            pages_raw.append(_tokenize_stream(_decode_stream(obj_dict, data)))

    # /Rotate of the page objects (reference get_page_info rotation
    # metadata, src/pdf_reader.py:102-136); malformed trees default to 0
    if len(page_objs) == len(pages_raw):
        for p, obj in zip(pages_raw, page_objs):
            r = _ROTATE_RE.search(obj)
            p["rotation"] = int(r.group(1)) if r else 0
    return assemble_pages(pages_raw)


# ---------------------------------------------------------------------------
# writer (used by the corpus generator)
# ---------------------------------------------------------------------------

def _escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def cid_hex(s: str, cid_of: dict[str, int], nbytes_of: dict[str, int] | None = None) -> str:
    """Text → ``<XXXX…>`` hex show-string via a char→CID map.
    ``nbytes_of`` gives each char's code byte length (mixed-codespace
    encodings); absent → uniform 2-byte Identity-H."""
    if nbytes_of is None:
        return "<" + "".join(f"{cid_of[c]:04X}" for c in s) + ">"
    return "<" + "".join(f"{cid_of[c]:0{2 * nbytes_of[c]}X}" for c in s) + ">"


def _code_width(code: int, cs: list[tuple[int, int, int]]) -> int:
    """Byte width of ``code`` in the codespace ranges ``cs`` (2 outside them)."""
    for n, lo, hi in cs:
        if lo <= code <= hi:
            return n
    return 2


def _code_hex(code: int, cs: list[tuple[int, int, int]]) -> str:
    """``code`` as hex at its codespace byte width (a CMap source code)."""
    return f"{code:0{2 * _code_width(code, cs)}X}"


def tounicode_cmap(
    cmap: dict[int, str],
    codespace: list[tuple[int, int, int]] | None = None,
) -> str:
    """{CID: unicode} → a ToUnicode CMap stream body. Contiguous
    CID-runs whose (single-BMP-char) targets are also contiguous
    compress to bfrange entries; everything else is bfchar — so a
    generated document exercises both parser paths. Blocks are capped at
    100 entries (spec limit). ``codespace`` emits explicit
    codespacerange entries (nbytes, lo, hi) — mixed 1-/2-byte regions —
    and each bf entry's source hex is formatted at its region's byte
    width; absent → the uniform 2-byte Identity-H declaration."""
    def _hx(s: str) -> str:
        return s.encode("utf-16-be").hex().upper()

    cs = codespace or [(2, 0x0000, 0xFFFF)]
    ranges: list[tuple[int, int, str]] = []       # (lo, hi, dst_start)
    chars: list[tuple[int, str]] = []
    for cid in sorted(cmap):
        dst = cmap[cid]
        if (
            ranges
            and ranges[-1][1] == cid - 1
            and len(ranges[-1][2]) == 1
            and len(dst) == 1
            and ord(dst) == ord(ranges[-1][2]) + (cid - ranges[-1][0])
            and (cid & 0xFF) != 0  # don't span the low-byte wrap
            # nor a codespace width change
            and _code_width(cid, cs) == _code_width(ranges[-1][0], cs)
        ):
            lo, _, d0 = ranges[-1]
            ranges[-1] = (lo, cid, d0)
        elif len(dst) == 1:
            ranges.append((cid, cid, dst))
        else:
            chars.append((cid, dst))
    # singleton "ranges" read better (and parse) as bfchar entries
    chars.extend((lo, d) for lo, hi, d in ranges if lo == hi)
    ranges = [r for r in ranges if r[0] != r[1]]
    chars.sort()

    parts = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin",
        "begincmap",
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def",
        "/CMapName /Adobe-Identity-UCS def",
        "/CMapType 2 def",
        f"{len(cs)} begincodespacerange",
        *[f"<{lo:0{2 * n}X}> <{hi:0{2 * n}X}>" for n, lo, hi in cs],
        "endcodespacerange",
    ]
    for i in range(0, len(ranges), 100):
        chunk = ranges[i:i + 100]
        parts.append(f"{len(chunk)} beginbfrange")
        for lo, hi, d0 in chunk:
            parts.append(f"<{_code_hex(lo, cs)}> <{_code_hex(hi, cs)}> <{_hx(d0)}>")
        parts.append("endbfrange")
    for i in range(0, len(chars), 100):
        chunk = chars[i:i + 100]
        parts.append(f"{len(chunk)} beginbfchar")
        for cid, d in chunk:
            parts.append(f"<{_code_hex(cid, cs)}> <{_hx(d)}>")
        parts.append("endbfchar")
    parts += [
        "endcmap",
        "CMapName currentdict /CMap defineresource pop",
        "end",
        "end",
    ]
    return "\n".join(parts)


def encoding_cmap(
    code2cid: dict[int, int],
    codespace: list[tuple[int, int, int]] | None = None,
) -> str:
    """{code: CID} → an embedded /Encoding CMap stream body (CMapType 1).
    Contiguous code runs with contiguous CIDs compress to cidrange
    triples (decimal CID start, per spec); everything else is cidchar —
    so a generated document exercises both parser paths. Blocks capped
    at 100 entries (spec limit)."""
    cs = codespace or [(2, 0x0000, 0xFFFF)]
    ranges: list[tuple[int, int, int]] = []      # (lo, hi, cid_start)
    chars: list[tuple[int, int]] = []
    for code in sorted(code2cid):
        cid = code2cid[code]
        if (
            ranges
            and ranges[-1][1] == code - 1
            and cid == ranges[-1][2] + (code - ranges[-1][0])
            and (code & 0xFF) != 0  # don't span the low-byte wrap
            and _code_width(code, cs) == _code_width(ranges[-1][0], cs)
        ):
            lo, _, c0 = ranges[-1]
            ranges[-1] = (lo, code, c0)
        else:
            ranges.append((code, code, cid))
    chars.extend((lo, c0) for lo, hi, c0 in ranges if lo == hi)
    ranges = [r for r in ranges if r[0] != r[1]]
    chars.sort()

    parts = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin",
        "begincmap",
        "/CIDSystemInfo << /Registry (Test) /Ordering (Scrambled) /Supplement 0 >> def",
        "/CMapName /Test-Scrambled-H def",
        "/CMapType 1 def",
        f"{len(cs)} begincodespacerange",
        *[f"<{lo:0{2 * n}X}> <{hi:0{2 * n}X}>" for n, lo, hi in cs],
        "endcodespacerange",
    ]
    for i in range(0, len(ranges), 100):
        chunk = ranges[i:i + 100]
        parts.append(f"{len(chunk)} begincidrange")
        for lo, hi, c0 in chunk:
            parts.append(f"<{_code_hex(lo, cs)}> <{_code_hex(hi, cs)}> {c0}")
        parts.append("endcidrange")
    for i in range(0, len(chars), 100):
        chunk = chars[i:i + 100]
        parts.append(f"{len(chunk)} begincidchar")
        for code, cid in chunk:
            parts.append(f"<{_code_hex(code, cs)}> {cid}")
        parts.append("endcidchar")
    parts += [
        "endcmap",
        "CMapName currentdict /CMap defineresource pop",
        "end",
        "end",
    ]
    return "\n".join(parts)


def render_minipdf(
    pages_streams: list[str],
    rotations: list[int] | None = None,
    compress: bool = False,
    cid_cmap: dict[int, str] | None = None,
    compress_cmap: bool = False,
    cid_codespace: list[tuple[int, int, int]] | None = None,
    cid_encoding: dict[int, int] | None = None,
    objstm: bool = False,
    simple_widths: tuple[int, list[int]] | None = None,
    encrypt: bool = False,
) -> bytes:
    """Assemble a structurally valid PDF around per-page content streams
    (catalog, page tree, MediaBox, Length-tagged streams, xref, trailer).
    ``rotations`` optionally sets per-page /Rotate entries; ``compress``
    Flate-encodes the content streams (real-world writers' default).
    ``cid_cmap`` ({CID: unicode}) adds an Identity-H Type0 font ``/F2``
    with an embedded /ToUnicode CMap stream (Flate'd when
    ``compress_cmap``) — content streams may then show text as
    ``/F2 … Tf <hex> Tj`` (see ``cid_hex``). ``cid_encoding``
    ({code: CID}) additionally routes /F2's /Encoding through an
    embedded CMap stream object (cidrange/cidchar) instead of the
    /Identity-H name — show-string hex then carries CODES, not CIDs.
    ``objstm=True`` emits the PDF 1.5 layout modern writers default to:
    every dict-type object (catalog, page tree, page dicts, fonts)
    packs into one Flate'd /ObjStm object stream, content/CMap streams
    stay top-level (§7.5.7 forbids streams in ObjStm), and the classic
    xref table + trailer are replaced by a binary cross-reference
    STREAM with type-2 (packed) entries (§7.5.8)."""
    objects: list[bytes] = []
    n_pages = len(pages_streams)
    f1_num = 3 + 2 * n_pages
    font_res = f"/F1 {f1_num} 0 R"
    if cid_cmap is not None:
        font_res += f" /F2 {f1_num + 1} 0 R"
    if simple_widths is not None:
        # /F3 lands after every CID-related object (F2 + its CMap
        # stream(s)) so existing object numbering is untouched
        f3_num = f1_num + 1
        if cid_cmap is not None:
            f3_num += 2 + (1 if cid_encoding is not None else 0)
        font_res += f" /F3 {f3_num} 0 R"
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    for i, content in enumerate(pages_streams):
        rot = rotations[i] if rotations else 0
        rot_entry = f"/Rotate {rot} " if rot else ""
        objects.append(
            (
                f"<< /Type /Page /Parent 2 0 R {rot_entry}/MediaBox [0 0 {PAGE_W} {PAGE_H}] "
                f"/Contents {4 + 2 * i} 0 R /Resources << /Font << {font_res} >> >> >>"
            ).encode()
        )
        data = content.encode("utf-8")
        if compress:
            data = zlib.compress(data)
            objects.append(
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                % (len(data), data)
            )
        else:
            objects.append(
                b"<< /Length %d >>\nstream\n%s\nendstream" % (len(data), data)
            )
    objects.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    if cid_cmap is not None:
        enc = (
            "/Identity-H"
            if cid_encoding is None
            else f"{f1_num + 3} 0 R"
        )
        objects.append(
            (
                f"<< /Type /Font /Subtype /Type0 /BaseFont /STSong-Identity-H "
                f"/Encoding {enc} /ToUnicode {f1_num + 2} 0 R >>"
            ).encode()
        )

        def _cmap_stream(body: str) -> bytes:
            cm = body.encode("utf-8")
            if compress_cmap:
                cm = zlib.compress(cm)
                return (
                    b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                    % (len(cm), cm)
                )
            return b"<< /Length %d >>\nstream\n%s\nendstream" % (len(cm), cm)

        objects.append(_cmap_stream(tounicode_cmap(cid_cmap, cid_codespace)))
        if cid_encoding is not None:
            objects.append(
                _cmap_stream(encoding_cmap(cid_encoding, cid_codespace))
            )
    if simple_widths is not None:
        first_char, widths = simple_widths
        objects.append(
            (
                f"<< /Type /Font /Subtype /TrueType /BaseFont /ArialMT "
                f"/FirstChar {first_char} /LastChar {first_char + len(widths) - 1} "
                f"/Widths [{' '.join(str(w) for w in widths)}] >>"
            ).encode()
        )

    if objstm:
        if encrypt:
            raise ValueError("encrypt is classic-layout only (xref streams "
                             "must stay plaintext per §7.5.8.2)")
        return _assemble_objstm(objects)

    trailer_extra = b""
    if encrypt:
        # standard security handler, R2/V1 (40-bit RC4), empty user and
        # owner passwords, all permissions — the "restrict printing, not
        # reading" shape real encrypted annual reports use
        id0 = hashlib.md5(b"".join(objects)).digest()
        o_val = _rc4(hashlib.md5(_PW_PAD).digest()[:5], _PW_PAD)
        p = -1
        key = hashlib.md5(
            _PW_PAD + o_val + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0
        ).digest()[:5]
        u_val = _rc4(key, _PW_PAD)
        objects = [
            _encrypt_object_streams(obj, num, key)
            for num, obj in enumerate(objects, start=1)
        ]
        enc_num = len(objects) + 1
        objects.append(
            (
                f"<< /Filter /Standard /V 1 /R 2 /P {p} "
                f"/O <{o_val.hex()}> /U <{u_val.hex()}> >>"
            ).encode()
        )
        trailer_extra = (
            b" /Encrypt %d 0 R /ID [<%s> <%s>]"
            % (enc_num, id0.hex().encode(), id0.hex().encode())
        )

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, obj in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + obj + b"\nendobj\n"
    xref_pos = len(out)
    out += b"xref\n0 %d\n" % (len(objects) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, trailer_extra, xref_pos)
    )
    return bytes(out)


def _encrypt_object_streams(obj: bytes, num: int, key: bytes) -> bytes:
    """RC4-encrypt the stream payload of one assembled object (writer-side
    twin of :func:`decrypt_pdf`'s per-object decrypt)."""
    out = bytearray(obj)
    for _, _, _, start, end in _scan(obj).streams:
        out[start:end] = _rc4(_object_key(key, num), obj[start:end])
    return bytes(out)


def _assemble_objstm(objects: list[bytes]) -> bytes:
    """PDF 1.5 assembly: dict objects → one Flate'd /ObjStm; stream
    objects top-level; binary cross-reference stream instead of the
    classic xref table + trailer (W [1 4 2]: type byte, 4-byte offset/
    objstm-number, 2-byte gen/index)."""
    packed = [(i + 1, obj) for i, obj in enumerate(objects) if b"stream\n" not in obj]
    top = [(i + 1, obj) for i, obj in enumerate(objects) if b"stream\n" in obj]
    s_num = len(objects) + 1  # the ObjStm object
    x_num = len(objects) + 2  # the XRef stream object

    header = " ".join(f"{num} {off}" for num, off in _objstm_offsets(packed))
    first = len(header) + 1
    body = (header + "\n" + "".join(o.decode("latin-1") for _, o in packed)).encode(
        "latin-1"
    )
    zbody = zlib.compress(body)
    objstm_obj = (
        b"<< /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode >>"
        b"\nstream\n%s\nendstream" % (len(packed), first, len(zbody), zbody)
    )

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for num, obj in top + [(s_num, objstm_obj)]:
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + obj + b"\nendobj\n"

    xref_pos = len(out)
    packed_idx = {num: i for i, (num, _) in enumerate(packed)}
    rows = bytearray()
    for num in range(x_num + 1):
        if num == 0:
            t, f2, f3 = 0, 0, 65535
        elif num in packed_idx:
            t, f2, f3 = 2, s_num, packed_idx[num]
        elif num == x_num:
            t, f2, f3 = 1, xref_pos, 0
        else:
            t, f2, f3 = 1, offsets[num], 0
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    zrows = zlib.compress(bytes(rows))
    out += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R "
        b"/Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream\nendobj\n"
        % (x_num, x_num + 1, len(zrows), zrows)
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_pos
    return bytes(out)


def _objstm_offsets(packed: list[tuple[int, bytes]]) -> list[tuple[int, int]]:
    pairs, off = [], 0
    for num, obj in packed:
        pairs.append((num, off))
        off += len(obj)
    return pairs
