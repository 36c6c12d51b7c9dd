"""Deterministic layout-aware text extraction from (synthetic) PDF payloads.

Capability analog of the reference's layout-aware PDF parse (the reference
delegates to docling/docling-parse, reference file
services/ai_service/document_conversion/docling_pdf_loader.py:26-33). This is
a from-scratch kernel over an honest PDF content-stream subset:

  * payloads start with the ``%PDF`` magic;
  * document structure: ``N 0 obj … endobj`` objects; a ``/Type/Pages``
    node whose ``/Kids [a 0 R b 0 R …]`` array fixes PAGE ORDER (which may
    differ from document byte order); each ``/Type/Page`` either embeds its
    content stream inline or references it via ``/Contents n 0 R``.
    Payloads with no page tree fall back to all ``stream…endstream``
    sections in document order as a single page (the round-1 subset);
  * content streams are tokenized (not regexed): strings with the full
    PDF escape set (``\\(`` ``\\)`` ``\\\\`` ``\\n`` ``\\r`` ``\\t``
    octal ``\\ddd``, nested balanced parens), numbers, names, arrays, and
    the text operators

        Tf (font size)        Td / TD (relative line translate, ACCUMULATES
        Tm (text matrix —      within a text object; TD also sets leading)
            e,f position)     TL (leading)   T* (next line)   ' (T* + show)
        Tj (show string)      TJ (show array: strings concatenated, a
                                  kerning adjustment <= -180/1000 em is a
                                  word space — the standard heuristic)

The kernel then does genuine layout analysis per page, not string grepping:

  1. every shown string becomes an item (x, y, size, text);
  2. drop running header/footer bands (y >= 750 or y <= 50) — the PDF analog
     of HTML nav/footer boilerplate;
  3. cluster the remaining items into COLUMNS by x-coordinate gaps
     (1-D region segmentation: a gap > COLUMN_GAP between sorted unique x
     starts a new column — handles one- and two-column layouts);
  4. within a column, sort lines top-to-bottom (y descending, then x) and
     split into paragraph REGIONS wherever the vertical gap between
     consecutive lines exceeds PARA_GAP_FACTOR * font size;
  5. reading order = pages in /Kids order, columns left-to-right, regions
     top-to-bottom; lines joined with a single space inside a region,
     regions (and pages) joined "\\n\\n".

Everything is integer-rounded arithmetic + stable sorts => byte-identical
output at any partition count / parallelism level.

Also handled: ``/Filter /FlateDecode`` content streams (zlib-inflated
before tokenizing — the overwhelmingly common real-PDF encoding),
``/Filter /ASCIIHexDecode`` and ``/Filter /ASCII85Decode`` streams, and
hex strings ``<48656C6C6F>``
(decoded per spec: whitespace ignored, odd final digit padded with 0).

Also handled (round 3): ordered ``/Filter`` CHAINS (arrays applied in
sequence), ``/LZWDecode`` (incl. /DecodeParms EarlyChange), ``/ToUnicode``
CMaps (bfchar + bfrange, UTF-16BE destinations) selected per ``Tf``
font with §7.8.3 resource inheritance, the FULL ``Tm`` matrix
(rotation/scaling: line advance composes in text space, item position is
the matrix translation, item size scales by hypot(b, d)), and
markdown-structured emission (``markdown=True``: heading-size regions get
'#'-prefixes).

Also handled (round 4): MODERN (PDF >= 1.5) file structure — objects
packed zlib-compressed inside ``/Type /ObjStm`` object streams are
unpacked into the object map (``/N`` pairs header + ``/First`` offset,
§7.5.7), and ``/DecodeParms`` ``/Predictor`` de-prediction: PNG
predictors 10..15 (per-row filter byte, Sub/Up/Average/Paeth
reconstruction over /Columns×/Colors×/BitsPerComponent rows) and TIFF
predictor 2 (§7.4.4.4).

Also handled (round 5): XREF-DRIVEN OBJECT PRECEDENCE for incrementally
updated files — the ``startxref`` chain (classic §7.5.4 tables, §7.5.8
``/Type /XRef`` streams, hybrid ``/XRefStm``, ``/Prev`` links) is walked
newest-first and the newest revision's entry decides which generation of
each object number is current (type-1 byte offsets re-delimited by the
same logic as the forward scan; type-2 (objstm, index) slots resolved
from the ObjStm expansion), so a superseded body can no longer win on
byte order alone. Files with broken/rebuilt/absent xrefs — common in
real crawls — keep the pure scan + ObjStm result (later flat definition
wins, the flat incremental-update layout). ``/Encrypt``'d documents
raise :class:`EncryptedPdfError` before any decode attempt.

Also handled (round 4): FONT WIDTH METRICS — simple-font
``/FirstChar``+``/Widths`` (direct or indirect array, /MissingWidth
default) and CID ``/W``+``/DW`` — give every shown string its true glyph
advance: successive show operations position at the previous one's end
(a within-line cursor, reset by any positioning operator), TJ word
spaces trigger at HALF THE REAL SPACE GLYPH's width instead of the fixed
-180 heuristic, and the layout join concatenates same-line items whose
gap is under JOIN_SPACE_FRAC x size (segmented/tight-tracked writing of
one word extracts as the word) while a wider gap is a word boundary.
Fonts without metrics keep every historical behavior bit-identically.

The Tc (character spacing), Tw (word spacing — single-byte code 32 only,
§9.3.3) and Tz (horizontal scaling) text-state operators feed the same
cursor: tx = (w/1000 x Tfs + Tc + Tw) x Th per glyph, so justified text
(big Tw) and letterspaced text keep truthful positions.

CHARACTER CODES: every font has one codespace, a tuple of (nbytes, lo,
hi) ranges — its ToUnicode CMap's (one width, or MIXED widths such as
1-byte ASCII alongside 2-byte CJK, the Shift-JIS-style layout), else 2
bytes for a CID font and 1 byte for any other. One splitter consumes the
shown bytes by the codespace range they fall in (§9.7.6.2); the text
lookup (map keyed (nbytes, code)) and the glyph advances read the same
codes.

Out of scope (documented): an indirect /Font VALUE inside a resources
dict, per-filter /DecodeParms arrays (the first parms dict applies), and
encrypted documents.
"""

from __future__ import annotations

import re
from typing import Iterator, List, Tuple

PDF_MAGIC = b"%PDF"
COLUMN_GAP = 100          # min horizontal gap (pts) starting a new column
PARA_GAP_FACTOR = 2       # vertical gap > factor*size => paragraph break
HEADER_Y = 750            # y >= this is running-header band
FOOTER_Y = 50             # y <= this is running-footer band
TJ_SPACE_THRESHOLD = -180  # TJ kerning <= this (1/1000 em) acts as a space

_OBJ_START_RE = re.compile(rb"(\d+)\s+\d+\s+obj")
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.S)
# /Filter value: a single name or an ORDERED array of names (chains like
# [/ASCII85Decode /FlateDecode] are common in real writers — the stream is
# decoded by applying each filter in array order, PDF 32000-1 §7.4.1)
_FILTER_RE = re.compile(rb"/Filter\s*(?:\[((?:\s*/[A-Za-z0-9]+)*)\s*\]|/([A-Za-z0-9]+))")
_FILTER_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.S)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
# direct /Length only — '/Length 4 0 R' must NOT parse as length 4. The
# \b is load-bearing: without it, backtracking on a MULTI-digit object
# number ('/Length 40 0 R') lets (\d+) shrink to '4' with '0 0 R' failing
# the lookahead's leading \s+, silently truncating the stream to 4 bytes.
_LENGTH_DIRECT_RE = re.compile(rb"/Length\s+(\d+)\b(?!\s+\d+\s+R)")
_LENGTH_REF_RE = re.compile(rb"/Length\s+(\d+)\s+\d+\s+R")
_CONTENTS_ANY_RE = re.compile(rb"/Contents\s*(\[[^\]]*\]|\d+\s+\d+\s+R)")
_INT_RE = re.compile(rb"\s*(\d+)")

_DELIMS = b" \t\r\n()[]<>/%"
_ESCAPES = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t", ord("b"): b"\b",
    ord("f"): b"\f", ord("("): b"(", ord(")"): b")", ord("\\"): b"\\",
}


def is_pdf(payload: bytes) -> bool:
    return payload[:4] == PDF_MAGIC


# ---------------------------------------------------------------------------
# document structure: page splitting


_STREAM_START_RE = re.compile(rb"stream\r?\n")


def _body_end(payload: bytes, body_start: int) -> int:
    """Offset of the b'endobj' closing the object whose body starts at
    ``body_start`` (-1: runs to EOF), skipping declared-length stream
    payloads — so binary stream data containing b'endobj' or a
    b'N 0 obj' lookalike can never truncate or split an object (the same
    hazard _stream_bytes guards for b'endstream', one level up). Streams
    with an INDIRECT /Length (N 0 R — the value object may appear later in
    the file, so it cannot be resolved mid-scan) fall back to
    endstream-keyword delimiting; _stream_bytes resolves the actual value
    afterwards, when every object is known. Shared by the forward scan
    AND xref-offset resolution so both delimit bodies identically."""
    n = len(payload)
    search_from = body_start
    sm = _STREAM_START_RE.search(payload, body_start)
    em_naive = payload.find(b"endobj", body_start)
    if sm is not None and (em_naive == -1 or sm.start() < em_naive):
        # the stream belongs to THIS object: jump over its payload
        lm = _LENGTH_DIRECT_RE.search(payload[body_start : sm.start()])
        if lm:
            search_from = sm.end() + int(lm.group(1))
        else:
            es = payload.find(b"endstream", sm.end())
            search_from = es if es != -1 else n
    return payload.find(b"endobj", search_from)


def _object_body_at(payload: bytes, offset: int):
    """Parse ONE ``N g obj … endobj`` at a byte offset (as recorded by a
    cross-reference table/stream): -> (object number, body bytes) or
    (None, None) when no object header matches there. Leading PDF
    whitespace is tolerated — real writers' offsets are exact, but a
    rebuilt file may be off by an EOL."""
    n = len(payload)
    if not (0 <= offset < n):
        return None, None
    i = offset
    while i < n and payload[i : i + 1] in b" \t\r\n\x00":
        i += 1
    m = _OBJ_START_RE.match(payload, i)
    if m is None:
        return None, None
    body_start = m.end()
    em = _body_end(payload, body_start)
    return int(m.group(1)), payload[body_start : em if em != -1 else n]


def _scan_objects(payload: bytes) -> dict:
    """num -> object body: FORWARD scan over every ``N g obj`` (later
    definitions overwrite earlier ones — correct for the flat
    incremental-update layout, where appended revisions come last), then
    /Type /ObjStm expansion, then — when the file carries a startxref
    chain — XREF-DRIVEN PRECEDENCE (:func:`_apply_xref_overlay`): the
    newest cross-reference section's entry decides WHICH definition of
    each object number is current, covering the layouts byte order alone
    gets wrong (a newer generation packed in an ObjStm while an older
    flat one trails it, and vice versa). Files without a usable xref
    (truncated, rebuilt, scanner-hostile — common in crawls) keep the
    pure-scan result."""
    objs: dict = {}
    pos = 0
    n = len(payload)
    while True:
        m = _OBJ_START_RE.search(payload, pos)
        if m is None:
            break
        num = int(m.group(1))
        body_start = m.end()
        em = _body_end(payload, body_start)
        if em == -1:
            objs[num] = payload[body_start:]
            break
        objs[num] = payload[body_start:em]
        pos = em + 6  # len(b"endobj")
    packed = _expand_object_streams(objs)
    _apply_xref_overlay(payload, objs, packed)
    return objs


_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm\b")
_OBJSTM_N_RE = re.compile(rb"/N\s+(\d+)\b")
_OBJSTM_FIRST_RE = re.compile(rb"/First\s+(\d+)\b")


def _expand_object_streams(objs: dict) -> dict:
    """Unpack every /Type /ObjStm object stream (PDF 32000-1 §7.5.7) into
    the object map: the decoded stream starts with /N whitespace-separated
    (objnum, relative-offset) integer pairs; object i's body runs from
    /First + offset_i to the next offset (last: to end of stream). Spec
    forbids streams INSIDE an object stream, so one expansion pass is
    complete — no recursion. Packed objects only fill numbers the
    top-level scan did not already see (a flat definition wins HERE; when
    the file carries a usable xref chain, :func:`_apply_xref_overlay`
    then imposes the spec's real precedence — the newest revision's
    entry — for both the flat-newer and packed-newer layouts). Malformed
    object streams are skipped whole — per-document error isolation.

    Returns {objstm object number: [(member objnum, body), …] in packed
    order} so type-2 xref entries ((objstm, index) slots) can be resolved
    against exactly the bytes unpacked here."""
    packed: dict = {}
    for snum, body in list(objs.items()):
        sm = _STREAM_START_RE.search(body)
        head = body[: sm.start()] if sm else body
        if not _OBJSTM_RE.search(head):
            continue
        nm = _OBJSTM_N_RE.search(head)
        fm = _OBJSTM_FIRST_RE.search(head)
        if not (nm and fm):
            continue
        data = _stream_bytes(body, objs)
        first = int(fm.group(1))
        count = int(nm.group(1))
        if not data or first > len(data):
            continue
        try:
            ints = [int(t) for t in data[:first].split()]
        except ValueError:
            continue
        pairs = list(zip(ints[0::2], ints[1::2]))[:count]
        members = []
        for i, (onum, off) in enumerate(pairs):
            end = first + pairs[i + 1][1] if i + 1 < len(pairs) else len(data)
            mbody = data[first + off : end]
            members.append((onum, mbody))
            objs.setdefault(onum, mbody)
        packed[snum] = members
    return packed


# ---------------------------------------------------------------------------
# cross-reference chain (PDF 32000-1 §7.5.4 classic tables, §7.5.8 xref
# streams, §7.5.8.4 hybrid /XRefStm): object PRECEDENCE for
# incrementally-updated files + /Encrypt detection


class EncryptedPdfError(ValueError):
    """The document's trailer carries /Encrypt: content streams are
    RC4/AES ciphertext, so decoding without the crypt filter would emit
    garbage items (or an absorbed exception with a misleading message).
    Raised BEFORE any decode attempt; the dispatcher labels the row
    kind='error', error='encrypted' — graceful, honest isolation."""


_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_PREV_RE = re.compile(rb"/Prev\s+(\d+)\b")
_XREFSTM_RE = re.compile(rb"/XRefStm\s+(\d+)\b")
_ENCRYPT_RE = re.compile(rb"/Encrypt\b")
_XREF_TYPE_RE = re.compile(rb"/Type\s*/XRef\b")
_W_RE = re.compile(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]")
_INDEX_RE = re.compile(rb"/Index\s*\[((?:\s*\d+)+)\s*\]")
_SIZE_RE = re.compile(rb"/Size\s+(\d+)\b")
# leading \s* is load-bearing: each 20-byte entry ends ' \r\n'/' \n',
# so the NEXT entry's match position sits on that trailing separator —
# without it, every table with 2+ entries failed to parse (review find)
_XREF_ENTRY_RE = re.compile(rb"\s*(\d{10})\s+(\d{5})\s+([nf])")
_SUBSEC_RE = re.compile(rb"[ \t\r\n]*(\d+)[ \t]+(\d+)[ \t]*[\r\n]+")
_MAX_XREF_ROWS = 1 << 22  # adversarial-count budget (4M objects is plenty)


def _balanced_dict(payload: bytes, i: int, window: int = 64) -> bytes:
    """The << … >> dict starting within ``window`` bytes of i, delimited
    by nesting depth (trailer dicts routinely nest /ID arrays and
    sub-dicts). b'' when none starts there."""
    s = payload.find(b"<<", i, i + window)
    if s == -1:
        return b""
    j, depth, n = s, 0, len(payload)
    while j < n - 1:
        two = payload[j : j + 2]
        if two == b"<<":
            depth += 1
            j += 2
        elif two == b">>":
            depth -= 1
            j += 2
            if depth == 0:
                return payload[s:j]
        else:
            j += 1
    return payload[s:]


def _parse_classic_xref(payload: bytes, i: int):
    """Classic ``xref`` table section at i (just past the keyword):
    subsection headers ``start count`` followed by count 20-byte entries
    ``nnnnnnnnnn ggggg n|f``; then the ``trailer`` dict. -> (entries,
    prev, xrefstm, encrypted) or None on malformed structure."""
    out = []
    while True:
        m = _SUBSEC_RE.match(payload, i)
        if m is None:
            break
        start, count = int(m.group(1)), int(m.group(2))
        if count > _MAX_XREF_ROWS:
            return None
        i = m.end()
        for k in range(count):
            em = _XREF_ENTRY_RE.match(payload, i)
            if em is None:
                return None
            if em.group(3) == b"n":
                out.append((start + k, ("o", int(em.group(1)))))
            i = em.end()
    tpos = payload.find(b"trailer", i, i + 64)
    if tpos == -1:
        return None
    tdict = _balanced_dict(payload, tpos + 7)
    prev = int(m.group(1)) if (m := _PREV_RE.search(tdict)) else None
    xrefstm = int(m.group(1)) if (m := _XREFSTM_RE.search(tdict)) else None
    return out, prev, xrefstm, bool(_ENCRYPT_RE.search(tdict))


def _parse_xref_stream(payload: bytes, i: int):
    """/Type /XRef cross-reference STREAM object at offset i: fields per
    /W [w1 w2 w3] (w1=0 ⇒ implicit type 1), subsections per /Index
    (default [0 /Size]); type 1 = (offset), type 2 = (objstm, index).
    The stream decodes through the ordinary filter path — Flate +
    /Predictor de-prediction included. -> (entries, prev, None,
    encrypted) or None."""
    num, body = _object_body_at(payload, i)
    if body is None:
        return None
    sm = _STREAM_START_RE.search(body)
    head = body[: sm.start()] if sm else body
    if not _XREF_TYPE_RE.search(head):
        return None
    wm = _W_RE.search(head)
    if wm is None:
        return None
    w1, w2, w3 = (int(g) for g in wm.groups())
    rowlen = w1 + w2 + w3
    if rowlen == 0 or max(w1, w2, w3) > 8:
        return None
    data = _stream_bytes(body)
    im = _INDEX_RE.search(head)
    if im is not None:
        nums = [int(t) for t in im.group(1).split()]
        subs = list(zip(nums[0::2], nums[1::2]))
    else:
        szm = _SIZE_RE.search(head)
        if szm is None:
            return None
        subs = [(0, int(szm.group(1)))]
    out = []
    pos = 0
    for start, count in subs:
        if count > _MAX_XREF_ROWS:
            return None
        for k in range(count):
            row = data[pos : pos + rowlen]
            if len(row) < rowlen:
                break  # truncated stream: keep the rows that decoded
            pos += rowlen
            t = int.from_bytes(row[:w1], "big") if w1 else 1
            f2 = int.from_bytes(row[w1 : w1 + w2], "big")
            f3 = int.from_bytes(row[w1 + w2 :], "big")
            if t == 1:
                out.append((start + k, ("o", f2)))
            elif t == 2:
                out.append((start + k, ("s", f2, f3)))
    prev = int(m.group(1)) if (m := _PREV_RE.search(head)) else None
    return out, prev, None, bool(_ENCRYPT_RE.search(head))


def _parse_xref_chain(payload: bytes):
    """Walk the cross-reference chain from the LAST ``startxref`` (the
    newest revision) through /XRefStm (hybrid files: the stream
    supplements — but does not override — its table section, §7.5.8.4)
    and /Prev links, newest first. First definition of an object number
    wins — exactly the spec's incremental-update precedence. -> (entries:
    {objnum: ('o', offset) | ('s', objstm_num, index)}, encrypted).
    ({}, False) for files with no startxref (scan-only fallback)."""
    ms = list(_STARTXREF_RE.finditer(payload[-2048:]))
    if not ms:
        return {}, False
    entries: dict = {}
    encrypted = False
    queue = [int(ms[-1].group(1))]
    seen: set = set()
    while queue and len(seen) < 64:  # revision budget: no /Prev loops
        off = queue.pop(0)
        if off in seen or not (0 <= off < len(payload)):
            continue
        seen.add(off)
        i = off
        n = len(payload)
        while i < n and payload[i : i + 1] in b" \t\r\n\x00":
            i += 1
        try:
            if payload[i : i + 4] == b"xref" and not _OBJ_START_RE.match(payload, i):
                sec = _parse_classic_xref(payload, i + 4)
            else:
                sec = _parse_xref_stream(payload, i)
        except Exception:
            sec = None
        if sec is None:
            continue
        sec_entries, prev, xrefstm, enc = sec
        encrypted = encrypted or enc
        for onum, ent in sec_entries:
            entries.setdefault(onum, ent)
        # visit order = precedence: this section, its hybrid stream, then
        # the previous revision
        if xrefstm is not None:
            queue.insert(0, xrefstm)
            if prev is not None:
                queue.insert(1, prev)
        elif prev is not None:
            queue.insert(0, prev)
    return entries, encrypted


# all that may follow a file's last trailer dict
_TRAILER_END_RE = re.compile(rb"\s*(?:startxref\s+\d+\s*)?%%EOF\s*\Z")


def _is_encrypted_tail(payload: bytes) -> bool:
    """Cheap /Encrypt probe over the file TAIL (last 4 KB — where every
    revision's newest trailer lives; spec requires /Encrypt in each
    update's trailer, so the newest one always carries it). Only the
    LAST trailer dict counts, and only when nothing but whitespace, an
    optional ``startxref <n>`` and ``%%EOF`` follows it, so a literal
    'trailer << /Encrypt … >>' inside some content stream can never
    false-positive a good document into an error row. The xref chain walk
    (:func:`_parse_xref_chain`) independently covers xref-stream files,
    whose /Encrypt sits in the stream dict, not a classic trailer."""
    tail = payload[-4096:]
    i = tail.rfind(b"trailer")
    tdict = _balanced_dict(tail, i + len(b"trailer")) if i >= 0 else b""
    end = tail.find(tdict, i) + len(tdict)
    return bool(tdict and _ENCRYPT_RE.search(tdict) and _TRAILER_END_RE.match(tail, end))


def _apply_xref_overlay(payload: bytes, objs: dict, packed: dict) -> None:
    """Impose xref precedence on the scanned object map: for every object
    the chain resolves, replace the scan's pick with the body the NEWEST
    cross-reference entry designates — a byte offset (re-delimited by the
    same logic as the scan, so well-formed files are byte-identical) or
    an (objstm, index) slot from the expansion's packed map. Any entry
    that fails to resolve (offset into garbage, missing objstm, index out
    of range, wrong object number at the offset) leaves the scan result
    in place — rebuilt/broken xrefs degrade to round-4 behavior, never to
    data loss. Raises EncryptedPdfError when any trailer in the chain
    carries /Encrypt."""
    try:
        entries, encrypted = _parse_xref_chain(payload)
    except Exception:
        return
    if encrypted:
        raise EncryptedPdfError("encrypted")
    for onum, ent in entries.items():
        try:
            if ent[0] == "o":
                got, body = _object_body_at(payload, ent[1])
                if got == onum and body is not None:
                    objs[onum] = body
            else:
                members = packed.get(ent[1])
                if members is not None and 0 <= ent[2] < len(members) and members[ent[2]][0] == onum:
                    objs[onum] = members[ent[2]][1]
        except Exception:
            continue


def _stream_bytes(obj_body: bytes, objs: dict | None = None) -> bytes:
    """Content-stream bytes of one object: delimited by /Length when
    declared — directly, or via an indirect reference resolved against
    ``objs`` (binary flate data may legally contain b'endstream') — else
    by the endstream keyword; inflated when the object dict declares
    /Filter /FlateDecode. A corrupt flate stream contributes nothing
    (per-document error isolation, the kernel stays total)."""
    m = _STREAM_START_RE.search(obj_body)
    if not m:
        return b""
    start = m.end()
    head = obj_body[: m.start()]
    length = None
    lm = _LENGTH_DIRECT_RE.search(head)
    if lm:
        length = int(lm.group(1))
    elif objs is not None:
        rm = _LENGTH_REF_RE.search(head)
        if rm:
            im = _INT_RE.match(objs.get(int(rm.group(1)), b""))
            if im:
                length = int(im.group(1))
    if length is not None:
        data = obj_body[start : start + length]
    else:
        em = obj_body.find(b"endstream", start)
        data = obj_body[start : em if em != -1 else len(obj_body)]
    return _decode_filters(head, data)


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """LZWDecode (PDF 32000-1 §7.4.4): 9..12-bit variable-width codes,
    256 = clear table, 257 = EOD, code width grows ``early`` codes before
    the table fills (EarlyChange default 1 — the TIFF/PDF convention).
    Raises ValueError on a malformed stream (caller isolates)."""
    out = bytearray()
    table: dict = {}
    width = 9
    next_code = 258
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:          # clear table
                table = {}
                width = 9
                next_code = 258
                prev = None
                continue
            if code == 257:          # EOD
                return bytes(out)
            if code < 256:
                entry = bytes((code,))
            elif code in table:
                entry = table[code]
            elif code == next_code and prev is not None:
                entry = prev + prev[:1]   # the KwKwK case
            else:
                raise ValueError("LZW: code out of range")
            if prev is not None:
                table[next_code] = prev + entry[:1]
                next_code += 1
                if next_code + early >= (1 << width) and width < 12:
                    width += 1
            out += entry
            prev = entry
    return bytes(out)  # EOD missing: tolerate, emit what decoded


_DECODEPARMS_RE = re.compile(rb"/DecodeParms\s*(?:\[\s*)?<<(.*?)>>", re.S)
_EARLYCHANGE_RE = re.compile(rb"/EarlyChange\s+(\d+)")
_PREDICTOR_RE = re.compile(rb"/Predictor\s+(\d+)")
_COLUMNS_RE = re.compile(rb"/Columns\s+(\d+)")
_COLORS_RE = re.compile(rb"/Colors\s+(\d+)")
_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")


def _depredict(data: bytes, predictor: int, columns: int, colors: int, bpc: int) -> bytes:
    """Reverse /DecodeParms /Predictor differencing (PDF 32000-1 §7.4.4.4)
    applied on top of Flate/LZW: TIFF Predictor 2 (per-row horizontal
    component differencing, undone as a column-wise cumulative sum mod
    256) and PNG predictors 10..15 (each row = 1 filter byte +
    Sub/Up/Average/Paeth-filtered bytes, reconstructed by the same
    row-shape unfilter the media kernel uses — reused, not duplicated).
    Raises ValueError on unsupported params / ragged rows (caller
    isolates the stream to b'')."""
    rowbytes = (columns * colors * bpc + 7) // 8
    if rowbytes <= 0:
        raise ValueError("predictor: bad row geometry")
    if predictor == 2:  # TIFF horizontal differencing
        if bpc != 8:
            raise ValueError("TIFF predictor: only 8-bit components")
        import numpy as np

        if len(data) % rowbytes:
            raise ValueError("predictor: ragged rows")
        arr = np.frombuffer(data, dtype=np.uint8).reshape(-1, columns, colors)
        return (arr.cumsum(axis=1, dtype=np.int64) & 0xFF).astype(np.uint8).tobytes()
    if not (10 <= predictor <= 15):
        raise ValueError(f"predictor {predictor} unsupported")
    bpp = max(1, (colors * bpc) // 8)
    if len(data) % (rowbytes + 1):
        raise ValueError("predictor: ragged rows")
    nrows = len(data) // (rowbytes + 1)
    if rowbytes % bpp:
        raise ValueError("predictor: row not a whole number of pixels")
    from document_ai_spark.kernel.media import _unfilter

    return bytes(_unfilter(data, rowbytes // bpp, nrows, bpp))


def _decode_filters(head: bytes, data: bytes) -> bytes:
    """Apply the object's /Filter chain (possibly an array, in order) to
    raw stream bytes. Unknown filters, malformed /DecodeParms, or decode
    errors yield b'' — per-document error isolation; the kernel stays
    total. /DecodeParms subset: the FIRST parms dict applies
    (array-of-parms alignment with a filter chain is out of scope);
    /EarlyChange 0|1 honored for LZW; /Predictor (TIFF 2, PNG 10..15 with
    /Columns //Colors //BitsPerComponent) is de-predicted AFTER the chain
    — correct for the single-filter and filter-then-predictor layouts
    real writers emit (xref/object streams are Flate+PNG-Up)."""
    m = _FILTER_RE.search(head)
    if not m:
        return data
    if m.group(1) is not None:
        names = _FILTER_NAME_RE.findall(m.group(1))
    else:
        names = [m.group(2)]
    early = 1
    predictor, columns, colors, bpc = 1, 1, 1, 8
    pm = _DECODEPARMS_RE.search(head)
    if pm:
        parms = pm.group(1)
        if pred := _PREDICTOR_RE.search(parms):
            predictor = int(pred.group(1))
        if cm := _COLUMNS_RE.search(parms):
            columns = int(cm.group(1))
        if km := _COLORS_RE.search(parms):
            colors = int(km.group(1))
        if bm := _BPC_RE.search(parms):
            bpc = int(bm.group(1))
        em = _EARLYCHANGE_RE.search(parms)
        if em:
            early = int(em.group(1))
    try:
        for name in names:
            if name == b"FlateDecode":
                import zlib

                data = zlib.decompress(data)
            elif name == b"ASCIIHexDecode":
                # hex digits, whitespace ignored, '>' terminates, odd
                # final digit padded with 0 (§7.4.2)
                data = _hex_bytes(data.split(b">", 1)[0])
            elif name == b"ASCII85Decode":
                # optional '<~' prefix, '~>' EOD, whitespace ignored (§7.4.3)
                import base64

                body = data.strip()
                if body.startswith(b"<~"):
                    body = body[2:]
                end = body.find(b"~>")
                if end != -1:
                    body = body[:end]
                data = base64.a85decode(body, ignorechars=b" \t\r\n\v\f")
            elif name == b"LZWDecode":
                data = _lzw_decode(data, early=early)
            else:
                return b""  # /DCTDecode etc.: opaque here, isolate
        if predictor > 1:
            data = _depredict(data, predictor, columns, colors, bpc)
    except Exception:
        return b""
    return data


# ToUnicode CMap subset (PDF 32000-1 §9.10.3): codespacerange blocks,
# bfchar pairs and bfrange triples (contiguous or array form), UTF-16BE
# destinations. Every font resolves to a CODESPACE, a tuple of
# (nbytes, lo, hi) ranges sorted by width that _iter_codes splits shown
# bytes by, and an optional map {(nbytes, code) -> str}; fonts without a
# usable /ToUnicode keep the byte-transparent text path.
_FONTDICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONT_PAIR_RE = re.compile(rb"/([A-Za-z0-9]+)\s+(\d+)\s+\d+\s+R")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CODESPACE_RE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.S)
_CMAP_TOK_RE = re.compile(rb"<([0-9A-Fa-f]+)>|(\[)|(\])")
_CMAP_MAX_ENTRIES = 1 << 17  # adversarial-range budget (65k x2 is plenty)
_ONE_BYTE = ((1, 0, 0xFF),)    # a simple font's codes
_TWO_BYTE = ((2, 0, 0xFFFF),)  # a CID font's codes when it has no ToUnicode
_BYTE_CODES = [(1, b) for b in range(256)]  # _ONE_BYTE's codes, built once


def _utf16be_hex_to_str(h: bytes) -> str:
    if len(h) % 4:
        h = h.rjust((len(h) // 4 + 1) * 4, b"0")
    return bytes.fromhex(h.decode("ascii")).decode("utf-16-be", errors="replace")


def _hex_width(h: bytes) -> int:
    """Byte width of a CMap hex code, 1..4."""
    return max(1, min(4, (len(h) + 1) // 2))


def _parse_cmap(data: bytes) -> tuple:
    """CMap stream bytes -> (codespace, {(nbytes, code) -> unicode str}).

    The codespace holds the ranges of every codespacerange block. When
    they share one width (or none is declared: width 1) it is the one
    full range of that width, so bytes outside the declared bounds still
    make codes; ranges of MIXED widths (§9.7.6.2: e.g. 1-byte ASCII
    <00><7F> alongside 2-byte CJK <8140><FFFC>) stay as declared. A
    bfchar/bfrange source is keyed at the narrowest codespace width that
    holds it (<41> in a <0000><FFFF> map is the 2-byte code 0x0041); a
    source wider than every range is dropped.

    Total: a malformed CMap yields (_ONE_BYTE, {}) — the font then stays
    byte-transparent. Range expansion is budget-capped so an adversarial
    <0000> <FFFF> blanket cannot balloon memory."""
    cmap: dict = {}
    try:
        ranges = []
        for cs in _CODESPACE_RE.finditer(data):
            hexes = [t[0] for t in _CMAP_TOK_RE.findall(cs.group(1)) if t[0]]
            for lo_h, hi_h in zip(hexes[0::2], hexes[1::2]):
                ranges.append((_hex_width(lo_h), int(lo_h, 16), int(hi_h, 16)))
        widths = sorted({nb for nb, _, _ in ranges}) or [1]
        if len(widths) == 1:
            codespace = ((widths[0], 0, (1 << (8 * widths[0])) - 1),)
        else:
            codespace = tuple(sorted(ranges))
        for m in _BFCHAR_RE.finditer(data):
            hexes = [t[0] for t in _CMAP_TOK_RE.findall(m.group(1)) if t[0]]
            for src, dst in zip(hexes[0::2], hexes[1::2]):
                nb = next((w for w in widths if w >= _hex_width(src)), 0)
                if nb:
                    cmap[(nb, int(src, 16))] = _utf16be_hex_to_str(dst)
        for m in _BFRANGE_RE.finditer(data):
            toks = _CMAP_TOK_RE.findall(m.group(1))
            i, n = 0, len(toks)
            while i < n:
                if not toks[i][0] or i + 1 >= n or not toks[i + 1][0]:
                    i += 1  # malformed entry: resync on next hex token
                    continue
                # the narrowest width holding the source; 0: none does
                nb = next((w for w in widths if w >= _hex_width(toks[i][0])), 0)
                lo, hi = int(toks[i][0], 16), int(toks[i + 1][0], 16)
                i += 2
                if i < n and toks[i][1]:  # [ <d0> <d1> ... ] array form
                    i += 1
                    code = lo
                    while i < n and not toks[i][2]:
                        if toks[i][0] and nb and code <= hi:
                            cmap[(nb, code)] = _utf16be_hex_to_str(toks[i][0])
                        code += 1
                        i += 1
                    i += 1  # the ']'
                elif i < n and toks[i][0]:  # contiguous: dst_start + offset
                    if nb:
                        base = int(toks[i][0], 16)
                        hi_c = min(hi, (1 << (8 * nb)) - 1, lo + _CMAP_MAX_ENTRIES)
                        for code in range(lo, hi_c + 1):
                            if len(cmap) > _CMAP_MAX_ENTRIES:
                                break
                            v = base + (code - lo)
                            if 0xD800 <= v <= 0xDFFF:
                                # lone UTF-16 surrogate: not a scalar value;
                                # U+FFFD like the bfchar errors='replace'
                                # path (a surrogate str would blow up the
                                # Arrow batch, not just this document)
                                cmap[(nb, code)] = "�"
                            elif v <= 0x10FFFF:
                                cmap[(nb, code)] = chr(v)
                    i += 1
    except Exception:
        return (_ONE_BYTE, {})
    return (codespace, cmap)


def _iter_codes(raw: bytes, codespace: tuple) -> list:
    """Split shown bytes into (nbytes, code) character codes by the
    §9.7.6.2 rule: at each position take the narrowest codespace range
    the next bytes fall in. A byte in no range (a trailing byte short of
    a 2-byte code among them) is consumed alone as (0, byte): U+FFFD in
    _shown_text, one default-width glyph in _advance_units (§9.7.6.3)."""
    if codespace == _ONE_BYTE:  # every simple font: each byte is a code
        return [_BYTE_CODES[b] for b in raw]
    codes = []
    i, n = 0, len(raw)
    while i < n:
        for nb, lo, hi in codespace:
            if i + nb <= n and lo <= (code := int.from_bytes(raw[i : i + nb], "big")) <= hi:
                codes.append((nb, code))
                i += nb
                break
        else:
            codes.append((0, raw[i]))
            i += 1
    return codes


# ---------------------------------------------------------------------------
# font width metrics (PDF 32000-1 §9.6.2 simple /FirstChar+/Widths,
# §9.7.4.3 CID /W + /DW) — used for REAL inter-glyph advances: successive
# show operations position at the previous one's end, and word boundaries
# come from actual gaps instead of the fixed TJ kerning heuristic.

_FIRSTCHAR_RE = re.compile(rb"/FirstChar\s+(\d+)")
# simple-font /Widths: direct array (never nested) or an indirect ref to one
_WIDTHS_RE = re.compile(rb"/Widths\s*(?:\[(.*?)\]|(\d+)\s+\d+\s+R)", re.S)
_MISSINGW_RE = re.compile(rb"/MissingWidth\s+(\d+(?:\.\d+)?)")
_FONTDESC_RE = re.compile(rb"/FontDescriptor\s+(\d+)\s+\d+\s+R")
_DESCFONT_RE = re.compile(rb"/DescendantFonts\s*\[?\s*(\d+)\s+\d+\s+R")
_DW_RE = re.compile(rb"/DW\s+(\d+(?:\.\d+)?)")
_NUM_TOKEN_RE = re.compile(rb"(-?\d+(?:\.\d+)?)|(\[)|(\])")
_ARRAY_BODY_RE = re.compile(rb"\[(.*?)\]", re.S)

DEFAULT_GLYPH_W = 500.0   # units/1000 em when a code has no declared width
DEFAULT_SPACE_W = 250.0   # space-glyph width fallback for the TJ decision
JOIN_SPACE_FRAC = 0.15    # same-line gap > frac*size => word boundary


def _parse_cid_w(body: bytes, limit: int = 1 << 16) -> dict:
    """CID /W array body (inside the outer brackets) -> {cid -> width}.
    Both §9.7.4.3 forms: ``c [w1 w2 …]`` and ``c_first c_last w``.
    Budget-capped like the CMap parser."""
    out: dict = {}
    pend: List[float] = []
    in_sub = False
    sub_start = 0
    for m in _NUM_TOKEN_RE.finditer(body):
        if m.group(2):  # [
            sub_start = int(pend[-1]) if pend else 0
            pend = []
            in_sub = True
        elif m.group(3):  # ]
            for k, w in enumerate(pend):
                if len(out) >= limit:
                    break
                out[sub_start + k] = w
            pend = []
            in_sub = False
        else:
            pend.append(float(m.group(1)))
            if not in_sub and len(pend) == 3:
                lo, hi, w = pend
                for c in range(int(lo), min(int(hi), int(lo) + limit) + 1):
                    if len(out) >= limit:
                        break
                    out[c] = w
                pend = []
    return out


def _font_metrics(fobj: bytes, objs: dict) -> tuple | None:
    """Font object body -> (width map {code -> units}, default width,
    space width) or None when the font declares no metrics. Simple fonts:
    /FirstChar + /Widths (direct or indirect array), missing-code default
    from the FontDescriptor's /MissingWidth. CID (Type0) fonts: the
    descendant's /W + /DW. Total: malformed metrics yield None (the font
    then keeps the heuristic path)."""
    try:
        dm = _DESCFONT_RE.search(fobj)
        if dm:  # Type0 -> descendant CIDFont
            desc = objs.get(int(dm.group(1)), b"")
            # '/DescendantFonts 12 0 R' where object 12 is the ARRAY
            # '[13 0 R]' (a common real layout): follow one more hop
            if b"/W" not in desc and b"/DW" not in desc:
                am = re.match(rb"\s*\[\s*(\d+)\s+\d+\s+R", desc)
                if am:
                    desc = objs.get(int(am.group(1)), b"")
            dwm = _DW_RE.search(desc)
            dw = float(dwm.group(1)) if dwm else 1000.0
            wmap: dict = {}
            wm = re.search(rb"/W\s*\[", desc)
            if wm:
                # bracket-balanced scan (sub-arrays nest one level)
                i = wm.end()
                depth = 1
                while i < len(desc) and depth:
                    if desc[i] == 0x5B:
                        depth += 1
                    elif desc[i] == 0x5D:
                        depth -= 1
                    i += 1
                wmap = _parse_cid_w(desc[wm.end() : i - 1])
            if not wmap and dwm is None:
                return None
            return (wmap, dw, min(dw, DEFAULT_SPACE_W))
        wm = _WIDTHS_RE.search(fobj)
        if not wm:
            return None
        if wm.group(1) is not None:
            body = wm.group(1)
        else:
            am = _ARRAY_BODY_RE.search(objs.get(int(wm.group(2)), b""))
            if not am:
                return None
            body = am.group(1)
        widths = [
            float(t[0]) for t in _NUM_TOKEN_RE.findall(body) if t[0]
        ]
        if not widths:
            return None
        fc_m = _FIRSTCHAR_RE.search(fobj)
        first = int(fc_m.group(1)) if fc_m else 0
        default = DEFAULT_GLYPH_W
        fd = _FONTDESC_RE.search(fobj)
        if fd:
            mw = _MISSINGW_RE.search(objs.get(int(fd.group(1)), b""))
            if mw:
                default = float(mw.group(1))
        wmap = {first + i: w for i, w in enumerate(widths)}
        return (wmap, default, wmap.get(32, DEFAULT_SPACE_W))
    except Exception:
        return None


_RESOURCES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R")


def _page_fonts(
    body: bytes, objs: dict, cmap_cache: dict, parent_body: bytes = b""
) -> dict:
    """Page object body -> {font name bytes -> (codespace, cmap | None,
    metrics | None)} for fonts declaring a usable /ToUnicode and/or width
    metrics (/Widths, CID /W). The codespace and cmap are _parse_cmap's
    when the ToUnicode map is not empty, else the 2-byte codespace for a
    CID (Type0) font and the 1-byte one for any other. Resolution order
    (PDF 32000-1 §7.8.3 resource inheritance): inline
    /Resources<</Font<<...>>>> on the page, then an INDIRECT /Resources
    N 0 R on the page, then the same two forms on the parent /Pages node
    (the dominant real layout: resources declared once on the tree root). Out of scope: an indirect /Font VALUE inside a
    resources dict. CMap streams are parsed once per document (cache
    keyed by object number)."""
    fm = _FONTDICT_RE.search(body)
    if not fm:
        rm = _RESOURCES_REF_RE.search(body)
        if rm:
            fm = _FONTDICT_RE.search(objs.get(int(rm.group(1)), b""))
    if not fm and parent_body:
        fm = _FONTDICT_RE.search(parent_body)
        if not fm:
            rm = _RESOURCES_REF_RE.search(parent_body)
            if rm:
                fm = _FONTDICT_RE.search(objs.get(int(rm.group(1)), b""))
    if not fm:
        return {}
    fonts: dict = {}
    for name, ref in _FONT_PAIR_RE.findall(fm.group(1)):
        fobj = objs.get(int(ref))
        if not fobj:
            continue
        codespace = _TWO_BYTE if _DESCFONT_RE.search(fobj) else _ONE_BYTE
        cmap = None
        tm = _TOUNICODE_RE.search(fobj)
        if tm:
            cnum = int(tm.group(1))
            if cnum not in cmap_cache:
                cmap_cache[cnum] = _parse_cmap(_stream_bytes(objs.get(cnum, b""), objs))
            if cmap_cache[cnum][1]:  # an empty map stays byte-transparent
                codespace, cmap = cmap_cache[cnum]
        metrics = _font_metrics(fobj, objs)
        if cmap is not None or metrics is not None:
            fonts[name] = (codespace, cmap, metrics)
    return fonts


def _split_pages(payload: bytes) -> List[Tuple[bytes, dict]]:
    """-> one (content-stream bytes, fonts) pair per page, in reading
    (/Kids) order. ``fonts`` is _page_fonts' map (empty for pages without
    CMap'd or metric fonts).

    Fallback when no /Pages tree exists: every stream section in document
    order, concatenated as a single page (the constrained round-1 subset,
    kept so simple single-stream payloads and goldens stay stable)."""
    objs = _scan_objects(payload)
    kids: List[int] = []
    pages_body = b""
    for body in objs.values():
        if re.search(rb"/Type\s*/Pages\b", body):
            km = _KIDS_RE.search(body)
            if km:
                kids = [int(r) for r in _REF_RE.findall(km.group(1))]
            pages_body = body
            break
    if kids:
        pages = []
        cmap_cache: dict = {}
        for pnum in kids:
            body = objs.get(pnum, b"")
            fonts = _page_fonts(body, objs, cmap_cache, parent_body=pages_body)
            cm = _CONTENTS_ANY_RE.search(body)
            if cm:
                # single ref or the standard ARRAY form [3 0 R 5 0 R …]:
                # the page's content is the concatenation of every
                # referenced stream, in array order
                refs = [int(r) for r in _REF_RE.findall(cm.group(1))]
                pages.append(
                    (b"\n".join(_stream_bytes(objs.get(r, b""), objs) for r in refs), fonts)
                )
            else:
                pages.append((_stream_bytes(body, objs), fonts))
        return pages
    parts = _STREAM_RE.findall(payload)
    return [(b"\n".join(parts) if parts else payload, {})]


# ---------------------------------------------------------------------------
# content-stream tokenizer


def _scan_string(s: bytes, i: int) -> Tuple[bytes, int]:
    """Scan a PDF literal string starting at s[i] == '(' — handles the
    escape set and balanced nested parens. Returns (raw unescaped BYTES,
    next_index); decoding to text happens at show time, where the active
    font's ToUnicode CMap (if any) is known."""
    assert s[i : i + 1] == b"("
    out = bytearray()
    depth = 1
    i += 1
    n = len(s)
    while i < n:
        c = s[i]
        if c == 0x5C:  # backslash
            if i + 1 >= n:
                break
            nxt = s[i + 1]
            esc = _ESCAPES.get(nxt)
            if esc is not None:
                out += esc
                i += 2
            elif 0x30 <= nxt <= 0x37:  # octal \d, \dd or \ddd
                j = i + 1
                oct_digits = []
                while j < n and len(oct_digits) < 3 and 0x30 <= s[j] <= 0x37:
                    oct_digits.append(s[j])
                    j += 1
                out.append(int(bytes(oct_digits), 8) & 0xFF)
                i = j
            elif nxt in (0x0A, 0x0D):  # line continuation
                i += 2
                if nxt == 0x0D and i < n and s[i] == 0x0A:
                    i += 1
            else:  # unknown escape: PDF spec says drop the backslash
                out.append(nxt)
                i += 2
            continue
        if c == 0x28:  # (
            depth += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth == 0:
                i += 1
                break
        out.append(c)
        i += 1
    return bytes(out), i


def _tokens(stream: bytes) -> Iterator[Tuple[str, object]]:
    """REFERENCE tokenizer (per-byte dispatch). Kept as the equivalence
    oracle for the production regex-scan loop in ``_parse_items`` —
    tests/test_kernel_pdf.py fuzz-compares the two on random streams.
    Production code must not call this: it is ~4x slower."""
    i, n = 0, len(stream)
    while i < n:
        c = stream[i : i + 1]
        if c in b" \t\r\n\f\0":
            i += 1
        elif c == b"(":
            raw, i = _scan_string(stream, i)
            yield ("str", raw.decode("utf-8", errors="replace"))
        elif c == b"[":
            yield ("arr_open", None)
            i += 1
        elif c == b"]":
            yield ("arr_close", None)
            i += 1
        elif c == b"/":
            j = i + 1
            while j < n and stream[j : j + 1] not in _DELIMS:
                j += 1
            yield ("name", stream[i + 1 : j].decode("latin-1"))
            i = j
        elif c == b"%":  # comment to end of line
            j = stream.find(b"\n", i)
            i = n if j == -1 else j + 1
        elif c == b"<":
            if stream[i + 1 : i + 2] == b"<":  # dict open <<
                i += 2
            else:  # hex string <48656C6C6F>: whitespace ignored, odd padded
                j = stream.find(b">", i + 1)
                if j == -1:
                    j = n
                digits = bytes(
                    d for d in stream[i + 1 : j] if d in b"0123456789abcdefABCDEF"
                )
                if len(digits) % 2:
                    digits += b"0"
                try:
                    text = bytes.fromhex(digits.decode("ascii")).decode(
                        "utf-8", errors="replace"
                    )
                except ValueError:
                    text = ""
                yield ("str", text)
                i = j + 1 if j < n else n
        elif c == b">":  # dict close (>> or stray)
            i += 1
        else:
            j = i
            while j < n and stream[j : j + 1] not in _DELIMS:
                j += 1
            if j == i:  # stray delimiter (e.g. unmatched ')'): skip it —
                i += 1  # zero-progress here would loop forever
                continue
            tok = stream[i:j].decode("latin-1")
            c0 = stream[i]
            i = j
            # PDF numeric syntax starts [0-9+-.] — gate before float() so
            # alpha spellings float() accepts ('nan', 'inf') stay operators
            if 48 <= c0 <= 57 or c0 == 45 or c0 == 43 or c0 == 46:
                try:
                    yield ("num", float(tok))
                    continue
                except ValueError:
                    pass
            yield ("op", tok)


# ---------------------------------------------------------------------------
# text-operator interpreter

# Production single-alternation token scan (the fast_html.py:_SCAN_RE
# pattern applied to PDF content streams — one compiled-regex match per
# TOKEN instead of per-byte Python dispatch, ~4x). Character classes are
# byte-for-byte the reference tokenizer's: PDF whitespace skipped up
# front, words run until a _DELIMS byte (\f and \x00 are NOT delimiters,
# matching the reference), '<<' tried before hex strings, and a literal
# string with escapes or nesting falls back to _scan_string (group 3 —
# the only construct a regex alternation can't scan).
_TOK_RE = re.compile(
    rb"[ \t\r\n\f\x00]*"
    rb"(?:"
    rb"([^ \t\r\n()\[\]<>/%]+)"    # 1: number-or-operator word
    rb"|\(([^()\\]*)\)"            # 2: simple literal string (no \ or nesting)
    rb"|(\()"                      # 3: complex string -> _scan_string
    rb"|(\[)"                      # 4: array open
    rb"|(\])"                      # 5: array close
    rb"|/([^ \t\r\n()\[\]<>/%]*)"  # 6: name
    rb"|%[^\n]*\n?"                # comment
    rb"|<<"                        # dict open
    rb"|<([^>]*)>?"                # 7: hex string (whitespace tolerated)
    rb"|."                         # '>' / stray ')': skip one byte
    rb")"
)

_HEXDIGITS = frozenset(b"0123456789abcdefABCDEF")


def _hex_bytes(content: bytes) -> bytes:
    """Hex-string body -> raw bytes: non-hex bytes ignored, odd digit
    padded 0. Decoding to text happens at show time (CMap-aware)."""
    digits = bytes(d for d in content if d in _HEXDIGITS)
    if len(digits) % 2:
        digits += b"0"
    try:
        return bytes.fromhex(digits.decode("ascii"))
    except ValueError:
        return b""


# unmapped 1-byte code under an active ToUnicode map: ASCII passes through
# (real CMaps routinely cover only the non-ASCII range), other bytes are
# U+FFFD; a wider code has no byte-transparent reading, so it is U+FFFD
_CMAP_FALLBACK = [chr(b) if b < 128 else "�" for b in range(256)]


def _shown_text(raw: bytes, codespace: tuple, cmap: dict | None) -> str:
    """Raw shown-string bytes -> text: each code _iter_codes splits off
    by the active font's codespace is looked up in its ToUnicode ``cmap``
    ({(nbytes, code) -> str}), unmapped codes as _CMAP_FALLBACK says. A
    font without a map decodes utf-8 (errors=replace)."""
    if cmap is None:
        return raw.decode("utf-8", errors="replace")
    get = cmap.get
    fb = _CMAP_FALLBACK
    return "".join([
        hit if (hit := get(c)) is not None else fb[c[1]] if c[0] == 1 else "�"
        for c in _iter_codes(raw, codespace)
    ])


def _advance_units(raw: bytes, codespace: tuple, metrics: tuple) -> Tuple[float, int, int]:
    """(total glyph advance in 1/1000-em units, glyph count, space count)
    for a shown string, from the active font's width metrics ``(wmap,
    default, space_w)`` over the codes _iter_codes splits it into, the
    ones _shown_text decodes. A byte in no codespace range is a glyph of
    the default width; word spacing (Tw) applies only to the 1-byte code
    32 (§9.3.3). The 1-byte codespace of every simple font reads the
    bytes directly: each is a code, no list is built."""
    get, dw = metrics[0].get, metrics[1]
    total = 0.0
    if codespace == _ONE_BYTE:
        for b in raw:
            total += get(b, dw)
        return total, len(raw), raw.count(32)
    codes = _iter_codes(raw, codespace)
    for nb, code in codes:
        total += get(code, dw) if nb else dw
    return total, len(codes), codes.count((1, 32))


def _parse_items(
    stream: bytes, fonts: dict | None = None
) -> List[Tuple[int, int, int, str, int | None]]:
    """-> list of (x, y, size, text, x_end) per shown string, document
    order. ``x_end`` is the baseline position AFTER the string's glyph
    advances when the active font declares width metrics, else None —
    the layout stage uses it for gap-based word boundaries.

    Merged tokenizer + interpreter: one _TOK_RE match per token, dispatch
    on the matched group index. Semantics are pinned to
    ``_parse_items_reference`` by a fuzz-equivalence test.

    ``fonts``: optional {font name bytes -> (codespace, cmap | None,
    metrics | None)} from the page's /Resources. When the font selected by
    Tf has a cmap, shown string BYTES are split by its codespace and
    decoded through it (byte- or 2-byte-coded fonts extract real text
    instead of mojibake); otherwise utf-8
    (errors=replace), which is exactly the reference path's behavior.
    When it has metrics, successive shows ADVANCE a within-line cursor
    (so segmented writing positions truthfully) and TJ word spaces use
    the real space-glyph width instead of the fixed -180 heuristic.

    The FULL text-line matrix [a b c d e f] is tracked (not just e,f):
    Tm sets it, Td/TD/T*/' compose a translation IN TEXT SPACE (so line
    advance follows a rotated/scaled baseline), item position is the
    matrix translation and item font size is scaled by the y-axis image
    length hypot(b, d) — identity-matrix documents (the entire corpus)
    are bit-identical to the previous e,f-only behavior since hypot(0,1)
    is exactly 1.0.
    """
    items: List[Tuple[int, int, int, str, int | None]] = []
    size = 12.0
    # text line matrix [a b c d e f]; BT resets to identity
    ma, mb, mc, md_, me, mf = 1.0, 0.0, 0.0, 1.0, 0.0, 0.0
    leading = 0.0
    cursor = 0.0  # pts along the baseline since the last positioning op
    tc = 0.0      # Tc character spacing (pts/glyph)
    tw = 0.0      # Tw word spacing (pts per single-byte code 32)
    th = 1.0      # Tz horizontal scaling / 100
    nums: List[float] = []       # numeric operand stack
    strs: List[bytes] = []       # string operand stack, RAW bytes (Tj / ')
    arr: List[object] | None = None  # TJ array being collected
    have_fonts = bool(fonts)
    last_name = b""               # most recent /Name operand (Tf font arg)
    cur_space: tuple | None = None  # active font's codespace
    cur_map: dict | None = None   # active font's ToUnicode map
    cur_metrics: tuple | None = None  # active font's (wmap, default, space_w)

    items_append = items.append
    n = len(stream)
    # finditer keeps the inter-token scan in C; the only construct that
    # needs Python position control is a complex literal string (group 3),
    # where we jump past it with _scan_string and restart the iterator.
    # Safe because _TOK_RE matches at EVERY offset (catch-all '.') except a
    # pure-whitespace tail, so finditer can never silently skip bytes.
    pos = 0
    while pos < n:
        restart = False
        for m in _TOK_RE.finditer(stream, pos):
            g = m.lastindex
            if g is None:        # comment / << / stray delimiter
                continue
            if g == 1:           # number-or-operator word
                w = m[1]
                c0 = w[0]
                if 48 <= c0 <= 57 or c0 == 45 or c0 == 43 or c0 == 46:  # 0-9 - + .
                    try:
                        v = float(w)
                    except ValueError:
                        pass
                    else:
                        # totality clamp: absurd magnitudes ('1e400' -> inf,
                        # '-nan') would make matrix math non-finite and
                        # round() throw; no real coordinate exceeds 1e9
                        if not (-1e9 <= v <= 1e9):
                            v = 0.0
                        (arr if arr is not None else nums).append(v)
                        continue
                # operator: dispatch, then consume all operands
                if w == b"Tj" or w == b"'":
                    if w == b"'":
                        me += -leading * mc
                        mf += -leading * md_
                        cursor = 0.0
                    if strs:
                        raw = strs[-1]
                        t = " ".join(_shown_text(raw, cur_space, cur_map).split())
                        if cur_metrics is not None:
                            x0 = me + cursor * ma
                            y0 = mf + cursor * mb
                            units, ng, nsp = _advance_units(raw, cur_space, cur_metrics)
                            cursor += (units * size / 1000.0 + ng * tc + nsp * tw) * th
                            if t:
                                items_append((int(round(x0)), int(round(y0)), int(round(size * (mb * mb + md_ * md_) ** 0.5)), t, int(round(me + cursor * ma))))
                        elif t:
                            items_append((int(round(me)), int(round(mf)), int(round(size * (mb * mb + md_ * md_) ** 0.5)), t, None))
                elif w == b"Tm":
                    if len(nums) >= 6:
                        ma, mb, mc, md_, me, mf = nums[-6:]
                        cursor = 0.0
                elif w == b"Td" or w == b"TD":
                    if len(nums) >= 2:
                        tx, ty = nums[-2], nums[-1]
                        me += tx * ma + ty * mc
                        mf += tx * mb + ty * md_
                        cursor = 0.0
                        if w == b"TD":
                            leading = -ty
                elif w == b"TJ":
                    if arr is not None:
                        if cur_metrics is not None:
                            # metrics path: real glyph advances; a kerning
                            # shift of at least HALF the space glyph reads
                            # as a word space (replaces the -180 heuristic)
                            x0 = me + cursor * ma
                            y0 = mf + cursor * mb
                            space_cut = -0.5 * cur_metrics[2]
                            pieces: List[str] = []
                            for el in arr:
                                if isinstance(el, bytes):
                                    pieces.append(_shown_text(el, cur_space, cur_map))
                                    units, ng, nsp = _advance_units(el, cur_space, cur_metrics)
                                    cursor += (units * size / 1000.0 + ng * tc + nsp * tw) * th
                                else:
                                    cursor += -el * size / 1000.0 * th
                                    if el <= space_cut:
                                        pieces.append(" ")
                            t = " ".join("".join(pieces).split())
                            if t:
                                items_append((int(round(x0)), int(round(y0)), int(round(size * (mb * mb + md_ * md_) ** 0.5)), t, int(round(me + cursor * ma))))
                        else:
                            pieces = []
                            for el in arr:
                                if isinstance(el, bytes):
                                    pieces.append(_shown_text(el, cur_space, cur_map))
                                elif el <= TJ_SPACE_THRESHOLD:
                                    pieces.append(" ")
                            t = " ".join("".join(pieces).split())
                            if t:
                                items_append((int(round(me)), int(round(mf)), int(round(size * (mb * mb + md_ * md_) ** 0.5)), t, None))
                elif w == b"Tf":
                    if nums:
                        size = nums[-1]
                    if have_fonts:
                        f = fonts.get(last_name)
                        cur_space, cur_map, cur_metrics = f if f is not None else (None, None, None)
                elif w == b"BT":
                    ma, mb, mc, md_, me, mf = 1.0, 0.0, 0.0, 1.0, 0.0, 0.0
                    leading = 0.0
                    cursor = 0.0
                elif w == b"TL":
                    if nums:
                        leading = nums[-1]
                elif w == b"Tc":
                    if nums:
                        tc = nums[-1]
                elif w == b"Tw":
                    if nums:
                        tw = nums[-1]
                elif w == b"Tz":
                    if nums:
                        th = nums[-1] / 100.0
                elif w == b"T*":
                    me += -leading * mc
                    mf += -leading * md_
                    cursor = 0.0
                nums = []
                strs = []
                arr = None
            elif g == 2:         # simple literal string (raw bytes)
                (arr if arr is not None else strs).append(m[2])
            elif g == 3:         # complex string: escapes / nested parens
                raw, pos = _scan_string(stream, m.start(3))
                (arr if arr is not None else strs).append(raw)
                restart = True
                break
            elif g == 4:
                arr = []
            elif g == 6:         # name: remember for Tf font selection
                if have_fonts:
                    last_name = m[6]
            elif g == 7:         # hex string (raw bytes)
                (arr if arr is not None else strs).append(_hex_bytes(m[7]))
            # g == 5 (]): keep arr until its operator consumes it
        if not restart:
            break
    return items


def _parse_items_reference(stream: bytes) -> List[Tuple[int, int, int, str, "int | None"]]:
    """REFERENCE interpreter over the reference tokenizer — the semantic
    oracle for ``_parse_items`` (fuzz-equivalence-tested, not production)."""
    items: List[Tuple[int, int, int, str, "int | None"]] = []
    size = 12.0
    # full text line matrix [a b c d e f], identical arithmetic (same
    # expression shapes, so bit-identical floats) to the production loop
    ma, mb, mc, md_, md_e, md_f = 1.0, 0.0, 0.0, 1.0, 0.0, 0.0
    leading = 0.0
    nums: List[float] = []       # numeric operand stack
    strs: List[str] = []         # string operand stack (Tj / ')
    arr: List[object] | None = None  # TJ array being collected

    def show(text: str) -> None:
        text = " ".join(text.split())
        if text:
            # reference path has no font metrics -> x_end always None,
            # exactly the production loop's fonts=None behavior
            items.append((int(round(md_e)), int(round(md_f)), int(round(size * (mb * mb + md_ * md_) ** 0.5)), text, None))

    def tstar() -> None:
        nonlocal md_e, md_f
        md_e += -leading * mc
        md_f += -leading * md_

    for kind, val in _tokens(stream):
        if kind == "num":
            if not (-1e9 <= val <= 1e9):  # totality clamp, same as production
                val = 0.0
            (arr if arr is not None else nums).append(val)
        elif kind == "str":
            if arr is not None:
                arr.append(val)
            else:
                strs.append(val)
        elif kind == "arr_open":
            arr = []
        elif kind == "arr_close":
            pass  # keep arr until its operator (TJ) consumes it
        elif kind == "name":
            pass  # font names etc.: operands only
        elif kind == "op":
            op = val
            if op == "BT":
                ma, mb, mc, md_, md_e, md_f = 1.0, 0.0, 0.0, 1.0, 0.0, 0.0
                leading = 0.0
            elif op == "Tf":
                if nums:
                    size = nums[-1]
            elif op in ("Td", "TD"):
                if len(nums) >= 2:
                    tx, ty = nums[-2], nums[-1]
                    md_e += tx * ma + ty * mc
                    md_f += tx * mb + ty * md_
                    if op == "TD":
                        leading = -ty
            elif op == "Tm":
                if len(nums) >= 6:
                    ma, mb, mc, md_, md_e, md_f = nums[-6:]
            elif op == "TL":
                if nums:
                    leading = nums[-1]
            elif op == "T*":
                tstar()
            elif op == "Tj":
                if strs:
                    show(strs[-1])
            elif op == "'":
                tstar()
                if strs:
                    show(strs[-1])
            elif op == "TJ":
                if arr is not None:
                    pieces: List[str] = []
                    for el in arr:
                        if isinstance(el, str):
                            pieces.append(el)
                        elif el <= TJ_SPACE_THRESHOLD:
                            pieces.append(" ")
                    show("".join(pieces))
            # every operator consumes its operands
            nums = []
            strs = []
            arr = None
    return items


# ---------------------------------------------------------------------------
# layout analysis (per page)


def _cluster_columns(items: List[Tuple[int, int, int, str, "int | None"]]) -> List[List[Tuple[int, int, int, str, "int | None"]]]:
    """1-D x-gap region segmentation into columns, left-to-right."""
    if not items:
        return []
    xs = sorted({it[0] for it in items})
    # column boundaries where consecutive unique x differ by > COLUMN_GAP
    col_start = {xs[0]: 0}
    col_id = 0
    for prev, cur in zip(xs, xs[1:]):
        if cur - prev > COLUMN_GAP:
            col_id += 1
        col_start[cur] = col_id
    ncols = col_id + 1
    cols: List[List[Tuple[int, int, int, str, "int | None"]]] = [[] for _ in range(ncols)]
    for it in items:
        cols[col_start[it[0]]].append(it)
    return cols


def _column_regions(
    col: List[Tuple[int, int, int, str, "int | None"]],
) -> List[List[Tuple[int, int, int, str, "int | None"]]]:
    """Split one column into paragraph regions (of items) by vertical gaps."""
    # top-to-bottom: y descending; stable tiebreak on x then original text
    lines = sorted(col, key=lambda it: (-it[1], it[0]))
    regions: List[List[Tuple[int, int, int, str, "int | None"]]] = []
    cur: List[Tuple[int, int, int, str, "int | None"]] = []
    prev_y = None
    prev_size = None
    for it in lines:
        y, size = it[1], it[2]
        if prev_y is not None and (prev_y - y) > PARA_GAP_FACTOR * max(prev_size, size):
            if cur:
                regions.append(cur)
            cur = []
        cur.append(it)
        prev_y, prev_size = y, size
    if cur:
        regions.append(cur)
    return regions


# markdown mode: font-size-derived heading levels (the PDF analog of the
# reference's export_to_markdown — docling_pdf_loader.py:28; body text in
# this grammar is 10-12pt, so >=17pt reads as h1, 14-16pt as h2)
MD_H1_SIZE = 17
MD_H2_SIZE = 14


def _region_text(region: List[Tuple[int, int, int, str, "int | None"]]) -> str:
    """Join a region's items (already in (-y, x) order) into text. With
    width metrics (x_end known) two same-line items separated by a gap of
    at most JOIN_SPACE_FRAC x font size CONCATENATE — segmented writing
    of one word yields the word, not 'wo rd' — and a larger gap is a word
    space. Without metrics (x_end None) every boundary is a space, the
    historical behavior."""
    parts: List[str] = []
    prev = None
    for it in region:
        if prev is not None:
            if (
                it[1] == prev[1]
                and prev[4] is not None
                and it[0] - prev[4] > JOIN_SPACE_FRAC * max(prev[2], it[2])
            ):
                parts.append(" ")
            elif it[1] != prev[1] or prev[4] is None:
                parts.append(" ")
        parts.append(it[3])
        prev = it
    return "".join(parts)


def _region_md_prefix(region: List[Tuple[int, int, int, str, "int | None"]]) -> str:
    msize = max(it[2] for it in region)
    if msize >= MD_H1_SIZE:
        return "# "
    if msize >= MD_H2_SIZE:
        return "## "
    return ""


def extract_pdf(payload: bytes, markdown: bool = False) -> Tuple[str, List[dict]]:
    """bytes -> (extracted text in reading order, span dicts).

    Spans carry tag='pdf:c<col>r<region>' (single page) or
    'pdf:p<page>c<col>r<region>' (multi-page); densities are 1.0/0.0 (a PDF
    text region has no links).

    ``markdown=True`` emits structured text: regions whose dominant font
    size crosses the heading thresholds are prefixed '# ' / '## ' (the
    analog of the reference's PDF->markdown conversion); span offsets
    include the prefixes so text[s:e] still reconstructs each region.

    Raises :class:`EncryptedPdfError` for /Encrypt'd documents — before
    any decode attempt, so an RC4/AES file is labeled, never garbled.
    """
    if _is_encrypted_tail(payload):
        raise EncryptedPdfError("encrypted")
    pages = _split_pages(payload)
    multi = len(pages) > 1

    parts: List[str] = []
    tags: List[str] = []
    for pi, (stream, fonts) in enumerate(pages):
        items = _parse_items(stream, fonts or None)
        body = [it for it in items if FOOTER_Y < it[1] < HEADER_Y]
        for ci, col in enumerate(_cluster_columns(body)):
            for ri, region in enumerate(_column_regions(col)):
                text = _region_text(region)
                if markdown:
                    text = _region_md_prefix(region) + text
                parts.append(text)
                tags.append(f"pdf:p{pi}c{ci}r{ri}" if multi else f"pdf:c{ci}r{ri}")

    spans: List[dict] = []
    pos = 0
    for i, (text, tag) in enumerate(zip(parts, tags)):
        if i > 0:
            pos += 2
        spans.append(
            {
                "block_id": i,
                "char_start": pos,
                "char_end": pos + len(text),
                "tag": tag,
                "text_density": float(len(text)),
                "link_density": 0.0,
            }
        )
        pos += len(text)
    return "\n\n".join(parts), spans
