"""Deterministic synthetic Common-Crawl-style ``pages`` corpus generator.

Emits the north-rule input table (BASELINE.json ``input_hint``)::

    pages(url: string, warc_ts: timestamp, html: binary,
          text: string, lang: string)

written as Parquet partitioned by ``warc_day``, the UTC date of warc_ts
(the local stand-in for an Iceberg table partitioned by ``days(warc_ts)``
— no Iceberg jars in the sandbox; identical directory layout).
``PAGES_SCHEMA`` is the table's Spark schema: ``write_pages_parquet``
types its files from it (warc_ts as timestamp[us, tz=UTC]), and every
reader of pages (the Parquet and WARC sources, the incremental stream)
uses it, so warc_ts is a timestamp and warc_day a string whatever the
files let Spark infer.

Corpus v12: ~30%/~20% of HTML articles embed one of two fixed
IN-CONTENT boilerplate sentences (newsletter pitch / share bar) inside
the <article> block — text-dense, so extraction correctly keeps them;
they exist for the corpus-level line-frequency dedup operator (q53).

Row mix (FIXTURES.md §1): ~80% templated HTML (link-dense nav/header/
footer/ads boilerplate + a text-dense <article> main block with <h2>
section headings and a closing <ul> list), ~10% synthetic PDFs — 22%
simple two-column Td/Tj pages, 22% multi-page documents exercising the
widened grammar (/Kids order != byte order, /Contents indirection, Tm,
accumulated Td, TL/T*/', TJ kerning arrays, escaped parens, an 18pt title
line, page-2 encodings rotating Flate / [ASCII85+Flate] chain / LZW with
indirect /Length), 14% byte-coded-font pages whose /ToUnicode CMap maps
+3-shifted bytes back to text, 19% MODERN (PDF 1.5+, corpus v8) files
whose dict objects all live inside a /Type /ObjStm (half predictor'd:
Flate + PNG /Predictor 12) with a real /Type /XRef cross-reference
stream, 15% WIDTH-METRICS pages (corpus v9: /FirstChar+/Widths fonts,
words written as segmented show ops with positioned — not typed — word
gaps and sub-180 TJ kern spaces, correct only under real glyph
advances), 8% INCREMENTALLY-UPDATED files (corpus v10: two revisions,
the newer generation of the page object ObjStm-packed behind an xref
stream whose /Prev chains to the original classic table — the CURRENT
text is reachable only via xref-driven precedence) — a Zipf long tail
of page sizes with a handful of giant pages
(x100 median — exercises task skew), and one of each edge case:
empty, whitespace-only, truncated tags, invalid UTF-8, no-main-block, a
byte-duplicate payload under two urls, a zero-text-object PDF, a
static /Encrypt'd PDF the kernel must LABEL (error='encrypted'), never
decode, and (corpus v11) a BOM'd UTF-16LE page + a <meta
charset=windows-1252> page whose accented text must survive charset
sniffing.

Everything derives from ``random.Random(seed)`` — no wall clock, no
PYTHONHASHSEED dependence, no network. Same (seed, n_docs) => same bytes.
"""

from __future__ import annotations

import datetime as dt
import itertools
import random
from typing import Iterator, List, Tuple

from pyspark.sql import types as T

LANGS = ["en", "de", "es", "fr", "zh"]

# bump when generator OUTPUT changes (new variants, size mix, …): cached
# corpus directories embed this so stale /tmp corpora are never reused
CORPUS_VERSION = 12

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("warc_day", T.StringType()),
    ]
)

# seeded per-language vocabularies (marker words make lang-id testable)
_BASE_VOCAB = {
    "en": "the quick brown fox jumps over lazy dog with great speed and many words about things".split(),
    "de": "der schnelle braune fuchs springt über den faulen hund mit großer geschwindigkeit und vielen worten".split(),
    "es": "el rápido zorro marrón salta sobre el perro perezoso con gran velocidad y muchas palabras".split(),
    "fr": "le renard brun rapide saute par dessus le chien paresseux avec une grande vitesse et beaucoup de mots".split(),
    "zh": "快速 棕色 狐狸 跳过 懒惰 的 狗 速度 很 快 许多 词语 关于 事物".split(),
}

EPOCH = dt.datetime(2024, 3, 1, 0, 0, 0)  # fixed; no wall clock
N_DAYS = 4


def _sentence(rng: random.Random, vocab: List[str], n: int) -> str:
    words = [vocab[rng.randrange(len(vocab))] for _ in range(n)]
    return " ".join(words).capitalize() + "."


def _paragraph(rng: random.Random, vocab: List[str], sentences: int) -> str:
    return " ".join(_sentence(rng, vocab, rng.randint(6, 14)) for _ in range(sentences))


def _nav_links(rng: random.Random, n: int) -> str:
    return " ".join(
        f'<a href="/s{rng.randrange(999)}">item {rng.randrange(99)}</a>' for _ in range(n)
    )


# corpus v12: IN-CONTENT boilerplate — text-dense sentences sitting
# INSIDE the <article> block, so the density-based extractor correctly
# KEEPS them (they look exactly like content); only corpus-level
# line-frequency dedup (operators/dedup.remove_boilerplate_lines, q53)
# can tell they are template. The real-web analogs: newsletter pitches,
# share bars, cookie sentences repeated across every page of a site.
_BOILERPLATE_SENTENCES = [
    "Subscribe to our free weekly newsletter for in depth updates special member offers and early access to every new article we publish.",
    "Share this article with your friends on social media and join the discussion in the comment section below the page footer.",
]


def _html_page(rng: random.Random, vocab: List[str], n_paras: int) -> Tuple[bytes, str]:
    """-> (payload bytes, expected-ish main text hint). Article paragraphs are
    the intended extraction; nav/ads/footer are link-dense boilerplate.
    Articles carry <h2> section headings every ~4 paragraphs and close with
    a short <ul> list — structure the markdown extraction mode surfaces.
    ~30% of articles embed boilerplate sentence 0 and ~20% sentence 1
    (v12): kept by extraction BY DESIGN, removed by line-frequency dedup."""
    paras = [_paragraph(rng, vocab, rng.randint(2, 6)) for _ in range(n_paras)]
    title = _sentence(rng, vocab, 5)
    sidebar = "".join(
        f'<div class="ad">{_nav_links(rng, 4)} buy now</div>' for _ in range(rng.randint(1, 4))
    )
    pieces: List[str] = []
    for k, p in enumerate(paras):
        if k % 4 == 0:
            pieces.append(f"<h2>{_sentence(rng, vocab, rng.randint(4, 7))}</h2>")
        pieces.append(f"<p>{p}</p>")
    if rng.random() < 0.30:
        pieces.append(f"<p>{_BOILERPLATE_SENTENCES[0]}</p>")
    if rng.random() < 0.20:
        pieces.insert(rng.randrange(len(pieces)), f"<p>{_BOILERPLATE_SENTENCES[1]}</p>")
    pieces.append(
        "<ul>"
        + "".join(
            f"<li>{_sentence(rng, vocab, rng.randint(5, 9))}</li>"
            for _ in range(rng.randint(2, 4))
        )
        + "</ul>"
    )
    body_paras = "".join(pieces)
    doc = (
        "<html><head><title>"
        + title
        + '</title><meta charset="utf-8"><script>var x=1;</script>'
        + "<style>.a{color:red}</style></head><body>"
        + f"<header><h1>{title}</h1>{_nav_links(rng, 6)}</header>"
        + f"<nav>{_nav_links(rng, rng.randint(8, 16))}</nav>"
        + f'<aside>{sidebar}</aside><article>{body_paras}</article>'
        + f"<footer>{_nav_links(rng, 5)} copyright</footer></body></html>"
    )
    return doc.encode("utf-8"), paras[0] if paras else ""


def _pdf_page(rng: random.Random, vocab: List[str], n_lines: int) -> bytes:
    """Two-column synthetic PDF with running header/footer text objects."""
    objs = [
        "BT /F1 10 Tf 72 760 Td (Running Header) Tj ET",
        "BT /F1 8 Tf 72 40 Td (page 1) Tj ET",
    ]
    # left column x=72, right column x=320; lines top-down from y=720
    half = max(1, n_lines // 2)
    y = 720
    for _ in range(half):
        line = _sentence(rng, vocab, rng.randint(4, 9)).replace("(", "").replace(")", "")
        objs.append(f"BT /F1 12 Tf 72 {y} Td ({line}) Tj ET")
        y -= 40 if rng.random() < 0.2 else 14  # occasional paragraph gap
        if y <= 60:
            break
    y = 720
    for _ in range(n_lines - half):
        line = _sentence(rng, vocab, rng.randint(4, 9)).replace("(", "").replace(")", "")
        objs.append(f"BT /F1 12 Tf 320 {y} Td ({line}) Tj ET")
        y -= 40 if rng.random() < 0.2 else 14
        if y <= 60:
            break
    rng.shuffle(objs)  # document order != reading order: forces real layout sort
    body = "\n".join(objs)
    return (f"%PDF-1.4\n1 0 obj\n<</Type/Page>>\nstream\n{body}\nendstream\n%%EOF\n").encode("utf-8")


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """PDF LZWDecode-compatible encoder (9..12-bit variable width codes,
    256=clear, 257=EOD, EarlyChange=1, clear emitted when the table
    fills). Deterministic; the kernel's _lzw_decode round-trips it and the
    convention is pinned by a hand-computed bit vector in tests."""
    out = bytearray()
    acc = 0
    nbits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    def fresh() -> dict:
        return {bytes((i,)): i for i in range(256)}

    table = fresh()
    next_code = 258
    emit(256)
    w = b""
    for b in data:
        wb = w + bytes((b,))
        if wb in table:
            w = wb
            continue
        emit(table[w])
        # table full: clear + reset. The cap is next_code >= 4096 for BOTH
        # EarlyChange conventions — the max assignable code is 4095 (12-bit
        # slot) regardless of when the WIDTH bumps; tying this to `early`
        # let early=0 assign entry 4096 and later emit it as a truncated
        # 13-bit code (silent round-trip corruption, review-caught)
        if next_code >= 4096:
            emit(256)
            table = fresh()
            next_code = 258
            width = 9
        else:
            table[wb] = next_code
            next_code += 1
            if next_code + early - 1 >= (1 << width) and width < 12:
                width += 1
        w = bytes((b,))
    if w:
        emit(table[w])
        # Mirror the decoder's post-read assignment for this final code:
        # _lzw_decode assigns one more table entry after reading it (prev +
        # entry[:1]) and may bump the code width BEFORE reading EOD, so EOD
        # must be emitted at that bumped width or boundary-aligned streams
        # decode a garbage tail (fuzz-caught ~0.1% of streams).
        if next_code < 4096 and next_code + early >= (1 << width) and width < 12:
            width += 1
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _pdf_page_v2(rng: random.Random, vocab: List[str], n_lines: int) -> bytes:
    """Multi-page PDF exercising the widened content-stream grammar:
    /Kids page order != document byte order, /Contents indirection, Tm
    positioning, accumulated Td line advance, TL/T* and ', TJ arrays whose
    large negative kerning is a word space, escaped parens, a hex-string
    line, and a /FlateDecode-compressed second page with declared /Length."""
    import zlib

    def line() -> str:
        return _sentence(rng, vocab, rng.randint(4, 9)).replace("(", "").replace(")", "")

    half = max(2, n_lines // 2)
    # page 1: Tm-positioned lines, every third line as a TJ kerning array,
    # plus one escaped-paren aside and one hex-string line
    hex_line = line().encode("utf-8").hex().upper()
    p1 = [
        "BT /F1 10 Tf 1 0 0 1 72 760 Tm (Running Header) Tj ET",
        "BT /F1 8 Tf 1 0 0 1 72 40 Tm (page 1) Tj ET",
        # document title: 18pt, own region (>36pt gap below) -> markdown '# '
        f"BT /F1 18 Tf 1 0 0 1 72 748 Tm ({line()}) Tj ET",
        r"BT /F1 12 Tf 1 0 0 1 72 704 Tm (Note \(aside\) in parens) Tj ET",
        f"BT /F1 12 Tf 1 0 0 1 72 687 Tm <{hex_line}> Tj ET",
    ]
    y = 670
    for k in range(half):
        t = line()
        if k % 3 == 0 and " " in t:
            words = t.split()
            mid = max(1, len(words) // 2)
            a, b = " ".join(words[:mid]), " ".join(words[mid:])
            kern = -rng.randrange(200, 400)  # <= -180: word space
            p1.append(f"BT /F1 12 Tf 1 0 0 1 72 {y} Tm [({a}) {kern} ({b})] TJ ET")
        else:
            p1.append(f"BT /F1 12 Tf 1 0 0 1 72 {y} Tm ({t}) Tj ET")
        y -= 40 if rng.random() < 0.2 else 14
        if y <= 60:
            break
    # page 2: one text object with accumulated Td advance, then a TL/T*/'
    # block — both line-advance styles on one page
    td_rows = [line() for _ in range(max(2, (n_lines - half) // 2))]
    td_body = "BT /F1 12 Tf 72 720 Td " + " ".join(
        f"({r}) Tj 0 {-40 if rng.random() < 0.2 else -14} Td" for r in td_rows
    ) + " ET"
    tl_rows = [line() for _ in range(max(2, (n_lines - half) - len(td_rows)))]
    tl_body = (
        "BT /F1 12 Tf 14 TL 72 400 Td "
        + f"({tl_rows[0]}) Tj "
        + " ".join(f"({r}) '" for r in tl_rows[1:])
        + " ET"
    )
    p2 = "\n".join(
        ["BT /F1 10 Tf 72 760 Td (Running Header) Tj ET", td_body, tl_body]
    )
    # page 2 ships compressed with a declared /Length (the realistic
    # encoding: binary data may contain 'endstream', so only /Length
    # delimits it correctly); the encoding rotates across the filter
    # surface — plain Flate, the common [/ASCII85Decode /FlateDecode]
    # chain, or LZW
    raw = p2.encode("utf-8")
    enc_pick = rng.random()
    if enc_pick < 0.4:
        comp, filt = zlib.compress(raw, 6), b"/Filter /FlateDecode"
    elif enc_pick < 0.7:
        import base64

        comp = base64.a85encode(zlib.compress(raw, 6)) + b"~>"
        filt = b"/Filter [/ASCII85Decode /FlateDecode]"
    elif enc_pick < 0.85:
        comp, filt = _lzw_encode(raw), b"/Filter /LZWDecode"
    else:
        # EarlyChange=0 convention, declared via /DecodeParms
        comp = _lzw_encode(raw, early=0)
        filt = b"/Filter /LZWDecode /DecodeParms <</EarlyChange 0>>"
    # /Length is an INDIRECT reference (5 0 R) with the value object
    # emitted AFTER the stream — the dominant real-world layout (writers
    # know the length only after streaming)
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type /Pages /Kids [4 0 R 2 0 R]>>\nendobj\n"
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n"
        b"3 0 obj\n<</Length 5 0 R " + filt + b">>\nstream\n"
        + comp + b"\nendstream\nendobj\n"
        b"4 0 obj\n<</Type /Page>>\nstream\n" + "\n".join(p1).encode("utf-8")
        + b"\nendstream\nendobj\n"
        b"5 0 obj\n" + str(len(comp)).encode("ascii") + b"\nendobj\n"
        b"%%EOF\n"
    )


def _pdf_page_v3(rng: random.Random, vocab: List[str], n_lines: int) -> bytes:
    """Byte-coded-font PDF: body lines under /F7 are written SHIFTED by +3
    per byte; /F7 declares a /ToUnicode CMap (bfrange <23><7D> -> <0020>)
    that maps them back, so a CMap-aware extractor recovers real text while
    a byte-transparent one reads mojibake. /F1 lines (header/footer/title +
    every other body line) stay plain — exercises per-Tf font switching.
    Shifted text uses the ASCII English vocab ('Y'->'Z' so no shifted byte
    collides with the '\\\\' string delimiter). The resources layout
    rotates inline / indirect-ref / inherited-from-/Pages (corpus v6) to
    exercise the kernel's §7.8.3 resolution order."""
    en = _BASE_VOCAB["en"]
    # half the v3 docs use a 2-byte (CID-style) codespace: each char is
    # encoded as the pair (0x01, char+3), mapped back by a <0000>-<FFFF>
    # codespace bfrange; the other half keep the 1-byte form
    two_byte = rng.random() < 0.5
    enc_font = "F8" if two_byte else "F7"

    def enc_line() -> str:
        t = _sentence(rng, en, rng.randint(4, 9)).replace("Y", "Z")
        if two_byte:
            return "".join("\x01" + chr(ord(c) + 3) for c in t)
        return "".join(chr(ord(c) + 3) for c in t)

    def plain_line() -> str:
        return _sentence(rng, vocab, rng.randint(4, 9)).replace("(", "").replace(")", "")

    body = [
        "BT /F1 10 Tf 72 760 Td (Running Header) Tj ET",
        "BT /F1 8 Tf 72 40 Td (page 1) Tj ET",
        f"BT /F1 18 Tf 72 748 Td ({plain_line()}) Tj ET",
    ]
    y = 700
    for k in range(max(4, n_lines)):
        if k % 2 == 0:
            body.append(f"BT /{enc_font} 12 Tf 72 {y} Td ({enc_line()}) Tj ET")
        else:
            body.append(f"BT /F1 12 Tf 72 {y} Td ({plain_line()}) Tj ET")
        y -= 40 if rng.random() < 0.2 else 14
        if y <= 60:
            break
    content = "\n".join(body).encode("utf-8")
    if two_byte:
        cmap = (
            b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
            b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"1 beginbfrange\n<0123> <017D> <0020>\nendbfrange\nendcmap\n"
        )
    else:
        cmap = (
            b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
            b"1 begincodespacerange <00> <FF> endcodespacerange\n"
            b"1 beginbfrange\n<23> <7D> <0020>\nendbfrange\nendcmap\n"
        )
    # resources layout rotates across the kernel's resolution order:
    # inline on the page / indirect (/Resources 8 0 R) / inherited from
    # the parent /Pages node (the dominant real-world layout)
    res_pick = rng.random()
    fontdict = b"<</Font <</F1 5 0 R /" + enc_font.encode("ascii") + b" 6 0 R>>>>"
    pages_extra = page_extra = indirect_obj = b""
    if res_pick < 0.4:
        page_extra = b"/Resources " + fontdict + b" "
    elif res_pick < 0.7:
        page_extra = b"/Resources 8 0 R "
        indirect_obj = b"8 0 obj\n" + fontdict + b"\nendobj\n"
    else:
        pages_extra = b"/Resources " + fontdict + b" "
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type /Pages " + pages_extra + b"/Kids [2 0 R]>>\nendobj\n"
        b"2 0 obj\n<</Type /Page " + page_extra + b"/Contents 3 0 R>>\nendobj\n"
        b"3 0 obj\n<</Length " + str(len(content)).encode("ascii") + b">>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"5 0 obj\n<</Type /Font /Subtype /Type1>>\nendobj\n"
        b"6 0 obj\n<</Type /Font /ToUnicode 7 0 R>>\nendobj\n"
        b"7 0 obj\n<</Length " + str(len(cmap)).encode("ascii") + b">>\nstream\n"
        + cmap + b"\nendstream\nendobj\n" + indirect_obj
        + b"%%EOF\n"
    )


def _png_forward_filter(data: bytes, columns: int, rng: random.Random) -> bytes:
    """Forward-apply PNG row filters (bpp=1: each row = filter byte +
    columns filtered bytes) so the kernel's /Predictor 12 de-prediction
    has something real to undo. Rotates filter type None/Sub/Up per row
    (real xref-stream writers emit mostly Up) — independent encoder twin
    of kernel _depredict, never shared code."""
    assert len(data) % columns == 0
    out = bytearray()
    prev = bytes(columns)
    for r0 in range(0, len(data), columns):
        row = data[r0 : r0 + columns]
        ftype = rng.choice((0, 1, 2, 2))
        out.append(ftype)
        if ftype == 0:
            out += row
        elif ftype == 1:  # Sub (bpp=1: left neighbor)
            out += bytes((row[i] - (row[i - 1] if i else 0)) & 0xFF for i in range(columns))
        else:  # Up
            out += bytes((row[i] - prev[i]) & 0xFF for i in range(columns))
        prev = row
    return bytes(out)


def _pdf_page_v4(
    rng: random.Random, vocab: List[str], n_lines: int, packed: bool = True
) -> bytes:
    """MODERN (PDF 1.5+) file structure: every non-stream object — pages
    node, page dict, font dicts, the indirect resources dict — lives
    zlib-packed inside a ``/Type /ObjStm`` object stream, and the file
    carries a real ``/Type /XRef`` cross-reference STREAM (W [1 2 1],
    type-2 entries pointing packed objects at their (objstm, index) slot,
    type-1 entries with true byte offsets, Flate + PNG /Predictor 12 /Up)
    instead of a classic xref table — the dominant post-2005 layout that
    a flat `N 0 obj` scan alone extracts nothing from. Half the ObjStms
    additionally ship predictor'd (/Predictor 12, rotating None/Sub/Up
    row filters) so de-prediction is exercised on the load-bearing path,
    not just the xref. Content keeps a /ToUnicode CMap font (+3
    byte-shift, v3-style) so CMap resolution composes with ObjStm
    unpacking. ``packed=False`` emits the byte-equivalent FLAT layout of
    the same draws — the test twin for the byte-identity gate."""
    import zlib

    en = _BASE_VOCAB["en"]

    def enc_line() -> str:
        t = _sentence(rng, en, rng.randint(4, 9)).replace("Y", "Z")
        return "".join(chr(ord(c) + 3) for c in t)

    def plain_line() -> str:
        return _sentence(rng, vocab, rng.randint(4, 9)).replace("(", "").replace(")", "")

    body = [
        "BT /F1 10 Tf 72 760 Td (Running Header) Tj ET",
        "BT /F1 8 Tf 72 40 Td (page 1) Tj ET",
        f"BT /F1 18 Tf 72 748 Td ({plain_line()}) Tj ET",
    ]
    y = 700
    for k in range(max(4, n_lines)):
        if k % 3 == 2:
            body.append(f"BT /F7 12 Tf 72 {y} Td ({enc_line()}) Tj ET")
        else:
            body.append(f"BT /F1 12 Tf 72 {y} Td ({plain_line()}) Tj ET")
        y -= 40 if rng.random() < 0.2 else 14
        if y <= 60:
            break
    content = "\n".join(body).encode("utf-8")
    cmap = (
        b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
        b"1 begincodespacerange <00> <FF> endcodespacerange\n"
        b"1 beginbfrange\n<23> <7D> <0020>\nendbfrange\nendcmap\n"
    )
    # non-stream objects — these get packed into the ObjStm
    dict_objs = [
        (1, b"<</Type /Pages /Kids [2 0 R]>>"),
        (2, b"<</Type /Page /Resources 8 0 R /Contents 3 0 R>>"),
        (5, b"<</Type /Font /Subtype /Type1>>"),
        (6, b"<</Type /Font /ToUnicode 7 0 R>>"),
        (8, b"<</Font <</F1 5 0 R /F7 6 0 R>>>>"),
    ]
    content_obj = (
        b"3 0 obj\n<</Length " + str(len(content)).encode("ascii") + b">>\nstream\n"
        + content + b"\nendstream\nendobj\n"
    )
    cmap_obj = (
        b"7 0 obj\n<</Length " + str(len(cmap)).encode("ascii") + b">>\nstream\n"
        + cmap + b"\nendstream\nendobj\n"
    )
    use_predictor = rng.random() < 0.5  # drawn in BOTH layouts: same rng tape
    if not packed:
        flat = b"%PDF-1.5\n"
        for num, dbody in dict_objs:
            flat += str(num).encode("ascii") + b" 0 obj\n" + dbody + b"\nendobj\n"
        return flat + content_obj + cmap_obj + b"%%EOF\n"
    # --- ObjStm: "num offset" pairs header, then bodies at /First+offset
    offsets, bodies, pos = [], [], 0
    for num, dbody in dict_objs:
        offsets.append((num, pos))
        bodies.append(dbody)
        pos += len(dbody) + 1
    hdr = b" ".join(b"%d %d" % (num, off) for num, off in offsets)
    stm_data = hdr + b"\n" + b"\n".join(bodies) + b"\n"
    if use_predictor:
        cols = 16
        if len(stm_data) % cols:
            stm_data += b" " * (cols - len(stm_data) % cols)  # pad: trailing ws after last body is inert
        comp = zlib.compress(_png_forward_filter(stm_data, cols, rng))
        parms = b" /DecodeParms <</Predictor 12 /Columns %d>>" % cols
    else:
        comp = zlib.compress(stm_data)
        parms = b""
    objstm = (
        b"9 0 obj\n<</Type /ObjStm /N %d /First %d /Filter /FlateDecode%s /Length %d>>\nstream\n"
        % (len(dict_objs), len(hdr) + 1, parms, len(comp))
        + comp + b"\nendstream\nendobj\n"
    )
    head = b"%PDF-1.5\n"
    off_objstm = len(head)
    off_content = off_objstm + len(objstm)
    off_cmap = off_content + len(content_obj)
    off_xref = off_cmap + len(cmap_obj)
    # --- xref STREAM (§7.5.8): W [1 2 1]; type-2 rows for packed objects
    # (field2 = objstm number, field3 = index within), type-1 rows with
    # the true byte offsets for top-level objects; Flate + Predictor 12
    # (Up rows) exactly as real writers emit it
    top_level = {3: off_content, 7: off_cmap, 9: off_objstm, 10: off_xref}
    rows = [(0, 0, 65535, 0)]  # obj 0: the free-list head
    for idx, (num, _) in enumerate(dict_objs):
        rows.append((num, 2, 9, idx))
    for num, off in sorted(top_level.items()):
        rows.append((num, 1, off, 0))
    rows.sort()
    size = rows[-1][0] + 1
    raw = b"".join(
        bytes((t,)) + f2.to_bytes(2, "big") + bytes((f3,)) for _, t, f2, f3 in rows
    )
    xrng = random.Random(rng.randrange(1 << 30))
    xcomp = zlib.compress(_png_forward_filter(raw, 4, xrng))
    # /Index: one subsection per row since object numbers are sparse
    index = b" ".join(b"%d 1" % n for n, *_ in rows)
    xref_obj = (
        b"10 0 obj\n<</Type /XRef /Size %d /Index [%s] /W [1 2 1] /Root 1 0 R "
        b"/Filter /FlateDecode /DecodeParms <</Predictor 12 /Columns 4>> /Length %d>>\nstream\n"
        % (size, index, len(xcomp))
        + xcomp + b"\nendstream\nendobj\n"
    )
    return (
        head + objstm + content_obj + cmap_obj + xref_obj
        + b"startxref\n%d\n%%%%EOF\n" % off_xref
    )


# v5 width table: space 250, everything else 400..700 by char class —
# deliberately NON-uniform so exact-abutment positioning only works when
# the extractor applies the declared metrics
_V5_WIDTHS = {c: (250 if c == 32 else 400 + (c % 7) * 50) for c in range(32, 127)}


def _v5_width_units(text: str) -> int:
    return sum(_V5_WIDTHS.get(ord(ch), 500) for ch in text)


def _pdf_page_v5(rng: random.Random, vocab: List[str], n_lines: int, flat: bool = False) -> bytes:
    """WIDTH-METRICS PDF (corpus v9): the body font declares
    /FirstChar 32 + /Widths, and body lines are written the way real
    tight-setting writers emit text — SEGMENTED:

      * style 1: each word's fragments as successive Tj ops (the cursor
        must advance by true glyph widths for them to abut), with the
        NEXT word placed by a Td whose dx = word width + one space width
        — the space is a POSITIONED GAP, no space glyph exists;
      * style 2: one TJ array with tight intra-word kerns (-60, -100:
        below half the 250-unit space glyph => join) and -150 WORD
        separators — a gap the fixed -180 heuristic misses but the
        metrics threshold (-125) correctly reads as a space.

    An extractor without width metrics garbles these lines ('wo rd' /
    'word1word2'); with them the text is byte-identical to the plain
    writing. ``flat=True`` emits exactly that plain writing from the SAME
    rng draws — the equality twin pinned by tests."""
    lines = []
    for _ in range(max(3, n_lines)):
        t = _sentence(rng, vocab, rng.randint(4, 9)).replace("(", "").replace(")", "")
        lines.append((t, rng.randrange(3), rng.random() < 0.2))
    title = _sentence(rng, vocab, rng.randint(3, 6)).replace("(", "").replace(")", "")

    body = [
        "BT /F1 10 Tf 72 760 Td (Running Header) Tj ET",
        "BT /F1 8 Tf 72 40 Td (page 1) Tj ET",
        f"BT /F1 18 Tf 72 748 Td ({title}) Tj ET",
    ]
    y = 700
    for text, style, big_gap in lines:
        if flat or style == 0:
            body.append(f"BT /F1 12 Tf 72 {y} Td ({text}) Tj ET")
        elif style == 1:
            ops = [f"BT /F1 12 Tf 72 {y} Td"]
            words = text.split(" ")
            for wi, word in enumerate(words):
                if len(word) >= 4:
                    mid = len(word) // 2
                    ops.append(f"({word[:mid]}) Tj ({word[mid:]}) Tj")
                else:
                    ops.append(f"({word}) Tj")
                if wi + 1 < len(words):
                    dx = (_v5_width_units(word) + 250) * 12 / 1000.0
                    ops.append(f"{dx:.3f} 0 Td")
            ops.append("ET")
            body.append(" ".join(ops))
        else:
            els = []
            for wi, word in enumerate(words := text.split(" ")):
                if len(word) >= 4:
                    mid = len(word) // 2
                    els.append(f"({word[:mid]}) {-60 - (wi % 2) * 40} ({word[mid:]})")
                else:
                    els.append(f"({word})")
                if wi + 1 < len(words):
                    els.append("-150")
            body.append(f"BT /F1 12 Tf 72 {y} Td [{' '.join(els)}] TJ ET")
        y -= 40 if big_gap else 14
        if y <= 60:
            break
    content = "\n".join(body).encode("utf-8")
    widths = b" ".join(b"%d" % _V5_WIDTHS[c] for c in range(32, 127))
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n"
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F1 4 0 R>>>> /Contents 3 0 R>>\nendobj\n"
        b"3 0 obj\n<</Length " + str(len(content)).encode("ascii") + b">>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"4 0 obj\n<</Type /Font /Subtype /Type1 /FirstChar 32 /Widths ["
        + widths + b"]>>\nendobj\n"
        b"%%EOF\n"
    )


def _pdf_page_v6(
    rng: random.Random, vocab: List[str], n_lines: int, single_revision: bool = False
) -> bytes:
    """INCREMENTALLY-UPDATED PDF (corpus v10): the file carries TWO
    revisions of the same document, the way in-place editors save —

      * revision 1 (original): flat objects — pages tree (1), page (2)
        with /Contents 3, content stream 3 holding the SUPERSEDED text —
        closed by a CLASSIC xref table + trailer + startxref;
      * revision 2 (appended): a replacement generation of page object 2
        (now /Contents 5) packed inside a /Type /ObjStm, a new flat
        content stream 5 with the CURRENT text, and a /Type /XRef
        cross-reference STREAM whose /Prev links the classic table —
        the hybrid old-object-flat / new-object-PACKED layout where byte
        order alone picks the stale body (a flat definition precedes the
        packed one, and setdefault-style expansion would keep it): only
        xref-driven precedence (newest revision's type-2 entry) reads
        the update.

    ``single_revision=True`` emits the post-update state as a clean flat
    one-revision file from the SAME rng draws — the byte-identity twin
    pinned by tests (updated file must extract its CURRENT text, not the
    revision-1 text)."""
    import zlib

    def draw_lines(n: int) -> List[str]:
        out, y = [], 700
        for _ in range(max(3, n)):
            t = _sentence(rng, vocab, rng.randint(4, 9)).replace("(", "").replace(")", "")
            out.append(f"BT /F1 12 Tf 72 {y} Td ({t}) Tj ET")
            y -= 40 if rng.random() < 0.2 else 14
            if y <= 60:
                break
        return out

    title = _sentence(rng, vocab, rng.randint(3, 6)).replace("(", "").replace(")", "")
    frame = [
        "BT /F1 10 Tf 72 760 Td (Running Header) Tj ET",
        "BT /F1 8 Tf 72 40 Td (page 1) Tj ET",
        f"BT /F1 18 Tf 72 748 Td ({title}) Tj ET",
    ]
    old_lines = draw_lines(n_lines)          # revision-1 body (superseded)
    new_lines = draw_lines(n_lines)          # revision-2 body (current)
    old_content = "\n".join(frame + old_lines).encode("utf-8")
    new_content = "\n".join(frame + new_lines).encode("utf-8")

    content5 = (
        b"5 0 obj\n<</Length %d>>\nstream\n" % len(new_content)
        + new_content + b"\nendstream\nendobj\n"
    )
    if single_revision:
        return (
            b"%PDF-1.5\n"
            b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n"
            b"2 0 obj\n<</Type /Page /Contents 5 0 R>>\nendobj\n"
            + content5 + b"%%EOF\n"
        )

    # --- revision 1: flat objects + classic xref table
    buf = b"%PDF-1.5\n"
    offsets = {}
    for num, body in (
        (1, b"<</Type /Pages /Kids [2 0 R]>>\nendobj\n"),
        (2, b"<</Type /Page /Contents 3 0 R>>\nendobj\n"),
        (3, b"<</Length %d>>\nstream\n" % len(old_content) + old_content
            + b"\nendstream\nendobj\n"),
    ):
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + body
    xref1_off = len(buf)
    buf += (
        b"xref\n0 4\n0000000000 65535 f \n"
        + b"".join(b"%010d 00000 n \n" % offsets[n] for n in (1, 2, 3))
        + b"trailer\n<</Size 4 /Root 1 0 R>>\nstartxref\n%d\n%%%%EOF\n" % xref1_off
    )

    # --- revision 2 (appended): new generation of obj 2 PACKED in ObjStm 9
    member = b"<</Type /Page /Contents 5 0 R>>"
    hdr = b"2 0"
    comp = zlib.compress(hdr + b"\n" + member + b"\n")
    objstm = (
        b"9 0 obj\n<</Type /ObjStm /N 1 /First %d /Filter /FlateDecode /Length %d>>\nstream\n"
        % (len(hdr) + 1, len(comp)) + comp + b"\nendstream\nendobj\n"
    )
    off9 = len(buf)
    buf += objstm
    off5 = len(buf)
    buf += content5
    off10 = len(buf)
    rows = [
        (2, bytes((2,)) + (9).to_bytes(3, "big") + bytes((0,))),
        (5, bytes((1,)) + off5.to_bytes(3, "big") + bytes((0,))),
        (9, bytes((1,)) + off9.to_bytes(3, "big") + bytes((0,))),
        (10, bytes((1,)) + off10.to_bytes(3, "big") + bytes((0,))),
    ]
    xcomp = zlib.compress(b"".join(r for _, r in rows))
    index = b" ".join(b"%d 1" % n for n, _ in rows)
    buf += (
        b"10 0 obj\n<</Type /XRef /Size 11 /Index [%s] /W [1 3 1] /Root 1 0 R "
        b"/Prev %d /Filter /FlateDecode /Length %d>>\nstream\n"
        % (index, xref1_off, len(xcomp))
        + xcomp + b"\nendstream\nendobj\n"
        + b"startxref\n%d\n%%%%EOF\n" % off10
    )
    return buf


# a static /Encrypt'd document (AES placeholder ciphertext in the content
# stream — the kernel must LABEL it, never decode it): classic layout whose
# trailer carries /Encrypt, the round-5 labeled-isolation edge case
_ENCRYPTED_PDF = (
    b"%PDF-1.6\n"
    b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n"
    b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n"
    b"3 0 obj\n<</Length 32>>\nstream\n"
    b"\x8f\x1b\xc2\x99\x07\xd4\x55\xaa\x3e\x60\x12\xf7\x84\x4b\xcd\x02"
    b"\x71\xe8\x9a\x33\xb5\x0c\xd6\x47\xf2\x18\xae\x6b\x90\x5d\x24\xc8"
    b"\nendstream\nendobj\n"
    b"4 0 obj\n<</Filter /Standard /V 4 /R 4 /Length 128>>\nendobj\n"
    b"trailer\n<</Size 5 /Root 1 0 R /Encrypt 4 0 R /ID [<a1> <a1>]>>\n"
    b"%%EOF\n"
)


_EDGE_CASES = [
    ("empty", b""),
    ("whitespace", b"   \n\t  \n"),
    ("truncated", b"<html><body><article><p>Truncated page with enough characters to pass the keep threshold easily"),
    ("invalid-utf8", b"<html><body><article><p>Valid start \xff\xfe\x80 invalid bytes but extractable text continues here for a while.</p></article>"),
    ("no-main", b'<html><body><nav><a href="/x">a</a><a href="/y">b</a></nav><footer><a href="/z">c</a></footer></body></html>'),
    ("pdf-notext", b"%PDF-1.4\n1 0 obj\n<</Type/Page>>\n%%EOF\n"),
    ("pdf-encrypted", _ENCRYPTED_PDF),
    # corpus v11: non-UTF-8 pages a real crawl serves — BOM'd UTF-16LE
    # and a windows-1252 page declared via <meta charset>; extraction
    # must recover the accented text, not mojibake (charset sniffing,
    # kernel/html_extract.decode_html_bytes)
    (
        "utf16le",
        (
            "<html><body><article><p>Première página — naïve café text "
            "with enough characters to pass the keep threshold easily."
            "</p><p>Another UTF-16 paragraph that also stays kept in the "
            "extraction output.</p></article></body></html>"
        ).encode("utf-16"),  # Python utf-16 prepends the LE BOM
    ),
    (
        "charset-1252",
        (
            '<html><head><meta charset="windows-1252"></head><body>'
            "<article><p>Café résumé naïve touché — a legacy Latin page "
            "with enough body text to pass the keep threshold easily."
            "</p></article></body></html>"
        ).encode("cp1252"),
    ),
]


def generate_rows(n_docs: int, seed: int = 42) -> Iterator[dict]:
    """Yield exactly ``n_docs`` page rows deterministically: the edge
    cases and a byte-duplicate pair at the head, then the Zipf-sized mix
    (a corpus shorter than the head is a prefix of it)."""
    return itertools.islice(_rows(n_docs, seed), n_docs)


def _rows(n_docs: int, seed: int) -> Iterator[dict]:
    rng = random.Random(seed)
    i = 0
    # edge cases first (stable urls)
    for name, payload in _EDGE_CASES:
        yield _row(rng, i, payload, lang="en", tag=name)
        i += 1
    # byte-duplicate payload under two different urls
    dup_rng = random.Random(seed + 1)
    dup_payload, _ = _html_page(dup_rng, _BASE_VOCAB["en"], 5)
    yield _row(rng, i, dup_payload, lang="en", tag="dup-a")
    i += 1
    yield _row(rng, i, dup_payload, lang="en", tag="dup-b")
    i += 1

    while i < n_docs:
        lang = LANGS[rng.randrange(len(LANGS))]
        vocab = _BASE_VOCAB[lang]
        # Zipf-ish size: 1/k tail, occasionally giant (x100 median)
        r = rng.random()
        if i % 997 == 499:
            n_paras = 400  # giant page: exercises task skew
        elif r < 0.5:
            n_paras = rng.randint(2, 6)
        elif r < 0.85:
            n_paras = rng.randint(6, 20)
        else:
            n_paras = rng.randint(20, 60)
        if rng.random() < 0.10:
            kind = rng.random()
            if kind < 0.22:
                payload = _pdf_page(rng, vocab, max(4, n_paras))
            elif kind < 0.44:
                payload = _pdf_page_v2(rng, vocab, max(4, n_paras))
            elif kind < 0.58:
                payload = _pdf_page_v3(rng, vocab, max(4, n_paras))
            elif kind < 0.77:
                payload = _pdf_page_v4(rng, vocab, max(4, n_paras))
            elif kind < 0.92:
                payload = _pdf_page_v5(rng, vocab, max(4, n_paras))
            else:
                payload = _pdf_page_v6(rng, vocab, max(4, n_paras))
        else:
            payload, _ = _html_page(rng, vocab, n_paras)
        yield _row(rng, i, payload, lang=lang, tag=None)
        i += 1


def _row(rng: random.Random, i: int, payload: bytes, lang: str, tag) -> dict:
    ts = EPOCH + dt.timedelta(
        days=i % N_DAYS, seconds=rng.randrange(86_400)
    )
    path = f"{tag}-{i}" if tag else f"page-{i}"
    return {
        "url": f"https://site{i % 97}.example/{path}",
        "warc_ts": ts,
        "html": payload,
        "text": None,  # pre-existing text column: unused by extraction
        "lang": lang,
    }


def write_pages_parquet(out_dir: str, n_docs: int, seed: int = 42) -> int:
    """Write the corpus as Parquet partitioned by warc_day=YYYY-MM-DD
    (Iceberg days(warc_ts) layout, Parquet fallback). Returns row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    # warc_day becomes the partition directory, not a column of the files
    schema = to_arrow_schema(PAGES_SCHEMA)
    buf: List[dict] = []
    total = 0

    def _flush(buf: List[dict]) -> None:
        if not buf:
            return
        cols = {
            "url": [r["url"] for r in buf],
            "warc_ts": [r["warc_ts"] for r in buf],
            "html": [r["html"] for r in buf],
            "text": [r["text"] for r in buf],
            "lang": [r["lang"] for r in buf],
            "warc_day": [r["warc_ts"].strftime("%Y-%m-%d") for r in buf],
        }
        table = pa.Table.from_pydict(cols, schema=schema)
        pq.write_to_dataset(table, root_path=out_dir, partition_cols=["warc_day"])

    for row in generate_rows(n_docs, seed=seed):
        buf.append(row)
        total += 1
        if len(buf) >= 5000:  # bounds the rows held in memory
            _flush(buf)
            buf = []
    _flush(buf)
    return total
