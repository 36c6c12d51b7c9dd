"""Unit tests for the PDF layout-extraction kernel (pure Python)."""

from document_ai_spark.kernel.extract import extract_document
from document_ai_spark.kernel.pdf_extract import extract_pdf, is_pdf


def pdf(*objs: str) -> bytes:
    return ("%PDF-1.4\nstream\n" + "\n".join(objs) + "\nendstream\n%%EOF\n").encode()


def obj(x: int, y: int, text: str, size: int = 12) -> str:
    return f"BT /F1 {size} Tf {x} {y} Td ({text}) Tj ET"


def test_magic_dispatch():
    assert is_pdf(b"%PDF-1.4")
    assert not is_pdf(b"<html>")
    assert extract_document(pdf(obj(72, 700, "hello")))[1] == "pdf"


def test_two_column_reading_order():
    # right-column line is ABOVE left-column lines in y, but reading order
    # must finish the left column first (columns left-to-right).
    payload = pdf(
        obj(320, 720, "right col first line"),
        obj(72, 700, "left col second line"),
        obj(72, 714, "left col first line"),
        obj(320, 706, "right col second line"),
    )
    text, spans = extract_pdf(payload)
    assert text.index("left col first") < text.index("left col second") < text.index("right col first") < text.index("right col second")
    assert [s["tag"] for s in spans] == ["pdf:c0r0", "pdf:c1r0"]


def test_header_footer_bands_dropped():
    payload = pdf(
        obj(72, 760, "Running Header", 10),
        obj(72, 40, "page 3", 8),
        obj(72, 700, "body line stays"),
    )
    text, _ = extract_pdf(payload)
    assert text == "body line stays"


def test_paragraph_gap_splits_regions():
    payload = pdf(
        obj(72, 700, "para one line one"),
        obj(72, 686, "para one line two"),
        obj(72, 600, "para two after big gap"),
    )
    text, spans = extract_pdf(payload)
    assert text == "para one line one para one line two\n\npara two after big gap"
    assert len(spans) == 2


def test_document_order_irrelevant():
    a = pdf(obj(72, 700, "first"), obj(72, 686, "second"))
    b = pdf(obj(72, 686, "second"), obj(72, 700, "first"))
    assert extract_pdf(a)[0] == extract_pdf(b)[0] == "first second"


def test_zero_text_objects_is_empty():
    doc_hash, kind, text, spans, n, nb, err = extract_document(b"%PDF-1.4\n%%EOF\n")
    assert kind == "empty" and text == "" and err is None


def test_span_offsets_reconstruct():
    payload = pdf(obj(72, 700, "alpha"), obj(72, 600, "beta"), obj(320, 700, "gamma"))
    text, spans = extract_pdf(payload)
    for s in spans:
        assert text[s["char_start"] : s["char_end"]] in ("alpha", "beta", "gamma")


# -- widened grammar (round 2): TJ arrays, Tm, Td accumulation, escapes,
#    multi-page /Kids ordering, /Contents indirection --------------------


def test_tj_array_concatenates_with_kerning_spaces():
    payload = pdf("BT /F1 12 Tf 72 700 Td [(Hel) 10 (lo) -250 (world)] TJ ET")
    text, _ = extract_pdf(payload)
    # small kerning (10) joins, large negative (-250) is a word space
    assert text == "Hello world"


def test_tm_positions_text():
    payload = pdf(
        "BT /F1 12 Tf 1 0 0 1 72 700 Tm (first line) Tj ET",
        "BT /F1 12 Tf 1 0 0 1 72 686 Tm (second line) Tj ET",
    )
    assert extract_pdf(payload)[0] == "first line second line"


def test_td_accumulates_within_text_object():
    # one BT with successive Td translations: offsets are RELATIVE
    payload = pdf(
        "BT /F1 12 Tf 72 700 Td (line one) Tj 0 -14 Td (line two) Tj 0 -14 Td (line three) Tj ET"
    )
    assert extract_pdf(payload)[0] == "line one line two line three"


def test_tstar_and_leading():
    payload = pdf(
        "BT /F1 12 Tf 14 TL 72 700 Td (alpha) Tj T* (beta) Tj T* (gamma) Tj ET"
    )
    assert extract_pdf(payload)[0] == "alpha beta gamma"


def test_quote_operator_shows_on_next_line():
    payload = pdf("BT /F1 12 Tf 14 TL 72 700 Td (one) Tj (two) ' ET")
    assert extract_pdf(payload)[0] == "one two"


def test_string_escapes_and_nested_parens():
    payload = pdf(
        r"BT /F1 12 Tf 72 700 Td (has \(escaped parens\) and \\ backslash) Tj ET",
        "BT /F1 12 Tf 72 686 Td (nested (balanced) parens) Tj ET",
        r"BT /F1 12 Tf 72 672 Td (octal \101\102\103 end) Tj ET",
    )
    text, _ = extract_pdf(payload)
    assert "has (escaped parens) and \\ backslash" in text
    assert "nested (balanced) parens" in text
    assert "octal ABC end" in text


def _two_page_pdf(page1_body: str, page2_body: str) -> bytes:
    # /Kids order [4, 2] differs from document order: page obj 4 reads first
    return (
        "%PDF-1.4\n"
        "1 0 obj\n<</Type /Pages /Kids [4 0 R 2 0 R]>>\nendobj\n"
        "2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n"
        f"3 0 obj\nstream\n{page2_body}\nendstream\nendobj\n"
        f"4 0 obj\n<</Type /Page>>\nstream\n{page1_body}\nendstream\nendobj\n"
        "%%EOF\n"
    ).encode()


def test_multipage_kids_order_and_contents_indirection():
    payload = _two_page_pdf(
        obj(72, 700, "page one text"),
        obj(72, 700, "page two text"),
    )
    text, spans = extract_pdf(payload)
    assert text == "page one text\n\npage two text"
    assert [s["tag"] for s in spans] == ["pdf:p0c0r0", "pdf:p1c0r0"]


def test_multipage_layout_runs_per_page():
    # header band dropped on BOTH pages; columns clustered per page
    payload = _two_page_pdf(
        obj(72, 760, "Header A", 10) + "\n" + obj(72, 700, "p1 left") + "\n" + obj(320, 700, "p1 right"),
        obj(72, 760, "Header B", 10) + "\n" + obj(72, 700, "p2 body"),
    )
    text, _ = extract_pdf(payload)
    assert text == "p1 left\n\np1 right\n\np2 body"


def test_hex_string_tj():
    payload = pdf("BT /F1 12 Tf 72 700 Td <48 65 6C 6C 6F2> Tj ET")
    # whitespace inside hex ignored; odd final digit padded with 0 (the
    # trailing 0x20 is then collapsed by whitespace normalization)
    assert extract_pdf(payload)[0] == "Hello"


def test_flate_stream_with_length():
    import zlib

    body = obj(72, 700, "compressed page text here")
    comp = zlib.compress(body.encode(), 6)
    payload = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n"
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n"
        b"3 0 obj\n<</Length " + str(len(comp)).encode()
        + b" /Filter /FlateDecode>>\nstream\n" + comp + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    assert extract_pdf(payload)[0] == "compressed page text here"


def test_corrupt_flate_stream_is_isolated():
    payload = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n"
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n"
        b"3 0 obj\n<</Length 10 /Filter /FlateDecode>>\nstream\n"
        b"not-flate!\nendstream\nendobj\n%%EOF\n"
    )
    text, spans = extract_pdf(payload)  # must not raise
    assert text == "" and spans == []


def test_pdf_kernel_is_total_on_garbage():
    # random bytes after the %PDF magic must never raise (error isolation
    # happens per document; the kernel itself stays total)
    import random

    rng = random.Random(5)
    for _ in range(300):
        junk = b"%PDF-1.4\n" + bytes(rng.randrange(256) for _ in range(rng.randrange(0, 500)))
        extract_pdf(junk)  # must not raise
    # adversarial structured junk
    for payload in [
        b"%PDF-1.4\n1 0 obj\n<</Type /Pages /Kids [9 0 R]>>\nendobj\n%%EOF",  # dangling kid
        b"%PDF-1.4\nstream\nBT [ ( ] Tj ET\nendstream",                      # unbalanced
        b"%PDF-1.4\nstream\nBT /F1 12 Tf (unclosed string\nendstream",       # EOF in string
        b"%PDF-1.4\nstream\nBT 1 2 Td <zz> Tj ET\nendstream",                # bad hex
        b"%PDF-1.4\n1 0 obj\n<</Length 999999 /Filter /FlateDecode>>\nstream\nxx\nendstream\nendobj",
    ]:
        extract_pdf(payload)  # must not raise


def test_asciihex_stream():
    body = obj(72, 700, "hex encoded page")
    enc = body.encode().hex().upper().encode() + b">"
    payload = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n"
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n"
        b"3 0 obj\n<</Length " + str(len(enc)).encode()
        + b" /Filter /ASCIIHexDecode>>\nstream\n" + enc + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    assert extract_pdf(payload)[0] == "hex encoded page"


# -- round-2 review regressions: indirect /Length, /Contents arrays,
#    binary streams containing structure keywords -------------------------


def _doc(*objs: bytes) -> bytes:
    return b"%PDF-1.4\n" + b"".join(objs) + b"%%EOF\n"


def test_indirect_length_reference():
    import zlib

    body = obj(72, 700, "indirect length page").encode()
    comp = zlib.compress(body, 6)
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\n<</Length 5 0 R /Filter /FlateDecode>>\nstream\n" + comp + b"\nendstream\nendobj\n",
        # the length object appears AFTER the stream (the realistic layout)
        b"5 0 obj\n" + str(len(comp)).encode() + b"\nendobj\n",
    )
    assert extract_pdf(payload)[0] == "indirect length page"


def test_indirect_length_multidigit_object_number():
    # round-3 ADVICE regression: '/Length 40 0 R' must not backtrack into a
    # direct length of 4 (the old negative lookahead was defeated because
    # '0 0 R' after the shrunk '4' fails the lookahead's leading \s+,
    # truncating the stream to 4 bytes and losing the page)
    import zlib

    body = obj(72, 700, "multidigit length object").encode()
    comp = zlib.compress(body, 6)
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\n<</Length 40 0 R /Filter /FlateDecode>>\nstream\n" + comp + b"\nendstream\nendobj\n",
        b"40 0 obj\n" + str(len(comp)).encode() + b"\nendobj\n",
    )
    assert extract_pdf(payload)[0] == "multidigit length object"


def test_contents_array_concatenates_streams():
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Contents [3 0 R 4 0 R]>>\nendobj\n",
        b"3 0 obj\nstream\n" + obj(72, 700, "first stream").encode() + b"\nendstream\nendobj\n",
        b"4 0 obj\nstream\n" + obj(72, 686, "second stream").encode() + b"\nendstream\nendobj\n",
    )
    assert extract_pdf(payload)[0] == "first stream second stream"


def test_binary_stream_containing_endobj_keyword():
    import zlib

    # craft compressed data that CONTAINS the bytes 'endobj' and a fake
    # object header; the declared /Length must carry the scan across them
    target = obj(72, 700, "survives evil bytes")
    comp = zlib.compress(target.encode(), 0)  # stored blocks: content verbatim-ish
    evil = comp + b"endobj 9 0 obj"
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\n<</Length " + str(len(evil)).encode()
        + b" /Filter /FlateDecode>>\nstream\n" + evil + b"\nendstream\nendobj\n",
        b"4 0 obj\nstream\n" + obj(72, 600, "next object intact").encode() + b"\nendstream\nendobj\n",
    )
    # zlib.decompress ignores trailing garbage after the deflate stream
    text, _ = extract_pdf(payload)
    assert "survives evil bytes" in text


# -- round 3: filter chains, LZW, ToUnicode CMaps, markdown mode -----------


def test_lzw_convention_pinned_bit_vector():
    # hand-computed: encode('AAAAAA') emits codes 256,65,258,259,257 at 9
    # bits = 0x80 0x10 0x60 0x50 0x38 0x08 (EarlyChange=1 convention)
    from document_ai_spark.kernel.pdf_extract import _lzw_decode
    from document_ai_spark.sources.pages import _lzw_encode

    vec = bytes.fromhex("801060503808")
    assert _lzw_encode(b"AAAAAA") == vec
    assert _lzw_decode(vec) == b"AAAAAA"


def test_lzw_roundtrip_fuzz():
    import random

    from document_ai_spark.kernel.pdf_extract import _lzw_decode
    from document_ai_spark.sources.pages import _lzw_encode

    rng = random.Random(3)
    for _ in range(40):
        n = rng.randrange(0, 20000)
        data = bytes(rng.randrange(4) * 60 + rng.randrange(60) for _ in range(n))
        assert _lzw_decode(_lzw_encode(data)) == data
    # incompressible data fills the 12-bit table -> exercises clear+reset,
    # at BOTH EarlyChange conventions (the encoder's table-full cap must be
    # next_code >= 4096 independent of `early` — review regression)
    for early in (0, 1):
        data = bytes(rng.randrange(256) for _ in range(40000))
        assert _lzw_decode(_lzw_encode(data, early=early), early=early) == data
        filler = bytes((i * 7 + j) % 251 for i in range(70) for j in range(70))
        data = filler + bytes((5, 5, 5, 200)) * 200 + filler
        assert _lzw_decode(_lzw_encode(data, early=early), early=early) == data
    # EOD boundary alignment: the decoder assigns one more table entry
    # after reading the FINAL data code and may bump the code width before
    # reading EOD — low-entropy streams of many lengths hit the exact
    # next_code + early == (1 << width) boundary (advice regression: the
    # encoder used to emit 257 at the stale width, corrupting ~0.1%)
    for early in (0, 1):
        for _ in range(1500):
            n = rng.randrange(0, 2500)
            alpha = rng.randrange(2, 8)
            data = bytes(rng.randrange(alpha) for _ in range(n))
            assert _lzw_decode(_lzw_encode(data, early=early), early=early) == data
    # truncated / garbage LZW never hangs, raises only ValueError
    for _ in range(100):
        junk = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 64)))
        try:
            _lzw_decode(junk)
        except ValueError:
            pass


def test_filter_chain_ascii85_flate():
    import base64
    import zlib

    body = obj(72, 700, "chained filter page")
    comp = zlib.compress(body.encode(), 6)
    enc = base64.a85encode(comp) + b"~>"
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\n<</Length " + str(len(enc)).encode()
        + b" /Filter [/ASCII85Decode /FlateDecode]>>\nstream\n" + enc + b"\nendstream\nendobj\n",
    )
    assert extract_pdf(payload)[0] == "chained filter page"


def test_lzw_stream():
    from document_ai_spark.sources.pages import _lzw_encode

    body = obj(72, 700, "lzw page text")
    enc = _lzw_encode(body.encode())
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\n<</Length " + str(len(enc)).encode()
        + b" /Filter /LZWDecode>>\nstream\n" + enc + b"\nendstream\nendobj\n",
    )
    assert extract_pdf(payload)[0] == "lzw page text"


def test_unknown_filter_isolated():
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\n<</Length 4 /Filter /DCTDecode>>\nstream\nabcd\nendstream\nendobj\n",
    )
    text, spans = extract_pdf(payload)
    assert text == "" and spans == []


def _cmap_doc(stream_body: bytes, cmap: bytes) -> bytes:
    return _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F7 5 0 R>>>> /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\n" + stream_body + b"\nendstream\nendobj\n",
        b"5 0 obj\n<</Type /Font /ToUnicode 6 0 R>>\nendobj\n",
        b"6 0 obj\n<</Length " + str(len(cmap)).encode() + b">>\nstream\n" + cmap + b"\nendstream\nendobj\n",
    )


def test_tounicode_bfrange_contiguous():
    plain = "Encoded heading text"
    shifted = bytes(ord(c) + 3 for c in plain)
    cmap = b"begincmap\n1 beginbfrange\n<23> <7D> <0020>\nendbfrange\nendcmap\n"
    payload = _cmap_doc(b"BT /F7 12 Tf 72 700 Td (" + shifted + b") Tj ET", cmap)
    assert extract_pdf(payload)[0] == plain


def test_tounicode_bfchar_and_multibyte_dst():
    # bfchar pairs incl. a two-code-unit destination ('fi' ligature -> "fi")
    cmap = (
        b"begincmap\nbeginbfchar\n"
        b"<41> <0058>\n"          # 'A' -> 'X'
        b"<42> <00660069>\n"      # 'B' -> 'fi'
        b"endbfchar\nendcmap\n"
    )
    payload = _cmap_doc(b"BT /F7 12 Tf 72 700 Td (AB cd) Tj ET", cmap)
    # unmapped ASCII (space, c, d) passes through
    assert extract_pdf(payload)[0] == "Xfi cd"


def test_tounicode_bfrange_array_form():
    cmap = (
        b"begincmap\nbeginbfrange\n"
        b"<41> <43> [<0058> <0059> <005A>]\n"   # A,B,C -> X,Y,Z
        b"endbfrange\nendcmap\n"
    )
    payload = _cmap_doc(b"BT /F7 12 Tf 72 700 Td (ABC ok) Tj ET", cmap)
    assert extract_pdf(payload)[0] == "XYZ ok"


def test_font_switching_between_text_objects():
    plain = "plain line here"
    enc = bytes(ord(c) + 3 for c in "secret line here")
    cmap = b"begincmap\n1 beginbfrange\n<23> <7D> <0020>\nendbfrange\nendcmap\n"
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F1 8 0 R /F7 5 0 R>>>> /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\nBT /F1 12 Tf 72 700 Td (" + plain.encode()
        + b") Tj ET\nBT /F7 12 Tf 72 686 Td (" + enc + b") Tj ET\nendstream\nendobj\n",
        b"5 0 obj\n<</Type /Font /ToUnicode 6 0 R>>\nendobj\n",
        b"6 0 obj\n<</Length " + str(len(cmap)).encode() + b">>\nstream\n" + cmap + b"\nendstream\nendobj\n",
        b"8 0 obj\n<</Type /Font /Subtype /Type1>>\nendobj\n",
    )
    assert extract_pdf(payload)[0] == "plain line here secret line here"


def test_malformed_cmap_is_isolated():
    cmap = b"begincmap\nbeginbfrange\n<zz> garbage [ <41>\nendcmap\n"
    payload = _cmap_doc(b"BT /F7 12 Tf 72 700 Td (raw text stays) Tj ET", cmap)
    # unparsable cmap -> font stays byte-transparent
    assert extract_pdf(payload)[0] == "raw text stays"


def test_tm_rotation_rotates_line_advance():
    # 90-degree rotation: [0 1 -1 0 e f]; Td(0,-14) then advances along
    # the rotated baseline => x changes, not y. Both lines land at y=400,
    # x=300 and x=314 (y-advance maps to +x under this rotation), i.e.
    # they read as ONE region of a single column in layout order.
    payload = pdf(
        "BT /F1 12 Tf 0 1 -1 0 300 400 Tm (first rotated) Tj 0 -14 Td (second rotated) Tj ET"
    )
    from document_ai_spark.kernel.pdf_extract import _parse_items

    items = _parse_items(
        b"BT /F1 12 Tf 0 1 -1 0 300 400 Tm (first rotated) Tj 0 -14 Td (second rotated) Tj ET"
    )
    assert items == [(300, 400, 12, "first rotated", None), (314, 400, 12, "second rotated", None)]
    assert extract_pdf(payload)[0] == "first rotated second rotated"


def test_tm_scaling_scales_font_size():
    # [2 0 0 2 ...]: a 9pt Tf under 2x scale shows as 18pt -> markdown h1
    payload = pdf(
        "BT /F1 9 Tf 2 0 0 2 72 700 Tm (Scaled Title Line) Tj ET",
        obj(72, 600, "normal body text paragraph"),
    )
    text, spans = extract_pdf(payload, markdown=True)
    assert text.startswith("# Scaled Title Line")
    assert "normal body text paragraph" in text


def test_tstar_follows_rotated_leading():
    # T* under rotation advances along the rotated y axis too
    from document_ai_spark.kernel.pdf_extract import _parse_items

    items = _parse_items(
        b"BT /F1 12 Tf 14 TL 0 1 -1 0 300 400 Tm (a) Tj T* (b) Tj ET"
    )
    assert items == [(300, 400, 12, "a", None), (314, 400, 12, "b", None)]


def test_pdf_markdown_heading_levels():
    payload = pdf(
        obj(72, 700, "Document Title Here", 18),
        obj(72, 640, "Section heading line", 14),
        obj(72, 580, "body paragraph text"),
    )
    text, _ = extract_pdf(payload, markdown=True)
    assert text == "# Document Title Here\n\n## Section heading line\n\nbody paragraph text"
    # plain mode unchanged
    assert "#" not in extract_pdf(payload)[0]


# -- round-3 review regressions: surrogate CMaps, resource indirection,
#    DecodeParms ----------------------------------------------------------


def test_cmap_surrogate_destination_is_replaced():
    # a bfrange whose destination lands in the UTF-16 surrogate block must
    # map to U+FFFD, never a lone surrogate (a surrogate in the extracted
    # text would fail the whole Arrow batch, not just this document)
    cmap = b"begincmap\nbeginbfrange\n<41> <43> <D7FF>\nendbfrange\nendcmap\n"
    payload = _cmap_doc(b"BT /F7 12 Tf 72 700 Td (ABC) Tj ET", cmap)
    text = extract_pdf(payload)[0]
    assert text == "퟿��"  # D7FF ok, D800/D801 replaced
    text.encode("utf-8")  # must be encodable (the Arrow requirement)


def test_resources_indirect_reference():
    plain = "indirect resources line"
    enc = bytes(ord(c) + 3 for c in plain)
    cmap = b"begincmap\n1 beginbfrange\n<23> <7D> <0020>\nendbfrange\nendcmap\n"
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources 9 0 R /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\nBT /F7 12 Tf 72 700 Td (" + enc + b") Tj ET\nendstream\nendobj\n",
        b"5 0 obj\n<</Type /Font /ToUnicode 6 0 R>>\nendobj\n",
        b"6 0 obj\n<</Length " + str(len(cmap)).encode() + b">>\nstream\n" + cmap + b"\nendstream\nendobj\n",
        b"9 0 obj\n<</Font <</F7 5 0 R>>>>\nendobj\n",
    )
    assert extract_pdf(payload)[0] == plain


def test_resources_inherited_from_pages_node():
    plain = "inherited resources line"
    enc = bytes(ord(c) + 3 for c in plain)
    cmap = b"begincmap\n1 beginbfrange\n<23> <7D> <0020>\nendbfrange\nendcmap\n"
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Resources <</Font <</F7 5 0 R>>>> /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\nBT /F7 12 Tf 72 700 Td (" + enc + b") Tj ET\nendstream\nendobj\n",
        b"5 0 obj\n<</Type /Font /ToUnicode 6 0 R>>\nendobj\n",
        b"6 0 obj\n<</Length " + str(len(cmap)).encode() + b">>\nstream\n" + cmap + b"\nendstream\nendobj\n",
    )
    assert extract_pdf(payload)[0] == plain


def test_tounicode_two_byte_codespace():
    # CID-style 2-byte codes: each char encoded as the pair (0x01, c+3),
    # codespace <0000>-<FFFF>, bfrange maps 0x0123-0x017D back to ASCII
    plain = "Two byte coded text"
    enc = b"".join(bytes((1, ord(c) + 3)) for c in plain)
    cmap = (
        b"begincmap\n1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"1 beginbfrange\n<0123> <017D> <0020>\nendbfrange\nendcmap\n"
    )
    payload = _cmap_doc(b"BT /F7 12 Tf 72 700 Td (" + enc + b") Tj ET", cmap)
    assert extract_pdf(payload)[0] == plain


def test_tounicode_two_byte_odd_tail_and_unmapped():
    cmap = (
        b"begincmap\n1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"beginbfchar\n<0141> <0058>\nendbfchar\nendcmap\n"
    )
    # mapped pair, unmapped pair, odd trailing byte
    payload = _cmap_doc(b"BT /F7 12 Tf 72 700 Td (\x01A\x02B\x03) Tj ET", cmap)
    assert extract_pdf(payload)[0] == "X��"


def test_lzw_earlychange_zero_via_decodeparms():
    from document_ai_spark.sources.pages import _lzw_encode

    body = obj(72, 700, "early change zero page")
    enc = _lzw_encode(body.encode(), early=0)
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\n<</Length " + str(len(enc)).encode()
        + b" /Filter /LZWDecode /DecodeParms <</EarlyChange 0>>>>\nstream\n"
        + enc + b"\nendstream\nendobj\n",
    )
    assert extract_pdf(payload)[0] == "early change zero page"


def test_predictor_isolates_instead_of_garbage():
    import zlib

    body = obj(72, 700, "predictor stream")
    comp = zlib.compress(body.encode(), 6)
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\n<</Length " + str(len(comp)).encode()
        + b" /Filter /FlateDecode /DecodeParms <</Predictor 12 /Columns 4>>>>\nstream\n"
        + comp + b"\nendstream\nendobj\n",
    )
    text, spans = extract_pdf(payload)
    assert text == "" and spans == []


# -- round 3: regex-scan interpreter equivalence ---------------------------


def test_fast_interpreter_matches_reference():
    """The production regex-scan _parse_items must be item-identical to the
    per-byte reference path on corpus streams, random garbage, and
    structured token soup (the same pinning strategy as fast HTML)."""
    import random

    from document_ai_spark.kernel.pdf_extract import (
        _parse_items,
        _parse_items_reference,
        _split_pages,
    )
    from document_ai_spark.sources.pages import generate_rows

    for r in generate_rows(400, seed=42):
        if is_pdf(r["html"]):
            for s, _fonts in _split_pages(r["html"]):
                assert _parse_items(s) == _parse_items_reference(s)

    rng = random.Random(11)
    for _ in range(500):
        s = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 300)))
        assert _parse_items(s) == _parse_items_reference(s), s

    soup = [
        "BT", "ET", "Tf", "Td", "TD", "Tm", "TL", "T*", "Tj", "TJ", "'",
        "[", "]", "(abc)", r"(a\(b\)c)", "(ne(st)ed)", "<48656C6C6F>",
        "<4 8 65>", "12", "-14.5", ".5", "+3", "/F1", "%comment", "<<",
        "5e2", "nan", "inf", "(", ")", ">", "<",
    ]
    for _ in range(1000):
        s = " ".join(rng.choice(soup) for _ in range(rng.randrange(1, 50))).encode()
        assert _parse_items(s) == _parse_items_reference(s), s


def test_ascii85_stream():
    import base64

    body = obj(72, 700, "ascii85 encoded page")
    enc = base64.a85encode(body.encode()) + b"~>"
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\n<</Length " + str(len(enc)).encode()
        + b" /Filter /ASCII85Decode>>\nstream\n" + enc + b"\nendstream\nendobj\n",
    )
    assert extract_pdf(payload)[0] == "ascii85 encoded page"


# --- modern PDF structure: object streams + /Predictor (corpus v8) ------


def _objstm_doc(content: bytes, predictor: bool) -> bytes:
    """Minimal PDF 1.5 layout: pages node + page dict packed in a
    /Type /ObjStm, content stream top-level; optionally the ObjStm ships
    Flate + PNG /Predictor 12 (forward-filtered here independently of the
    kernel's _depredict)."""
    import zlib

    o1 = b"<</Type /Pages /Kids [2 0 R]>>"
    o2 = b"<</Type /Page /Contents 3 0 R>>"
    hdr = b"1 0 2 %d" % (len(o1) + 1)
    data = hdr + b"\n" + o1 + b"\n" + o2 + b"\n"
    parms = b""
    if predictor:
        cols = 8
        if len(data) % cols:
            data += b" " * (cols - len(data) % cols)
        filtered = bytearray()
        prev = bytes(cols)
        for r0 in range(0, len(data), cols):  # all-Up rows, the xref norm
            row = data[r0 : r0 + cols]
            filtered.append(2)
            filtered += bytes((row[i] - prev[i]) & 0xFF for i in range(cols))
            prev = row
        comp = zlib.compress(bytes(filtered))
        parms = b" /DecodeParms <</Predictor 12 /Columns 8>>"
    else:
        comp = zlib.compress(data)
    return (
        b"%PDF-1.5\n"
        + b"9 0 obj\n<</Type /ObjStm /N 2 /First %d /Filter /FlateDecode%s /Length %d>>\nstream\n"
        % (len(hdr) + 1, parms, len(comp))
        + comp + b"\nendstream\nendobj\n"
        + b"3 0 obj\n<</Length %d>>\nstream\n" % len(content)
        + content + b"\nendstream\nendobj\n%%EOF\n"
    )


def test_object_stream_unpacked():
    content = obj(72, 700, "body text lives behind an object stream").encode()
    for predictor in (False, True):
        text, spans = extract_pdf(_objstm_doc(content, predictor))
        assert text == "body text lives behind an object stream", predictor


def test_objstm_flat_twin_byte_identity():
    """Corpus v4 variant: the ObjStm-packed layout extracts byte-identical
    text+spans to its flat twin built from the same rng draws (incl. the
    /ToUnicode CMap font composing with ObjStm unpacking)."""
    import random

    from document_ai_spark.sources.pages import _BASE_VOCAB, _pdf_page_v4

    for s in range(25):
        flat = _pdf_page_v4(random.Random(s), _BASE_VOCAB["en"], 8, packed=False)
        packed = _pdf_page_v4(random.Random(s), _BASE_VOCAB["en"], 8)
        assert not packed.startswith(flat)  # genuinely different layouts
        assert extract_pdf(packed) == extract_pdf(flat)
        assert len(extract_pdf(packed)[0]) > 50


def test_xref_stream_scanned_over():
    """A /Type /XRef cross-reference stream (predictor'd binary) must not
    disturb extraction — the scan-based kernel never needs its offsets."""
    import random

    from document_ai_spark.sources.pages import _BASE_VOCAB, _pdf_page_v4

    payload = _pdf_page_v4(random.Random(3), _BASE_VOCAB["en"], 6)
    assert b"/Type /XRef" in payload and b"startxref" in payload
    text, _ = extract_pdf(payload)
    assert len(text) > 50 and "XRef" not in text


def test_predictor_roundtrip_fuzz():
    """PNG predictors 10..15 (rotating row filters incl. Average/Paeth via
    the media-kernel unfilter) and TIFF predictor 2 round-trip through
    _decode_filters for random geometries; ragged input isolates to b''."""
    import random
    import zlib

    from document_ai_spark.kernel.pdf_extract import _decode_filters

    rng = random.Random(99)
    for _ in range(150):
        cols = rng.randrange(1, 20)
        nrows = rng.randrange(1, 30)
        data = bytes(rng.randrange(256) for _ in range(cols * nrows))
        filtered = bytearray()
        prev = bytes(cols)
        for r0 in range(0, len(data), cols):
            row = data[r0 : r0 + cols]
            ft = rng.choice((0, 1, 2))
            filtered.append(ft)
            if ft == 0:
                filtered += row
            elif ft == 1:
                filtered += bytes((row[i] - (row[i - 1] if i else 0)) & 0xFF for i in range(cols))
            else:
                filtered += bytes((row[i] - prev[i]) & 0xFF for i in range(cols))
            prev = row
        head = (
            b"<</Filter /FlateDecode /DecodeParms <</Predictor 12 /Columns %d>> /Length 0>>"
            % cols
        )
        assert _decode_filters(head, zlib.compress(bytes(filtered))) == data
    # TIFF predictor 2, multi-component
    for _ in range(50):
        cols, colors, nrows = rng.randrange(1, 12), rng.randrange(1, 4), rng.randrange(1, 20)
        data = bytes(rng.randrange(256) for _ in range(cols * colors * nrows))
        out = bytearray()
        for r0 in range(0, len(data), cols * colors):
            row = bytearray(data[r0 : r0 + cols * colors])
            for i in range(len(row) - 1, colors - 1, -1):
                row[i] = (row[i] - row[i - colors]) & 0xFF
            out += row
        head = (
            b"<</Filter /FlateDecode /DecodeParms <</Predictor 2 /Columns %d /Colors %d>> /Length 0>>"
            % (cols, colors)
        )
        assert _decode_filters(head, zlib.compress(bytes(out))) == data
    # ragged rows isolate, never throw
    bad = zlib.compress(b"\x02" + b"x" * 5)
    head = b"<</Filter /FlateDecode /DecodeParms <</Predictor 12 /Columns 9>>>>"
    assert _decode_filters(head, bad) == b""


def test_malformed_objstm_isolated():
    """Garbage /N //First, non-integer header, truncated data: the object
    stream contributes nothing but the document still extracts the
    objects it can see."""
    import zlib

    content = obj(72, 700, "visible despite broken objstm").encode()
    pages = (
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n"
        b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n"
    )
    for stm in (
        b"<</Type /ObjStm /N 2 /First 9999 /Filter /FlateDecode /Length %d>>\nstream\n%s\nendstream\n"
        % (len(zlib.compress(b"1 0 2 5\nxx yy")), zlib.compress(b"1 0 2 5\nxx yy")),
        b"<</Type /ObjStm /N 2 /Filter /FlateDecode /Length 5>>\nstream\nAAAAA\nendstream\n",
        b"<</Type /ObjStm /N 2 /First 10 /Length 3>>\nstream\nnot an int header\nendstream\n",
    ):
        payload = (
            b"%PDF-1.5\n" + pages + b"8 0 obj\n" + stm + b"endobj\n"
            + b"3 0 obj\n<</Length %d>>\nstream\n" % len(content)
            + content + b"\nendstream\nendobj\n%%EOF\n"
        )
        assert extract_pdf(payload)[0] == "visible despite broken objstm"


def test_objstm_does_not_shadow_direct_definition():
    """Incremental-update precedence: a top-level `N 0 obj` wins over a
    same-numbered object packed in an ObjStm."""
    import zlib

    good = obj(72, 700, "direct definition wins").encode()
    o1 = b"<</Type /Pages /Kids [2 0 R]>>"
    o2 = b"<</Type /Page /Contents 4 0 R>>"  # packed page points elsewhere
    hdr = b"1 0 2 %d" % (len(o1) + 1)
    comp = zlib.compress(hdr + b"\n" + o1 + b"\n" + o2 + b"\n")
    payload = (
        b"%PDF-1.5\n"
        + b"2 0 obj\n<</Type /Page /Contents 3 0 R>>\nendobj\n"
        + b"9 0 obj\n<</Type /ObjStm /N 2 /First %d /Filter /FlateDecode /Length %d>>\nstream\n"
        % (len(hdr) + 1, len(comp))
        + comp + b"\nendstream\nendobj\n"
        + b"3 0 obj\n<</Length %d>>\nstream\n" % len(good)
        + good + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert extract_pdf(payload)[0] == "direct definition wins"


# ---------------------------------------------------------------------------
# font width metrics (/Widths, CID /W): real glyph advances


def _widths_doc(content: bytes, font_extra: bytes = b"") -> bytes:
    # F1: simple font, space=250 units, every other glyph 500 units
    widths = b" ".join(b"250" if i == 0 else b"500" for i in range(91))
    return _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F1 4 0 R>>>> /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\n" + content + b"\nendstream\nendobj\n",
        b"4 0 obj\n<</Type /Font /Subtype /Type1 /FirstChar 32 /Widths ["
        + widths + b"]" + font_extra + b">>\nendobj\n",
    )


def test_widths_segmented_writing_concatenates():
    # size 10: each glyph advances 5 pt. Successive Tj ops and an
    # exactly-abutting Td restart are ONE word; a 3 pt gap is a space.
    content = (
        b"BT /F1 10 Tf 100 700 Td (Hel) Tj (lo) Tj ET\n"        # cursor advance
        b"BT /F1 10 Tf 100 690 Td (wor) Tj ET\n"
        b"BT /F1 10 Tf 115 690 Td (ld) Tj ET\n"                  # 115 = 100+3*5
        b"BT /F1 10 Tf 100 680 Td (Hello) Tj ET\n"
        b"BT /F1 10 Tf 128 680 Td (world) Tj ET"                 # gap 3 > 1.5
    )
    assert extract_pdf(_widths_doc(content))[0] == "Hello world Hello world"


def test_widths_without_metrics_keeps_historical_spacing():
    # same segmented writing, font WITHOUT /Widths: every item boundary
    # stays a space (the pre-metrics behavior, pinned)
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F1 4 0 R>>>> /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\nBT /F1 10 Tf 100 700 Td (Hel) Tj (lo) Tj ET\nendstream\nendobj\n",
        b"4 0 obj\n<</Type /Font /Subtype /Type1>>\nendobj\n",
    )
    assert extract_pdf(payload)[0] == "Hel lo"


def test_widths_tj_space_threshold_uses_space_glyph():
    # space glyph is 250 units -> kern cut at -125: -150 IS a word space
    # (the fixed -180 heuristic would have missed it), -100 is kerning
    content = (
        b"BT /F1 10 Tf 100 700 Td [(A) -150 (B)] TJ ET\n"
        b"BT /F1 10 Tf 100 686 Td [(C) -100 (D)] TJ ET"
    )
    assert extract_pdf(_widths_doc(content))[0] == "A B CD"


def test_widths_tj_kern_moves_cursor():
    # TJ kern advances the cursor too: next Tj lands exactly at the end
    # (2 glyphs = 10 pt, minus 100/1000*10 = 1 pt kern -> x_end 109)
    content = (
        b"BT /F1 10 Tf 100 700 Td [(ab) -100] TJ ET\n"
        b"BT /F1 10 Tf 109 700 Td (cd) Tj ET"
    )
    assert extract_pdf(_widths_doc(content))[0] == "abcd"


def test_widths_indirect_array_and_missing_width():
    # /Widths as an indirect ref + /MissingWidth from the FontDescriptor:
    # 'Z' (not covered: FirstChar 97, 1 entry for 'a') advances 800 units
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F1 4 0 R>>>> /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\nBT /F1 10 Tf 100 700 Td (Z) Tj (a) Tj ET\nendstream\nendobj\n",
        b"4 0 obj\n<</Type /Font /FirstChar 97 /Widths 5 0 R /FontDescriptor 6 0 R>>\nendobj\n",
        b"5 0 obj\n[400]\nendobj\n",
        b"6 0 obj\n<</Type /FontDescriptor /MissingWidth 800>>\nendobj\n",
    )
    from document_ai_spark.kernel.pdf_extract import _parse_items, _split_pages

    (stream, fonts), = _split_pages(payload)
    items = _parse_items(stream, fonts)
    # Z: x 100 -> 108 (800 units @ 10); a abuts at 108 -> 112 (400 units)
    assert items == [(100, 700, 10, "Z", 108), (108, 700, 10, "a", 112)]
    assert extract_pdf(payload)[0] == "Za"


def test_cid_w_widths_two_byte_codes():
    # CID font: /W [0 [500 600]] /DW 1000, 2-byte ToUnicode codespace.
    # <00000001> shows "XY" advancing (500+600)/1000*10 = 11 pt; the next
    # <0000> starts exactly there -> concatenated "XYX"
    cmap = (
        b"begincmap\n1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"2 beginbfchar\n<0000> <0058>\n<0001> <0059>\nendbfchar\nendcmap\n"
    )
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F2 4 0 R>>>> /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\nBT /F2 10 Tf 100 700 Td <00000001> Tj <0000> Tj ET\nendstream\nendobj\n",
        b"4 0 obj\n<</Type /Font /Subtype /Type0 /DescendantFonts [9 0 R] /ToUnicode 10 0 R>>\nendobj\n",
        b"9 0 obj\n<</Subtype /CIDFontType2 /DW 1000 /W [0 [500 600]]>>\nendobj\n",
        b"10 0 obj\n<</Length " + str(len(cmap)).encode() + b">>\nstream\n" + cmap + b"\nendstream\nendobj\n",
    )
    from document_ai_spark.kernel.pdf_extract import _parse_items, _split_pages

    (stream, fonts), = _split_pages(payload)
    items = _parse_items(stream, fonts)
    assert items == [(100, 700, 10, "XY", 111), (111, 700, 10, "X", 116)]
    assert extract_pdf(payload)[0] == "XYX"


def test_widths_corpus_v5_segmented_equals_flat_twin():
    # the corpus generator's width-metrics variant: segmented writing
    # (positioned word gaps, sub-180 TJ kern spaces) must extract
    # byte-identically to the plain writing of the same rng draws
    import random

    from document_ai_spark.sources.pages import _BASE_VOCAB, _pdf_page_v5

    for seed in range(12):
        seg = extract_pdf(_pdf_page_v5(random.Random(seed), _BASE_VOCAB["en"], 8))
        flat = extract_pdf(
            _pdf_page_v5(random.Random(seed), _BASE_VOCAB["en"], 8, flat=True)
        )
        assert seg[0] == flat[0]
        assert " " in seg[0]  # the positioned gaps really became spaces


def test_tc_tw_tz_feed_the_cursor():
    from document_ai_spark.kernel.pdf_extract import _parse_items, _split_pages

    # Tc: 2 pt/glyph letterspacing -> 'ab' advances 2*5 + 2*2 = 14 pt; the
    # next Tj starts there and abuts
    content = (
        b"BT /F1 10 Tf 2 Tc 100 700 Td (ab) Tj (cd) Tj ET\n"
        # Tw: word spacing widens the space GLYPH's advance: 'a b' = 5
        # + 2.5 + 8 + 5 = 20.5 -> next fragment abuts at 120.5
        b"BT /F1 10 Tf 0 Tc 8 Tw 100 686 Td (a b) Tj (c) Tj ET\n"
        # Tz 200%: doubles every advance -> 'ab' spans 20 pt
        b"BT /F1 10 Tf 0 Tw 200 Tz 100 672 Td (ab) Tj (cd) Tj ET"
    )
    payload = _widths_doc(content)
    (stream, fonts), = _split_pages(payload)
    items = _parse_items(stream, fonts)
    assert items[0] == (100, 700, 10, "ab", 114)
    assert items[1][0] == 114 and items[1][3] == "cd"  # abuts after Tc
    assert items[2] == (100, 686, 10, "a b", 120) or items[2] == (100, 686, 10, "a b", 121)
    assert items[3][0] == items[2][4]  # abuts after Tw-widened space
    assert items[4] == (100, 672, 10, "ab", 120)  # Tz doubled
    # all three lines read as single words/phrases, not split
    text = extract_pdf(payload)[0]
    assert "abcd" in text and "a bc" in text


def test_mixed_width_codespace_cmap():
    # one CMap, TWO codespace widths (§9.7.6.2): 1-byte <00><7F> ASCII,
    # 2-byte <8000><FFFF> CJK-style. 0x41 (1-byte) and 0x8000 (2-byte)
    # are distinct codes; bytes outside every range isolate as U+FFFD.
    cmap = (
        b"begincmap\n2 begincodespacerange\n<00> <7F>\n<8000> <FFFF>\nendcodespacerange\n"
        b"1 beginbfrange\n<41> <5A> <0041>\nendbfrange\n"
        b"2 beginbfchar\n<8000> <4E00>\n<8001> <4E8C>\nendbfchar\nendcmap\n"
    )
    shown = bytes([0x41, 0x80, 0x00, 0x42, 0x80, 0x01])  # A, 一, B, 二
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F5 4 0 R>>>> /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\nBT /F5 12 Tf 72 700 Td <"
        + shown.hex().encode("ascii") + b"> Tj ET\nendstream\nendobj\n",
        b"4 0 obj\n<</Type /Font /ToUnicode 6 0 R>>\nendobj\n",
        b"6 0 obj\n<</Length " + str(len(cmap)).encode() + b">>\nstream\n" + cmap + b"\nendstream\nendobj\n",
    )
    assert extract_pdf(payload)[0] == "A一B二"


def test_mixed_width_codespace_unmatched_byte_isolates():
    from document_ai_spark.kernel.pdf_extract import _parse_cmap, _shown_text

    space, cmap = _parse_cmap(
        b"begincmap\n2 begincodespacerange\n<00> <3F>\n<8000> <80FF>\nendcodespacerange\n"
        b"1 beginbfchar\n<20> <0058>\nendbfchar\n"
        b"1 beginbfrange\n<21> <3F> <0041>\nendbfrange\nendcmap\n"
    )
    assert space == ((1, 0x00, 0x3F), (2, 0x8000, 0x80FF))
    # 0x50 matches NO codespace range -> U+FFFD, consume one byte; the
    # 0x80 0x10 pair lands in the 2-byte range but has no mapping -> FFFD
    assert _shown_text(bytes([0x21, 0x50, 0x20, 0x80, 0x10]), space, cmap) == "A�X�"


def test_mixed_width_codespace_with_cid_widths():
    # metrics keyed by code: 1-byte 'A' (0x41) 500 units, 2-byte 0x8000
    # 1000 units (DW). Successive shows abut through the mixed advance.
    from document_ai_spark.kernel.pdf_extract import _parse_items, _split_pages

    cmap = (
        b"begincmap\n2 begincodespacerange\n<00> <7F>\n<8000> <FFFF>\nendcodespacerange\n"
        b"1 beginbfrange\n<41> <5A> <0041>\nendbfrange\n"
        b"2 beginbfchar\n<8000> <4E00>\nendbfchar\nendcmap\n"
    )
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F5 4 0 R>>>> /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\nBT /F5 10 Tf 100 700 Td <41 8000> Tj <42> Tj ET\nendstream\nendobj\n",
        b"4 0 obj\n<</Type /Font /Subtype /Type0 /DescendantFonts [9 0 R] /ToUnicode 6 0 R>>\nendobj\n",
        b"9 0 obj\n<</Subtype /CIDFontType2 /DW 1000 /W [65 66 500]>>\nendobj\n",
        b"6 0 obj\n<</Length " + str(len(cmap)).encode() + b">>\nstream\n" + cmap + b"\nendstream\nendobj\n",
    )
    (stream, fonts), = _split_pages(payload)
    items = _parse_items(stream, fonts)
    # A (500u=5pt) + 一 (1000u=10pt) -> x_end 115; B abuts there
    assert items == [(100, 700, 10, "A一", 115), (115, 700, 10, "B", 120)]
    assert extract_pdf(payload)[0] == "A一B"


def test_mixed_cmap_empty_map_stays_transparent():
    # review regression: a mixed-width CMap whose bfchar/bfrange sections
    # parse to NOTHING must leave the font byte-transparent (the truthy
    # ranges tuple must not masquerade as a usable map)
    from document_ai_spark.kernel.pdf_extract import _split_pages

    cmap = (
        b"begincmap\n2 begincodespacerange\n<00> <7F>\n<8000> <FFFF>\n"
        b"endcodespacerange\nendcmap\n"
    )
    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F5 4 0 R>>>> /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\nBT /F5 12 Tf 72 700 Td (hello) Tj ET\nendstream\nendobj\n",
        b"4 0 obj\n<</Type /Font /ToUnicode 6 0 R>>\nendobj\n",
        b"6 0 obj\n<</Length " + str(len(cmap)).encode() + b">>\nstream\n" + cmap + b"\nendstream\nendobj\n",
    )
    assert extract_pdf(payload)[0] == "hello"


def test_mixed_cmap_ascii_passthrough():
    # review regression: in-codespace but unmapped 1-byte ASCII codes pass
    # through (the Shift-JIS-style CMap that maps only the CJK range)
    from document_ai_spark.kernel.pdf_extract import _parse_cmap, _shown_text

    space, cmap = _parse_cmap(
        b"begincmap\n2 begincodespacerange\n<00> <7F>\n<8000> <FFFF>\nendcodespacerange\n"
        b"1 beginbfchar\n<8000> <4E00>\nendbfchar\nendcmap\n"
    )
    assert space == ((1, 0x00, 0x7F), (2, 0x8000, 0xFFFF))
    assert _shown_text(b"Hi \x80\x00!", space, cmap) == "Hi 一!"
    # non-ASCII unmapped 1-byte still isolates (parity with uniform path)
    assert _shown_text(bytes([0x7F]), space, cmap) == "\x7f"


def test_mixed_cmap_split_codespacerange_blocks():
    # review regression: widths split across TWO codespacerange blocks
    # must still be detected as mixed
    from document_ai_spark.kernel.pdf_extract import _parse_cmap, _shown_text

    space, cmap = _parse_cmap(
        b"begincmap\n"
        b"1 begincodespacerange\n<00> <7F>\nendcodespacerange\n"
        b"1 begincodespacerange\n<8000> <FFFF>\nendcodespacerange\n"
        b"1 beginbfchar\n<8001> <4E8C>\nendbfchar\nendcmap\n"
    )
    assert space == ((1, 0x00, 0x7F), (2, 0x8000, 0xFFFF))
    assert _shown_text(b"A\x80\x01", space, cmap) == "A二"


def test_cid_widths_without_tounicode_consume_pairwise():
    # review regression: a Type0 font with /W metrics but NO usable
    # ToUnicode must still advance by 2-byte codes, not per byte
    from document_ai_spark.kernel.pdf_extract import _parse_items, _split_pages

    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F2 4 0 R>>>> /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\nBT /F2 10 Tf 100 700 Td <00200021> Tj <0022> Tj ET\nendstream\nendobj\n",
        b"4 0 obj\n<</Type /Font /Subtype /Type0 /DescendantFonts [9 0 R]>>\nendobj\n",
        b"9 0 obj\n<</Subtype /CIDFontType2 /DW 500 /W [32 34 400]>>\nendobj\n",
    )
    (stream, fonts), = _split_pages(payload)
    items = _parse_items(stream, fonts)
    # two CIDs of 400 units @ size 10 = 8 pt (NOT four byte-lookups); the
    # second show abuts at 108 and advances one more CID to 112. Note the
    # low byte 0x20 must NOT count as a Tw-eligible space (2-byte code).
    assert [(it[0], it[4]) for it in items] == [(100, 108), (108, 112)]


def test_cid_font_without_tounicode_odd_trailing_byte_is_a_default_glyph():
    # 2-byte codespace, 3 shown bytes: the code 0x0020 and a trailing
    # byte that makes no whole code; that byte is one glyph of the
    # default width (§9.7.6.3 .notdef), so 2 x 500 units @ 10 pt = 10 pt
    from document_ai_spark.kernel.pdf_extract import _parse_items, _split_pages

    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F2 4 0 R>>>> /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\nBT /F2 10 Tf 100 700 Td <002000> Tj ET\nendstream\nendobj\n",
        b"4 0 obj\n<</Type /Font /Subtype /Type0 /DescendantFonts [9 0 R]>>\nendobj\n",
        b"9 0 obj\n<</Subtype /CIDFontType2 /DW 500>>\nendobj\n",
    )
    (stream, fonts), = _split_pages(payload)
    assert [(it[0], it[4]) for it in _parse_items(stream, fonts)] == [(100, 110)]


def _tounicode_doc(cmap: bytes, shown_hex: bytes) -> bytes:
    return _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F5 4 0 R>>>> /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\nBT /F5 12 Tf 72 700 Td <" + shown_hex + b"> Tj ET\nendstream\nendobj\n",
        b"4 0 obj\n<</Type /Font /ToUnicode 6 0 R>>\nendobj\n",
        b"6 0 obj\n<</Length " + str(len(cmap)).encode() + b">>\nstream\n" + cmap + b"\nendstream\nendobj\n",
    )


def test_partial_one_byte_codespace_still_consumes_every_byte():
    # a one-width codespace is the full range of that width: 0x10 and
    # 0x7F lie outside <20> <7E> but are still 1-byte codes, unmapped,
    # so ASCII passes through
    cmap = (
        b"begincmap\n1 begincodespacerange\n<20> <7E>\nendcodespacerange\n"
        b"1 beginbfchar\n<41> <0058>\nendbfchar\nendcmap\n"
    )
    assert extract_pdf(_tounicode_doc(cmap, b"41107F"))[0] == "X\x10\x7f"


def test_short_source_keys_at_the_codespace_width():
    # <41> in a 2-byte map is the code 0x0041; the 3-byte source
    # <000042> fits no 2-byte code and is dropped, so 0x0042 is unmapped
    cmap = (
        b"begincmap\n1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"2 beginbfchar\n<41> <0058>\n<000042> <0059>\nendbfchar\nendcmap\n"
    )
    assert extract_pdf(_tounicode_doc(cmap, b"00410042"))[0] == "X\ufffd"


def test_uniform_three_byte_codespace_consumes_three_bytes():
    # one rule for every width: a 3-byte codespace makes 3-byte codes
    cmap = (
        b"begincmap\n1 begincodespacerange\n<000000> <FFFFFF>\nendcodespacerange\n"
        b"1 beginbfchar\n<000041> <0058>\nendbfchar\nendcmap\n"
    )
    assert extract_pdf(_tounicode_doc(cmap, b"000041"))[0] == "X"


def test_descendantfonts_indirect_array():
    # review regression: '/DescendantFonts 12 0 R' -> object 12 is the
    # ARRAY '[13 0 R]' -> metrics come from object 13
    from document_ai_spark.kernel.pdf_extract import _parse_items, _split_pages

    payload = _doc(
        b"1 0 obj\n<</Type /Pages /Kids [2 0 R]>>\nendobj\n",
        b"2 0 obj\n<</Type /Page /Resources <</Font <</F2 4 0 R>>>> /Contents 3 0 R>>\nendobj\n",
        b"3 0 obj\nstream\nBT /F2 10 Tf 100 700 Td <0041> Tj ET\nendstream\nendobj\n",
        b"4 0 obj\n<</Type /Font /Subtype /Type0 /DescendantFonts 12 0 R>>\nendobj\n",
        b"12 0 obj\n[13 0 R]\nendobj\n",
        b"13 0 obj\n<</Subtype /CIDFontType2 /DW 600>>\nendobj\n",
    )
    (stream, fonts), = _split_pages(payload)
    items = _parse_items(stream, fonts)
    assert [(it[0], it[4]) for it in items] == [(100, 106)]  # 600u @ 10pt


# ---------------------------------------------------------------------------
# round 5: xref-driven object precedence (incremental updates) + /Encrypt


def _classic_rev1(old_text: bytes) -> tuple:
    """Flat revision-1 file (pages tree, page -> contents 3, classic xref
    table + trailer + startxref). -> (bytes, xref offset)."""
    content = b"BT /F1 12 Tf 72 400 Td (" + old_text + b") Tj ET"
    buf = b"%PDF-1.5\n"
    offsets = {}
    for num, body in (
        (1, b"<</Type /Pages /Kids [2 0 R]>>\nendobj\n"),
        (2, b"<</Type /Page /Contents 3 0 R>>\nendobj\n"),
        (3, b"<</Length %d>>\nstream\n" % len(content) + content + b"\nendstream\nendobj\n"),
    ):
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + body
    xref_off = len(buf)
    buf += (
        b"xref\n0 4\n0000000000 65535 f \n"
        + b"".join(b"%010d 00000 n \n" % offsets[n] for n in (1, 2, 3))
        + b"trailer\n<</Size 4 /Root 1 0 R>>\nstartxref\n%d\n%%%%EOF\n" % xref_off
    )
    return buf, xref_off


def _append_update(rev1: bytes, xref1_off: int, new_text: bytes) -> bytes:
    """Append revision 2: replacement page object 2 (-> /Contents 5)
    PACKED in an ObjStm, flat content 5, xref STREAM with /Prev — the
    layout where byte order alone keeps the stale flat page object."""
    import zlib

    content = b"BT /F1 12 Tf 72 400 Td (" + new_text + b") Tj ET"
    content5 = (
        b"5 0 obj\n<</Length %d>>\nstream\n" % len(content) + content + b"\nendstream\nendobj\n"
    )
    member = b"<</Type /Page /Contents 5 0 R>>"
    comp = zlib.compress(b"2 0\n" + member + b"\n")
    objstm = (
        b"9 0 obj\n<</Type /ObjStm /N 1 /First 4 /Filter /FlateDecode /Length %d>>\nstream\n"
        % len(comp) + comp + b"\nendstream\nendobj\n"
    )
    buf = rev1
    off9 = len(buf); buf += objstm
    off5 = len(buf); buf += content5
    off10 = len(buf)
    rows = [
        (2, bytes((2,)) + (9).to_bytes(3, "big") + bytes((0,))),
        (5, bytes((1,)) + off5.to_bytes(3, "big") + bytes((0,))),
        (9, bytes((1,)) + off9.to_bytes(3, "big") + bytes((0,))),
        (10, bytes((1,)) + off10.to_bytes(3, "big") + bytes((0,))),
    ]
    xcomp = zlib.compress(b"".join(r for _, r in rows))
    index = b" ".join(b"%d 1" % n for n, _ in rows)
    return buf + (
        b"10 0 obj\n<</Type /XRef /Size 11 /Index [%s] /W [1 3 1] /Root 1 0 R "
        b"/Prev %d /Filter /FlateDecode /Length %d>>\nstream\n"
        % (index, xref1_off, len(xcomp))
        + xcomp + b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF\n" % off10
    )


def test_incremental_update_newest_generation_wins():
    rev1, xoff = _classic_rev1(b"OLD superseded body text")
    updated = _append_update(rev1, xoff, b"NEW current body text")
    assert extract_pdf(rev1)[0] == "OLD superseded body text"
    assert extract_pdf(updated)[0] == "NEW current body text"


def test_incremental_update_matches_single_revision_twin():
    # generator twin: same draws, one clean revision == two-revision file
    import random

    from document_ai_spark.sources.pages import _BASE_VOCAB, _pdf_page_v6

    for seed in (0, 7, 99):
        upd = _pdf_page_v6(random.Random(seed), _BASE_VOCAB["en"], 8)
        twin = _pdf_page_v6(random.Random(seed), _BASE_VOCAB["en"], 8, single_revision=True)
        t_upd, s_upd = extract_pdf(upd)
        t_twin, s_twin = extract_pdf(twin)
        assert t_upd and t_upd == t_twin
        assert s_upd == s_twin


def test_broken_xref_falls_back_to_scan():
    # startxref points into garbage: round-4 behavior (flat scan, later
    # definition wins) must survive untouched
    rev1, xoff = _classic_rev1(b"scan fallback body")
    broken = rev1.replace(b"startxref\n%d" % xoff, b"startxref\n999999")
    assert extract_pdf(broken)[0] == "scan fallback body"


def test_classic_xref_flat_update_precedence():
    # both generations FLAT, classic tables chained by /Prev: xref (and
    # the scan fallback) agree — newest wins
    rev1, xoff1 = _classic_rev1(b"first body")
    content = b"BT /F1 12 Tf 72 400 Td (second body) Tj ET"
    off3 = len(rev1)
    buf = rev1 + b"3 0 obj\n<</Length %d>>\nstream\n" % len(content) + content + b"\nendstream\nendobj\n"
    xoff2 = len(buf)
    buf += (
        b"xref\n3 1\n%010d 00000 n \ntrailer\n<</Size 4 /Root 1 0 R /Prev %d>>\n"
        b"startxref\n%d\n%%%%EOF\n" % (off3, xoff1, xoff2)
    )
    assert extract_pdf(buf)[0] == "second body"


def test_encrypted_pdf_is_labeled_not_decoded():
    from document_ai_spark.sources.pages import _ENCRYPTED_PDF

    doc_hash, kind, text, spans, n_chars, n_blocks, err = extract_document(_ENCRYPTED_PDF)
    assert kind == "error" and err == "encrypted"
    assert text == "" and spans == [] and n_chars == 0

    # /Encrypt via an xref STREAM dict (no classic trailer in the tail)
    rev1, xoff = _classic_rev1(b"body")
    updated = _append_update(rev1, xoff, b"new body")
    enc = updated.replace(b"/W [1 3 1] /Root 1 0 R", b"/W [1 3 1] /Root 1 0 R /Encrypt 4 0 R")
    assert extract_document(enc)[6] == "encrypted"


def test_encrypt_inside_content_stream_is_not_a_false_positive():
    # the literal '/Encrypt' INSIDE page content must not label the doc:
    # detection is scoped to the file's last trailer dict / xref chain
    # heads — even when the page text spells out a whole trailer dict
    for text in (
        "mentions /Encrypt in running text prose",
        "trailer << /Encrypt 5 0 R >>",
    ):
        assert extract_document(pdf(obj(72, 700, text)))[1] == "pdf", text


def test_xref_chain_is_total_on_garbage():
    """The xref walk must never throw (except the deliberate
    EncryptedPdfError) and never corrupt scan results on adversarial
    input: random bytes, truncated chains, self-referencing /Prev loops,
    offsets out of range."""
    import random as _random

    from document_ai_spark.kernel.pdf_extract import EncryptedPdfError, _scan_objects

    rng = _random.Random(99)
    base, xoff = _classic_rev1(b"stable body text")
    for trial in range(60):
        payload = bytearray(base)
        # random mutations biased at the tail (where the chain lives)
        for _ in range(rng.randint(1, 12)):
            i = rng.randrange(max(1, len(payload) - 200), len(payload))
            payload[i] = rng.randrange(256)
        try:
            objs = _scan_objects(bytes(payload))
            assert isinstance(objs, dict)
        except EncryptedPdfError:
            pass  # a mutation can legitimately fabricate /Encrypt — labeled, not crashed
    # /Prev pointing at itself must terminate (revision budget)
    looped = base.replace(
        b"trailer\n<</Size 4 /Root 1 0 R>>",
        b"trailer\n<</Size 4 /Root 1 0 R /Prev %d>>" % xoff,
    )
    text, _ = extract_pdf(looped)
    assert text == "stable body text"
    # startxref far out of range
    oor = base.replace(b"startxref\n%d" % xoff, b"startxref\n99999999")
    assert extract_pdf(oor)[0] == "stable body text"


def test_classic_multi_entry_table_overrides_later_decoy():
    """Review regression (round 5): _XREF_ENTRY_RE stalled on the
    ' \\n' entry separator, so every classic table with 2+ entries
    returned None and xref precedence silently never applied. This case
    is LOAD-BEARING: a rebuilt file carries an orphaned garbage decoy
    '3 0 obj' AFTER the real one — byte-order scan keeps the decoy; only
    the (multi-entry) classic table rescues the true body."""
    rev1, xoff = _classic_rev1(b"true body via xref")
    decoy = (
        b"3 0 obj\n<</Length 44>>\nstream\n"
        b"BT /F1 12 Tf 72 400 Td (DECOY stale body) Tj ET\nendstream\nendobj\n"
    )
    # append the decoy between the table and a re-pointed startxref: the
    # scan sees it LAST (wins by byte order); the table still points at
    # the original object 3
    payload = rev1.replace(b"%%EOF\n", b"") + decoy + b"startxref\n%d\n%%%%EOF\n" % xoff
    assert extract_pdf(payload)[0] == "true body via xref"


def test_encrypted_classic_trailer_beyond_tail_window():
    """/Encrypt in a classic trailer pushed >4KB from EOF by appended
    updates: the tail probe misses it, the CHAIN walk must catch it."""
    rev1, xoff = _classic_rev1(b"secret body")
    enc = rev1.replace(
        b"trailer\n<</Size 4 /Root 1 0 R>>",
        b"trailer\n<</Size 4 /Root 1 0 R /Encrypt 9 0 R>>",
    )
    # startxref offset is unchanged (the trailer edit is after the table
    # start); re-point it explicitly and push the trailer out of the tail
    pad = b"% incremental update padding\n" * 200  # ~5.8 KB
    payload = enc.replace(b"%%EOF\n", b"") + pad + b"startxref\n%d\n%%%%EOF\n" % xoff
    assert len(payload) - payload.find(b"/Encrypt") > 4096
    assert extract_document(payload)[6] == "encrypted"
