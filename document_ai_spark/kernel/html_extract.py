"""Deterministic main-content extraction from raw HTML bytes.

Readability/trafilatura-style block scoring over a flattened element array,
built on the Python stdlib only (``html.parser``) so the output is
byte-identical across machines, partitions and parallelism levels.

Capability analog of the reference's per-document PDF->markdown conversion
stage (reference: services/ai_service/document_conversion/docling_pdf_loader.py:26-33),
re-targeted at Common-Crawl-style HTML per the north rule. This is a new
kernel, not a port: the reference delegates to the docling library; here the
DOM is tokenized into a flat element/block array and boilerplate is stripped
via text-density + link-density heuristics.

Pipeline (pure function of the input bytes):
  bytes --charset sniff (BOM, then <meta charset>/<meta http-equiv>
         within the first 1024 bytes, WHATWG-style; fallback
         utf-8/errors=replace)--> str
      --HTMLParser tokenize--> flat block array
         (tag, text, n_chars, n_link_chars, n_text_nodes, in_article)
      --score--> keep/drop per block (densities + tag class + length)
      --join kept blocks with "\n\n"--> text + char-span offsets per block

Determinism notes:
  * densities are ratios of integer counts -- IEEE-754 division is
    deterministic; no dict-iteration order, no hash seeding, no wall clock.
  * whitespace is collapsed to single spaces inside a block, blocks joined
    with exactly "\n\n"; the span arithmetic reconstructs the text.
"""

from __future__ import annotations

from dataclasses import dataclass
from html.parser import HTMLParser
from typing import List, Tuple

# Tags whose entire subtree is boilerplate / non-content.
SKIP_TAGS = frozenset(
    """script style noscript template svg head nav header footer aside form
       button select option iframe object embed applet map title
       datalist""".split()
)

# Tags that open a new text block when encountered.
BLOCK_TAGS = frozenset(
    """p div section article main h1 h2 h3 h4 h5 h6 li dd dt td th
       blockquote pre figcaption caption summary body table ul ol dl tr
       figure details""".split()
)

# Content-bearing tags: low length threshold applies.
CONTENT_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li blockquote pre figcaption caption dd dt td th".split()
)

# Void elements (no end tag; never pushed on any stack, checked first).
VOID_TAGS = frozenset(
    "br hr img input wbr source track col param base meta link area".split()
)

# Scoring thresholds (the spec of this engine; pinned by golden files).
MIN_CONTENT_CHARS = 25       # min chars for a CONTENT_TAGS block
MIN_WRAPPER_CHARS = 80       # min chars for a div/section/other block
MAX_LINK_DENSITY_CONTENT = 1.0 / 3.0
MAX_LINK_DENSITY_WRAPPER = 0.2


@dataclass
class Block:
    """One flattened DOM text block."""

    tag: str
    text: str
    n_chars: int
    n_link_chars: int
    n_text_nodes: int
    in_article: bool

    @property
    def link_density(self) -> float:
        return (self.n_link_chars / self.n_chars) if self.n_chars else 0.0

    @property
    def text_density(self) -> float:
        # chars per text node: long uninterrupted prose scores high, link
        # soup (many short anchor texts) scores low.
        return (self.n_chars / self.n_text_nodes) if self.n_text_nodes else 0.0


class _BlockTokenizer(HTMLParser):
    """Flattens the DOM into a list of Blocks. Tolerates malformed HTML:
    stray end tags are ignored, unclosed tags are implicitly closed at EOF."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: List[Block] = []
        self._skip_depth = 0
        self._article_depth = 0
        self._link_depth = 0
        self._cur_tag = "body"
        self._pieces: List[str] = []
        self._link_chars = 0
        self._n_text_nodes = 0
        self._open_skip_tags: List[str] = []

    # -- block buffer management -------------------------------------------
    def _flush(self) -> None:
        if not self._pieces:
            self._link_chars = 0
            self._n_text_nodes = 0
            return
        raw = " ".join(" ".join(self._pieces).split())
        if raw:
            self.blocks.append(
                Block(
                    tag=self._cur_tag,
                    text=raw,
                    n_chars=len(raw),
                    n_link_chars=min(self._link_chars, len(raw)),
                    n_text_nodes=self._n_text_nodes,
                    in_article=self._article_depth > 0,
                )
            )
        self._pieces = []
        self._link_chars = 0
        self._n_text_nodes = 0

    # -- parser callbacks ----------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag in VOID_TAGS:
            return
        if tag in SKIP_TAGS:
            self._skip_depth += 1
            self._open_skip_tags.append(tag)
            self._flush()
            return
        if self._skip_depth:
            return
        if tag in ("article", "main"):
            self._article_depth += 1
        if tag == "a":
            self._link_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()
            self._cur_tag = tag

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            # only pop if it matches an open skip tag (malformed-HTML guard)
            if self._open_skip_tags and tag in self._open_skip_tags:
                # close the innermost matching occurrence
                for i in range(len(self._open_skip_tags) - 1, -1, -1):
                    if self._open_skip_tags[i] == tag:
                        del self._open_skip_tags[i]
                        self._skip_depth -= 1
                        break
            return
        if self._skip_depth:
            return
        if tag in ("article", "main") and self._article_depth > 0:
            self._article_depth -= 1
        if tag == "a" and self._link_depth > 0:
            self._link_depth -= 1
        if tag in BLOCK_TAGS:
            self._flush()
            self._cur_tag = "body"

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        if not data or data.isspace():
            return
        piece = data
        self._pieces.append(piece)
        self._n_text_nodes += 1
        if self._link_depth:
            self._link_chars += len(" ".join(piece.split()))

    def close(self) -> None:  # noqa: D102
        super().close()
        self._flush()


def tokenize_blocks(html_text: str) -> List[Block]:
    """Flatten an HTML string into scored text blocks (malformed-tolerant).

    Runs the merged scanner+state-machine (`_tokenize_blocks_merged`: one
    alternation regex, no per-event callback dispatch, skipped subtrees
    bypass slicing/unescape — ~5x HTMLParser)."""
    try:
        return _tokenize_blocks_merged(html_text)
    except Exception:
        # totality guarantee: never throw; fall back to the reference
        # parser for this document
        return _tokenize_blocks_reference(html_text)


def _tokenize_blocks_reference(html_text: str) -> List[Block]:
    """stdlib HTMLParser driving `_BlockTokenizer`: the reference
    implementation the merged path is equivalence-tested against
    (tests/test_fast_html.py), and its fallback."""
    tok = _BlockTokenizer()
    try:
        tok.feed(html_text)
        tok.close()
    except Exception:
        # keep whatever blocks were produced before the failure point
        tok._flush()
    return tok.blocks


def keep_block(b: Block) -> bool:
    """Readability-style keep/drop decision for one block."""
    if b.n_chars == 0:
        return False
    if b.in_article:
        # inside <article>/<main>: keep everything except pure link lists
        return b.link_density < 0.8
    if b.tag in CONTENT_TAGS:
        return b.n_chars >= MIN_CONTENT_CHARS and b.link_density < MAX_LINK_DENSITY_CONTENT
    # wrapper soup (div/section/...): require more text and fewer links
    return b.n_chars >= MIN_WRAPPER_CHARS and b.link_density < MAX_LINK_DENSITY_WRAPPER


# markdown mode: structural tags -> markdown markers (the HTML analog of
# the reference's export_to_markdown, docling_pdf_loader.py:28; the block
# tokenizer already carries the tag, so this is pure emission)
MD_PREFIX = {
    "h1": "# ", "h2": "## ", "h3": "### ", "h4": "#### ",
    "h5": "##### ", "h6": "###### ", "li": "- ", "blockquote": "> ",
}


# charset sniffing (HTML5 §encoding-sniffing, pragmatic subset): BOMs
# win outright; else a <meta charset=...> / <meta http-equiv
# content-type> declaration in the first 1024 bytes (scannable as ASCII
# in every ASCII-compatible encoding) picks the codec; else utf-8 with
# errors=replace, the round-1 behavior. WHATWG maps the latin-1 family
# to windows-1252 (its 0x80-0x9F block is what pages actually use), and
# a meta claiming utf-16 on a BOM-less stream is treated as utf-8 (the
# meta itself was readable as 8-bit ASCII, so the claim is false).
import re as _re

# scoped to META tags (review find): a bare 'charset=' also appears in
# script-src query strings, link hrefs and comments — honoring those
# would mojibake a correct utf-8 page. Covers both <meta charset=...>
# and <meta http-equiv=content-type content="...; charset=...">.
_CHARSET_RE = _re.compile(
    rb"""<meta[^>]{0,512}?charset\s*=\s*["']?\s*([A-Za-z0-9_.:\-]+)""", _re.I
)
_CP1252_ALIASES = frozenset(
    "iso-8859-1 iso8859-1 latin-1 latin1 windows-1252 cp1252 x-cp1252 ascii us-ascii".split()
)


def decode_html_bytes(payload: bytes) -> str:
    """Charset-sniffed total decode (never raises): BOM > meta > utf-8."""
    if payload[:3] == b"\xef\xbb\xbf":
        return payload[3:].decode("utf-8", errors="replace")
    if payload[:4] == b"\xff\xfe\x00\x00":
        return payload[4:].decode("utf-32-le", errors="replace")
    if payload[:4] == b"\x00\x00\xfe\xff":
        return payload[4:].decode("utf-32-be", errors="replace")
    if payload[:2] == b"\xff\xfe":
        return payload[2:].decode("utf-16-le", errors="replace")
    if payload[:2] == b"\xfe\xff":
        return payload[2:].decode("utf-16-be", errors="replace")
    m = _CHARSET_RE.search(payload[:1024])
    if m:
        enc = m.group(1).decode("ascii", errors="ignore").lower().strip(".")
        if enc in _CP1252_ALIASES:
            return payload.decode("windows-1252", errors="replace")
        if enc.startswith("utf-16") or enc.startswith("utf-32") or enc in ("utf16", "utf32"):
            enc = "utf-8"  # BOM-less 8-bit stream: the claim is false
        try:
            return payload.decode(enc, errors="replace")
        except LookupError:
            pass  # unknown label: fall through to the utf-8 default
    return payload.decode("utf-8", errors="replace")


def extract_html(payload: bytes, markdown: bool = False) -> Tuple[str, List[dict]]:
    """bytes -> (extracted main text, span dicts).

    Span dict: {block_id, char_start, char_end, tag, text_density,
    link_density} with offsets into the returned text (text[s:e] == block).

    ``markdown=True`` emits structured text: h1-h6 blocks get '#'-level
    prefixes, li '- ', blockquote '> ' (reference parity:
    export_to_markdown -> MarkdownTextSplitter chunks on this structure).
    Span offsets include the prefixes so reconstruction still holds.
    """
    html_text = decode_html_bytes(payload)
    blocks = tokenize_blocks(html_text)
    kept = [b for b in blocks if keep_block(b)]
    parts: List[str] = []
    spans: List[dict] = []
    pos = 0
    for i, b in enumerate(kept):
        if i > 0:
            pos += 2  # the "\n\n" joiner
        block_text = (MD_PREFIX.get(b.tag, "") + b.text) if markdown else b.text
        start = pos
        end = start + len(block_text)
        parts.append(block_text)
        spans.append(
            {
                "block_id": i,
                "char_start": start,
                "char_end": end,
                "tag": b.tag,
                "text_density": b.text_density,
                "link_density": b.link_density,
            }
        )
        pos = end
    return "\n\n".join(parts), spans


def _tokenize_blocks_merged(s: str) -> List[Block]:
    """The fast scanner with the _BlockTokenizer state machine INLINED:
    one function, no per-event callback dispatch (~1.1M calls per 6k
    docs), and text inside skipped subtrees (head/nav/script/...) bypasses
    slicing + unescape entirely. Semantics are _BlockTokenizer's, but for
    the divergences fast_html's docstring lists — equivalence-tested
    against HTMLParser on the corpus + fuzz (tests/test_fast_html.py) and
    against the goldens.
    """
    from document_ai_spark.kernel.fast_html import _CDATA_CLOSE_RE, _CDATA_ELEMS, _SCAN_RE

    from html import unescape

    blocks: List[Block] = []
    skip_depth = 0
    open_skip_tags: List[str] = []
    article_depth = 0
    link_depth = 0
    cur_tag = "body"
    pieces: List[str] = []
    link_chars = 0
    n_text_nodes = 0

    def flush() -> None:
        nonlocal pieces, link_chars, n_text_nodes
        if pieces:
            raw = " ".join(" ".join(pieces).split())
            if raw:
                blocks.append(
                    Block(
                        tag=cur_tag,
                        text=raw,
                        n_chars=len(raw),
                        n_link_chars=min(link_chars, len(raw)),
                        n_text_nodes=n_text_nodes,
                        in_article=article_depth > 0,
                    )
                )
            pieces = []
        link_chars = 0
        n_text_nodes = 0

    def data(piece: str) -> None:
        # == _BlockTokenizer.handle_data (skip_depth checked by callers)
        nonlocal link_chars, n_text_nodes
        if not piece or piece.isspace():
            return
        pieces.append(piece)
        n_text_nodes += 1
        if link_depth:
            link_chars += len(" ".join(piece.split()))

    n = len(s)
    pos = 0
    search = _SCAN_RE.search
    find = s.find
    dropping = False
    while True:
        m = search(s, pos)
        if m is None:
            if pos < n and not dropping and not skip_depth:
                data(unescape(s[pos:]))
            break
        lt = m.start()
        if lt > pos and not dropping and not skip_depth:
            data(unescape(s[pos:lt]))
        dropping = False
        closing, name = m.group(1, 2)
        pos = m.end()
        if name is not None:  # full tag
            name = name.lower()
            if not closing:
                # == handle_starttag
                if name in VOID_TAGS:
                    pass
                elif name in SKIP_TAGS:
                    skip_depth += 1
                    open_skip_tags.append(name)
                    if pieces:
                        flush()
                elif not skip_depth:
                    if name in ("article", "main"):
                        article_depth += 1
                    elif name == "a":
                        link_depth += 1
                    if name in BLOCK_TAGS:
                        if pieces:
                            flush()
                        cur_tag = name
                if name not in _CDATA_ELEMS:
                    continue
                # raw CDATA until the close tag; script/style are
                # SKIP_TAGS, so skip_depth >= 1 here and the content is
                # dropped WITHOUT ever being sliced or unescaped
                mc = _CDATA_CLOSE_RE[name].search(s, pos)
                if mc is None:
                    break
                gt = find(">", mc.start())
                pos = n if gt == -1 else gt + 1
            # == handle_endtag: a closing tag or the close of a CDATA
            # element. A void tag's is a no-op: VOID_TAGS shares no name
            # with SKIP_TAGS, BLOCK_TAGS, article/main or a
            if name in SKIP_TAGS:
                if open_skip_tags and name in open_skip_tags:
                    for i in range(len(open_skip_tags) - 1, -1, -1):
                        if open_skip_tags[i] == name:
                            del open_skip_tags[i]
                            skip_depth -= 1
                            break
            elif not skip_depth:
                if name in ("article", "main") and article_depth > 0:
                    article_depth -= 1
                elif name == "a" and link_depth > 0:
                    link_depth -= 1
                if name in BLOCK_TAGS:
                    if pieces:  # empty flush is a no-op; skip the call
                        flush()
                    cur_tag = "body"
        elif pos - lt == 1:
            nc = s[pos : pos + 1]
            if nc == "/" or ("a" <= nc <= "z") or ("A" <= nc <= "Z"):
                dropping = True
            elif not skip_depth:
                data("<")
        # else: comment/declaration/PI — skipped

    flush()
    return blocks
