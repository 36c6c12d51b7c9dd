"""Fast HTML scanner definitions for the merged block tokenizer.

``html.parser.HTMLParser`` is ~93% of extraction kernel time (its
char-by-char goahead loop + updatepos bookkeeping). The fast path instead
walks the document with ONE compiled alternation (`_SCAN_RE`) — a single
C-level ``search`` per markup construct. Since round 2 the scan loop is
INLINED with the block state machine in
:mod:`document_ai_spark.kernel.html_extract` (`_tokenize_blocks_merged`) —
no per-event callback dispatch, and text inside skipped subtrees bypasses
slicing/unescape. This module keeps the scanner's regex definitions.

Equivalence contract (tested in tests/test_fast_html.py against HTMLParser
on the full synthetic corpus + adversarial fuzz):
  * text runs are unescaped with html.unescape — identical to
    HTMLParser(convert_charrefs=True), which calls unescape on text runs;
  * <script>/<style> content is CDATA until the matching close tag, and is
    NOT unescaped — same as HTMLParser's CDATA_CONTENT_ELEMENTS;
  * comments/declarations/processing instructions are skipped; a lone '<'
    that does not open a tag is data; an unterminated tag at EOF is
    dropped (HTMLParser leaves it buffered).

Divergences (documented):
  * a '/' before '>' is ignored: ``<br/>`` is the void tag br, and a
    non-void ``<x/>`` only OPENS x, as HTML5 does. HTMLParser fires
    starttag then endtag (handle_startendtag), so ``<script/>`` starts a
    CDATA section here that runs to the next ``</script>``, ``<a/>`` opens
    a link and ``<div/>`` a div block (tests/test_fast_html.py pins these);
  * CDATA sections (``<![CDATA[..]]>`` containing '>') and comments
    containing '--!>' may terminate earlier than HTML5 spec; neither
    occurs in sane web text, and the kernel remains total either way.
"""

from __future__ import annotations

import re


_CDATA_ELEMS = ("script", "style")  # HTMLParser's CDATA_CONTENT_ELEMENTS

# case-insensitive close-tag scan on the original string — str.lower() can
# CHANGE LENGTH (e.g. 'İ' U+0130 -> 2 chars), so offsets found in a
# lowered copy must never be used to slice the original
_CDATA_CLOSE_RE = {name: re.compile("</" + name, re.I) for name in _CDATA_ELEMS}


# One alternation matching EVERY construct a '<' can open, tried in the
# same precedence order as the branchy loop it replaced (comment, decl/PI,
# full tag, garbled-tag start, lone '<'). Every '<' matches one branch, so
# the gap between consecutive matches never contains '<' — the whole
# find-next-'<' + classify + match dance collapses into ONE C-level
# search per construct (was ~45% of kernel time as separate calls).
_SCAN_RE = re.compile(
    r"<!--.*?(?:-->|\Z)"                 # comment (to --> or EOF)
    r"|<[!?][^>]*(?:>|\Z)"               # declaration / processing instr
    r"|<(/?)([a-zA-Z][^\t\n\r\f />]*)"   # full tag: closing?, name,
    r"(?:\"[^\"]*\"|'[^']*'|[^>\"'])*>"   # quote-aware attrs (a '/' too)
    r"|<(?=[a-zA-Z/])"                   # garbled tag: drop to next '<'
    r"|<",                               # lone '<' (e.g. '<3'): data
    re.S,
)
