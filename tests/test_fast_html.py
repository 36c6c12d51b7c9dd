"""Fast HTML scanner equivalence vs the stdlib HTMLParser reference path.

The fast scanner (kernel/fast_html.py) must produce the identical block
stream on the whole synthetic corpus and on structured fuzz. The documented
divergences where the scanner follows HTML5 and HTMLParser does not are
pinned as intended behavior."""

from __future__ import annotations

import random

import pytest

from document_ai_spark.kernel.html_extract import _tokenize_blocks_reference, tokenize_blocks
from document_ai_spark.sources.pages import generate_rows


def _sig(s: str, fast: bool):
    return [
        (b.tag, b.text, b.n_chars, b.n_link_chars, b.n_text_nodes, b.in_article)
        for b in (tokenize_blocks if fast else _tokenize_blocks_reference)(s)
    ]


def test_equivalence_on_corpus():
    n = 0
    for row in generate_rows(400, seed=42):
        p = row["html"]
        if not p or p.startswith(b"%PDF"):
            continue
        s = p.decode("utf-8", errors="replace")
        assert _sig(s, True) == _sig(s, False), row["url"]
        n += 1
    assert n > 300


WELL_FORMED_FRAGMENTS = [
    "<p>", "</p>", "<div>", "</div>", "<a href='x'>", "</a>", "<nav>", "</nav>",
    "<script>", "</script>", "var x = '<p>';", "<!-- a comment -->",
    "text & more &amp; &lt;3 ", "<3 hearts ", "< div>", "<article>", "</article>",
    "<br/>", "<img src=x>", '<b att=">">quoted</b>', "&#65;&#x42;", "\xff�",
    "<P CLASS=UPPER>", "</P>", "<ul><li>item one</li><li>item two</li></ul>",
    "prose with enough characters to be kept as a real content block maybe. ",
]


def test_equivalence_on_fuzz():
    rng = random.Random(7)
    for _ in range(1500):
        s = "".join(
            rng.choice(WELL_FORMED_FRAGMENTS) for _ in range(rng.randint(1, 40))
        )
        assert _sig(s, True) == _sig(s, False), repr(s[:200])


@pytest.mark.parametrize(
    "doc",
    [
        # HTML5: an unterminated comment consumes to EOF (HTMLParser
        # instead flushes the tail back as text on close())
        "<!-- unterminated <p>hello world this is long enough to keep as a block</p>",
        # HTML5: an unterminated tag at EOF is discarded (HTMLParser
        # re-emits '<' + the tail as data)
        "<p>ends with unterminated tag <a href=",
    ],
)
def test_documented_html5_divergences(doc):
    fast, ref = _sig(doc, True), _sig(doc, False)
    assert fast != ref  # intentionally different from HTMLParser
    # and the fast behavior is the HTML5 one: nothing after the
    # unterminated construct leaks into block text
    joined = " ".join(t for _, t, *_ in fast)
    assert "<!--" not in joined and "href=" not in joined


@pytest.mark.parametrize(
    "doc, blocks",
    [
        # the CDATA section runs to a </script> that never comes
        ("<script/><p>kept text here</p>", []),
        ("<a/>var x", [("body", "var x", 5, 5, 1, False)]),  # inside the link
        ("<div/>tail text", [("div", "tail text", 9, 0, 1, False)]),  # in the div
    ],
)
def test_slash_before_close_is_ignored_on_non_void_tags(doc, blocks):
    # HTML5 ignores the '/' of <x/> for a non-void x, so the tag only opens
    # x; HTMLParser fires starttag then endtag, closing it at once
    assert _sig(doc, True) == blocks
    assert _sig(doc, True) != _sig(doc, False)


def test_cdata_offsets_survive_length_changing_lowercase():
    # 'İ' (U+0130) lowercases to TWO chars ('i' + U+0307), so any scheme
    # that finds offsets in s.lower() and slices s with them misaligns.
    # Regression for the round-2 fix: close-tag search must be a
    # case-insensitive scan of the ORIGINAL string.
    doc = (
        "<p>İstanbul prose before the script, long enough to be kept as a "
        "real block of content for scoring.</p>"
        "<script>var x = 1;</script>"
        "<p>İİİİ more prose after the script tag, also long enough to be "
        "kept as a real content block here.</p>"
        "<SCRIPT>skip()</ScRiPt><p>tail block with İ plenty of text to "
        "be retained as content too, yes indeed.</p>"
    )
    fast, ref = _sig(doc, True), _sig(doc, False)
    assert fast == ref
    joined = " ".join(t for _, t, *_ in fast)
    assert "var x" not in joined and "skip()" not in joined
    assert "İstanbul" in joined


def test_fast_is_default_and_total():
    # never throws, even on garbage
    rng = random.Random(3)
    for _ in range(300):
        junk = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 400)))
        s = junk.decode("utf-8", errors="replace")
        tokenize_blocks(s)  # must not raise
