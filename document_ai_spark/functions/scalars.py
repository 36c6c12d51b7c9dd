"""Scalar column functions (SURVEY.md §2.7) — all JVM built-ins.

Each mirrors one scalar behavior of the reference (file:line in the
docstring), expressed as a reusable Column function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sanitize_filename(name: Column) -> Column:
    """F2 — keep [alnum -_.], strip, spaces->underscores
    (reference services/paperless_ingestion/PaperlessIngestion.py:136-140)."""
    kept = F.regexp_replace(name, r"[^A-Za-z0-9 ._-]", "")
    return F.regexp_replace(F.trim(kept), r" ", "_")


def doc_id_from_url(url: Column) -> Column:
    """F3 — numeric id via r'/documents/(\\d+)/?$'
    (reference PaperlessIngestion.py:126-130)."""
    return F.regexp_extract(url, r"/documents/(\d+)/?$", 1)


def strip_trailing_slash(url: Column) -> Column:
    """F4 — url.rstrip('/') (reference PaperlessIngestion.py:34-36)."""
    return F.regexp_replace(url, r"/+$", "")


def default_pdf_suffix(name: Column) -> Column:
    """F5 — append '.pdf' when no extension (reference PaperlessIngestion.py:86-87)."""
    return F.when(~name.rlike(r"\.[^./]+$"), F.concat(name, F.lit(".pdf"))).otherwise(name)


def chunk_id(file_path: Column, index: Column) -> Column:
    """F6 — f"{file_path}_chunk_{i}" (reference document_splitter.py:31)."""
    return F.concat_ws("_chunk_", file_path.cast("string"), index.cast("string"))


# ---------------------------------------------------------------------------
# URL canonicalization (web-pipeline dedup prerequisite: the same page is
# crawled under http/https, with/without www, and with tracking params)


def url_host(url: Column) -> Column:
    """Hostname, lowercased, leading www. stripped."""
    host = F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    return F.regexp_replace(host, r"^www\.", "")


_TRACKING = r"(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*"


def url_strip_tracking(url: Column) -> Column:
    """Remove utm_*/fbclid/gclid query params, preserving everything else
    — including literal '&' in the PATH (legal per RFC 3986), which a
    promote-orphaned-'&' fixup would corrupt. Three ordered passes:
      1. non-first params ('&utm=…') removed (consecutive ones are
         adjacent matches, so one global pass takes them all);
      2. a FIRST param with a successor ('?utm=…&rest') collapses to '?'
         so the successor keeps the '?' — param order cannot change the
         canonical key;
      3. a lone first param ('?utm=…' at end or before '#') vanishes."""
    cleaned = F.regexp_replace(url, r"&" + _TRACKING, "")
    cleaned = F.regexp_replace(cleaned, r"\?" + _TRACKING + r"&", "?")
    cleaned = F.regexp_replace(cleaned, r"\?" + _TRACKING, "")
    # trailing empty '?' (capture-group form: RE2 oracles have no lookahead)
    return F.regexp_replace(cleaned, r"\?($|#)", "$1")


def url_canonicalize(url: Column) -> Column:
    """scheme-insensitive + host-normalized + tracking-stripped + no
    trailing slash: the join/dedup key for crawl URLs."""
    u = url_strip_tracking(F.trim(url))
    u = F.regexp_replace(u, r"^[hH][tT][tT][pP][sS]?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    host_part = F.regexp_extract(u, r"^([^/?#]+)", 1)
    rest = F.substring(u, F.length(host_part) + 1, 1 << 30)
    u = F.concat(F.lower(host_part), rest)
    return F.regexp_replace(u, r"/+$", "")


# ---------------------------------------------------------------------------
# PII scrubbing (training-data pipeline hygiene: emails/IPs/phone-shaped
# spans are masked before text enters a training corpus)

# Patterns are deliberately lookahead-free so java.util.regex (Spark) and
# RE2 (DuckDB oracle) match identical spans. Applied IN ORDER — an email
# must be masked before the phone pattern can eat its digits.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # bounded: 7-15 total digits, <=2 separator chars between digits — an
    # unbounded [\d\s().-] run used to collapse unrelated adjacent number
    # runs (year lists, score tables) into a single <PHONE> token
    ("phone", r"\+?\d(?:[\s().-]{0,2}\d){6,14}", "<PHONE>"),
]


def scrub_pii(text: Column) -> Column:
    """Mask email / SSN-shaped / IPv4 / phone-shaped spans with typed
    placeholder tokens. Pure JVM regexp_replace chain, order-sensitive."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> dict:
    """{kind: count-column} of PII spans in ``text`` — counted on the
    PROGRESSIVELY SCRUBBED text so kinds never double-count each other
    (an email's digits must not also count as a phone)."""
    counts = {}
    cur = text
    for kind, pat, repl in PII_PATTERNS:
        counts[f"n_{kind}"] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, repl)
    return counts
