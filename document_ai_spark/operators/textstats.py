"""Text analysis operators for a training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting.

Everything here is a pure column expression (JVM-side, codegen'd, no
Python). All scores are deterministic rational arithmetic rounded to
fixed precision, so the DuckDB oracle reproduces them exactly.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# marker words per language — mirrors the generator vocabularies
LANG_MARKERS = {
    "en": ["the", "and", "with", "over"],
    "de": ["der", "und", "mit", "über"],
    "es": ["el", "sobre", "con", "muchas"],
    "fr": ["le", "par", "avec", "beaucoup"],
    "zh": ["的", "很", "许多", "关于"],
}

STOPWORDS = ["the", "and", "a", "of", "to", "in", "der", "und", "el", "le", "la", "de"]


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/null."""
    t = F.trim(F.coalesce(text, F.lit("")))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits on whitespace AND
    letter/digit/punct boundaries (a cheap BPE proxy: 'don't' -> 3,
    'abc123' -> 2). regexp_count is JVM-side."""
    t = F.coalesce(text, F.lit(""))
    return F.regexp_count(t, F.lit(r"[A-Za-z一-鿿]+|[0-9]+|[^\sA-Za-z0-9一-鿿]"))


def _marker_hits(text: Column, words: list) -> Column:
    # word boundaries for alphabetic scripts; CJK markers match as-is
    # (\b is meaningless between CJK chars). The \b is factored OUT of the
    # alternation — `\b(?:w1|w2)\b` matches the same spans as
    # `(\bw1\b|\bw2\b)` but avoids per-position per-alternative boundary
    # backtracking in java.util.regex (~14x faster on prose).
    alpha = [w for w in words if not _is_cjk(w)]
    cjk = [w for w in words if _is_cjk(w)]
    parts = []
    if alpha:
        parts.append(r"\b(?:" + "|".join(alpha) + r")\b")
    if cjk:
        parts.append("(?:" + "|".join(cjk) + ")")
    return F.regexp_count(F.lower(text), F.lit("|".join(parts)))


def _is_cjk(w: str) -> bool:
    return any("一" <= ch <= "鿿" for ch in w)


def lang_id(text: Column) -> Column:
    """n-gram/marker-word language guess over the 5 corpus languages.
    Deterministic argmax with fixed tie order en>de>es>fr>zh ('und' when all
    scores are 0).

    Implemented as array_max over (score, priority, lang) structs so each
    per-language regexp_count appears EXACTLY ONCE in the plan — a chained
    when()-expression would duplicate every count O(langs^2) times in the
    projection (no CSE across conditional branches), which measured ~15x
    slower at sf0.1."""
    order = ["en", "de", "es", "fr", "zh"]
    cands = [
        # 'und' wins 0-score ties via top priority; any positive score beats it
        F.struct(F.lit(0).alias("s"), F.lit(len(order) + 1).alias("p"), F.lit("und").alias("lang"))
    ]
    for i, lang in enumerate(order):
        cands.append(
            F.struct(
                _marker_hits(text, LANG_MARKERS[lang]).alias("s"),
                F.lit(len(order) - i).alias("p"),
                F.lit(lang).alias("lang"),
            )
        )
    return F.array_max(F.array(*cands)).getField("lang")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds deterministic quality columns:
      n_chars_q, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
      upper_ratio, quality_score (0..1, rounded to 4 dp).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    # Stage 1: every expensive count computed ONCE into a named column.
    # Reusing the raw Column objects downstream would re-expand the full
    # regex/split expression at every use site (CollapseProject keeps this
    # two-projection shape because the producers are non-cheap and consumed
    # more than once).
    counted = df.withColumns(
        {
            "_nc": F.length(t),
            "_ntok": token_count(t),
            "_npunct": F.regexp_count(t, F.lit(r"[.,;:!?]")),
            "_nupper": F.regexp_count(t, F.lit(r"[A-Z]")),
            "_nstop": _marker_hits(t, STOPWORDS),
        }
    )
    # Stage 2: ratios/score reference the counts as plain attributes (free).
    n_chars, n_tokens = F.col("_nc"), F.col("_ntok")
    avg_tok = F.when(n_tokens > 0, F.round(n_chars / n_tokens, 4)).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, F.round(F.col("_npunct") / n_chars, 4)).otherwise(F.lit(0.0))
    upper_ratio = F.when(n_chars > 0, F.round(F.col("_nupper") / n_chars, 4)).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, F.round(F.col("_nstop") / n_tokens, 4)).otherwise(F.lit(0.0))
    # quality: long enough, has sentence punctuation, sane token length,
    # some stopwords (prose-ness). Clamped sum of subscores.
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.least(punct_ratio * F.lit(20.0), F.lit(1.0)) * 0.2
        + F.when((avg_tok >= 3) & (avg_tok <= 12), F.lit(1.0)).otherwise(F.lit(0.0)) * 0.2
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.2
    )
    return counted.withColumns(
        {
            "n_chars_q": n_chars.cast("long"),
            "n_tokens": n_tokens.cast("long"),
            "avg_token_len": avg_tok,
            "punct_ratio": punct_ratio,
            "upper_ratio": upper_ratio,
            "stopword_ratio": stop_ratio,
            "quality_score": F.round(score, 4),
        }
    ).drop("_nc", "_ntok", "_npunct", "_nupper", "_nstop")


def min_kgram_fingerprint(text: Column, k: int = 8, stride: int = 4) -> Column:
    """Document fingerprint: min md5 over char k-grams (stride-sampled).
    A 1-function MinHash — cheap containment/near-dup key, JVM-only,
    and exactly expressible in the DuckDB oracle."""
    n = F.length(text)
    starts = F.when(
        n >= k, F.sequence(F.lit(0), F.floor((n - k) / stride).cast("int"))
    ).otherwise(F.when(n > 0, F.array(F.lit(0))).otherwise(F.array().cast("array<int>")))
    grams = F.transform(starts, lambda i: F.md5(F.substring(text, i * stride + 1, k)))
    return F.array_min(grams)


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document:
      dup_sent_frac   — fraction of sentence occurrences whose sentence
                        appears more than once in the doc (machine-generated
                        / boilerplate text repeats itself);
      top_bigram_frac — occurrences of the most frequent word bigram over
                        all bigram occurrences.
    Explode + two narrow hash-aggregate shuffles per signal; nothing but
    (id, token) rows move. Bigram identity uses a \\x01 joiner (never in
    whitespace-split tokens of sane text)."""
    sents = (
        df.select(F.col(id_col), F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), r"\.\s+")).alias("s"))
        .select(id_col, F.trim("s").alias("sent"))
        .filter(F.length("sent") > 0)
    )
    sent_stats = (
        sents.groupBy(id_col, "sent")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)) / F.sum("c"), 4
            ).alias("dup_sent_frac")
        )
    )
    w = F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    bigrams = (
        df.select(F.col(id_col), w.alias("w"))
        .filter(F.size("w") > 1)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 2),
                    lambda i: F.concat_ws("\x01", F.col("w")[i], F.col("w")[i + 1]),
                )
            ).alias("bg"),
        )
    )
    bg_stats = (
        bigrams.groupBy(id_col, "bg")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.round(F.max("c") / F.sum("c"), 4).alias("top_bigram_frac"))
    )
    return (
        df.select(id_col)
        .join(sent_stats, id_col, "left")
        .join(bg_stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("dup_sent_frac", F.lit(0.0)).alias("dup_sent_frac"),
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


def gopher_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style word-level quality signals per document (Rae et al.
    2021 §A.1.1 heuristics, the subset meaningful for single-line web
    text): word count, mean word length, fraction of words containing an
    alphabetic character, and symbol-to-word ratio — plus the combined
    keep-flag with the paper's bounds (50 <= n_words <= 100k,
    3 <= mean_word_len <= 10, frac_alpha_words >= 0.8,
    symbol_word_ratio <= 0.1). All JVM column expressions over ONE
    whitespace split (no shuffle, no Python); DuckDB-oracle-exact at 4 dp.

    The alpha-fraction bound is Latin-script-specific by construction (as
    in the paper); CJK documents score frac_alpha ~0 and fail the flag —
    callers gate the flag on lang, exactly as production Gopher pipelines
    route per-language."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    empty = F.length(F.trim(t)) == 0
    words = F.split(F.trim(t), r"\s+")
    # stage 1: each expensive array/regex expression computed ONCE into a
    # named column (reusing raw Column objects re-expands them per use
    # site — no CSE across projections)
    counted = df.select(
        F.col(id_col),
        F.when(empty, F.lit(0)).otherwise(F.size(words)).cast("long").alias("n_words"),
        F.when(empty, F.lit(0)).otherwise(
            F.aggregate(words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
        ).alias("_sumlen"),
        F.when(empty, F.lit(0)).otherwise(
            F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
        ).alias("_nalpha"),
        F.regexp_count(t, F.lit(r"[#@{}\\|]|\.\.\.")).alias("_nsym"),
    )
    nw = F.col("n_words")
    out = counted.withColumns(
        {
            "mean_word_len": F.when(nw > 0, F.round(F.col("_sumlen") / nw, 4)).otherwise(F.lit(0.0)),
            "frac_alpha_words": F.when(nw > 0, F.round(F.col("_nalpha") / nw, 4)).otherwise(F.lit(0.0)),
            "symbol_word_ratio": F.when(nw > 0, F.round(F.col("_nsym") / nw, 4)).otherwise(F.lit(0.0)),
        }
    ).drop("_sumlen", "_nalpha", "_nsym")
    keep = (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("symbol_word_ratio") <= 0.1)
    )
    return out.withColumn("gopher_keep", keep)


def lang_trigram_profiles(k: int = 20) -> dict:
    """Per-language distinctive character trigrams, derived
    deterministically from the per-language seed lexicons (LANG_MARKERS —
    high-frequency function words, the classic profile source): the k
    lexicographically-first trigrams appearing in exactly ONE language's
    lexicon. Pure data — shared verbatim by the Spark scorer and the q43
    DuckDB oracle."""
    sets = {}
    for lang, vocab in LANG_MARKERS.items():
        text = " " + " ".join(sorted(set(vocab))) + " "
        sets[lang] = {text[i : i + 3] for i in range(len(text) - 2)}
    profiles = {}
    for lang in sets:
        others = set().union(*(s for l, s in sets.items() if l != lang))
        profiles[lang] = sorted(sets[lang] - others)[:k]
    return profiles


def lang_id_trigram(text: Column, k: int = 20) -> Column:
    """Character-n-gram language guess (the classic trigram-profile
    heuristic, Cavnar & Trenkle 1994 shape): count each language's
    distinctive trigrams in ONE factored regexp_count per language (all
    alternatives are length 3, so java/RE2 non-overlapping counting agrees
    exactly), argmax with fixed tie order en>de>es>fr>zh, 'und' on zero.
    Complements the marker-WORD scorer (lang_id): trigrams also fire on
    inflected/unseen words sharing character patterns."""
    profiles = lang_trigram_profiles(k)
    order = ["en", "de", "es", "fr", "zh"]
    cands = [
        F.struct(F.lit(0).alias("s"), F.lit(len(order) + 1).alias("p"), F.lit("und").alias("lang"))
    ]
    low = F.lower(F.coalesce(text, F.lit("")))
    for i, lang in enumerate(order):
        pat = "(?:" + "|".join(re.escape(t) for t in profiles[lang]) + ")"
        cands.append(
            F.struct(
                F.regexp_count(low, F.lit(pat)).alias("s"),
                F.lit(len(order) - i).alias("p"),
                F.lit(lang).alias("lang"),
            )
        )
    return F.array_max(F.array(*cands)).getField("lang")


def _bigram_pairs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, prev, tok) bigram rows derived ENTIRELY array-side: the token
    array is zipped against its own 1-shifted tail inside a single
    ``transform`` (prev = arr[i], tok = arr[i+1]) and the pairs exploded
    directly — zero shuffle, in contrast to the posexplode + per-document
    ``lag`` window this replaced, which sorted the corpus's whole token
    stream through a window exchange."""
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
        lambda t: t != "",
    )
    t = docs.select(F.col(id_col), arr.alias("toks"))
    pairs = F.transform(
        F.slice(F.col("toks"), 2, F.greatest(F.size("toks") - 1, F.lit(0))),
        lambda tok, i: F.struct(
            F.element_at(F.col("toks"), i + F.lit(1)).alias("prev"),
            tok.alias("tok"),
        ),
    )
    return t.select(F.col(id_col), F.explode(pairs).alias("bg")).select(
        id_col, F.col("bg.prev").alias("prev"), F.col("bg.tok").alias("tok")
    )


def _score_bigrams(
    big: DataFrame,
    c2: DataFrame,
    c1: DataFrame,
    vocab: DataFrame,
    id_col: str,
    add_k: int,
    broadcast_counts: bool,
) -> DataFrame:
    """Shared scoring tail: add-k smoothed nll per bigram,
    -log2((c2+k)/(c1+k*V)), ROUNDED to 4 dp before an exact DECIMAL sum
    (so shuffle order and libm-vs-JVM log ulps cannot change the hash),
    averaged per document."""
    if broadcast_counts:
        c2, c1 = F.broadcast(c2), F.broadcast(c1)
    scored = (
        big.join(c2, ["prev", "tok"])
        .join(c1, ["prev"])
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "nll_term",
            F.round(
                -F.log2(
                    (F.col("c2") + F.lit(add_k))
                    / (F.col("c1") + F.lit(add_k) * F.col("v"))
                ),
                4,
            ).cast("decimal(18,6)"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round((F.sum("nll_term") / F.count("*")).cast("double"), 3).alias("nll"),
        )
        .orderBy(id_col)
    )


def bigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: int = 1,
) -> DataFrame:
    """Corpus-trained bigram language-model quality score per document —
    the KenLM-style filter of web-corpus pipelines (CCNet shape: train a
    small LM, keep documents whose per-token negative log-likelihood is
    low), expressed ENTIRELY in JVM DataFrame ops so a DuckDB oracle can
    re-derive it:

      1. tokenize: lower + split on non-alphanumerics;
      2. bigrams array-side (_bigram_pairs — zero shuffle);
      3. TRAIN: bigram counts over the whole corpus (one shuffle on the
         bigram key — map-side partials), context counts derived from
         the bigram table;
      4. SCORE: add-k smoothed nll per bigram (see _score_bigrams); docs
         with < 2 tokens produce NO output row (join scores back with a
         left join if every document needs a row).

    Returns (id_col, n_bigrams, nll) ordered by id. This variant joins
    the count tables back shuffle-side and lets AQE pick the strategy;
    ``bigram_lm_scores_broadcast`` is the bounded-vocabulary scale path
    (map-side score join) and equals this one exactly when its top_v
    covers the full vocabulary."""
    big = _bigram_pairs(docs, id_col, text_col)
    c2 = big.groupBy("prev", "tok").agg(F.count("*").alias("c2"))
    # context counts DERIVE from the bigram counts (sum over tok) — one
    # aggregation over the tiny c2 table instead of re-tokenizing and
    # re-shuffling the whole corpus a second time
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    vocab = big.select(
        F.explode(F.array("prev", "tok")).alias("tok")
    ).unionByName(
        # single-token documents contribute to V even though they emit no
        # bigram — count vocabulary over ALL tokens, exactly as before
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                    lambda t: t != "",
                )
            ).alias("tok")
        )
    ).agg(F.countDistinct("tok").alias("v"))
    return _score_bigrams(big, c2, c1, vocab, id_col, add_k, broadcast_counts=False)


# sentinel for out-of-vocabulary tokens: contains non-alphanumerics, so the
# tokenizer can never produce it from document text
UNK = "<unk>"


def bigram_lm_scores_broadcast(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: int = 1,
    top_v: int = 50_000,
) -> DataFrame:
    """The 100 TB scale path of ``bigram_lm_scores``: CCNet-style bounded
    vocabulary. The ``top_v`` most frequent tokens (ties -> lexicographic,
    deterministic) form the vocabulary; every other token maps to
    ``<unk>`` BEFORE training, so the bigram/context count tables are
    bounded by (top_v+1)^2 regardless of corpus size and are BROADCAST
    into the score join — scoring is map-side, the only corpus-wide
    shuffles are the two bounded-key count aggregations and the final
    per-document rollup.

    Equality pin (same pattern as q47's full-probe == brute-force): with
    top_v >= the full vocabulary size nothing maps to <unk> and the
    result is row-identical to ``bigram_lm_scores`` —
    tests/test_operators.py pins this; q52's DuckDB oracle is the same
    SQL as q51's."""
    big_raw = _bigram_pairs(docs, id_col, text_col)
    toks_all = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("tok")
    )
    vocab_df = (
        toks_all.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(top_v)
        .select("tok")
    )
    in_prev = F.broadcast(
        vocab_df.select(F.col("tok").alias("prev"), F.lit(True).alias("_pv"))
    )
    in_tok = F.broadcast(vocab_df.select("tok", F.lit(True).alias("_tv")))
    big = (
        big_raw.join(in_prev, ["prev"], "left")
        .join(in_tok, ["tok"], "left")
        .select(
            id_col,
            F.when(F.col("_pv").isNotNull(), F.col("prev")).otherwise(F.lit(UNK)).alias("prev"),
            F.when(F.col("_tv").isNotNull(), F.col("tok")).otherwise(F.lit(UNK)).alias("tok"),
        )
    )
    c2 = big.groupBy("prev", "tok").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    # V counts the UNKED token space (all tokens, including single-token
    # docs' — mapped through the vocabulary): with full coverage this is
    # exactly the full-variant V, with a bounded vocab it is <= top_v+1
    vocab = (
        toks_all.join(in_tok, ["tok"], "left")
        .select(
            F.when(F.col("_tv").isNotNull(), F.col("tok")).otherwise(F.lit(UNK)).alias("tok")
        )
        .agg(F.countDistinct("tok").alias("v"))
    )
    return _score_bigrams(big, c2, c1, vocab, id_col, add_k, broadcast_counts=True)
