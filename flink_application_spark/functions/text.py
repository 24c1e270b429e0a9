"""Text-analysis column expressions.

Everything here compiles to Catalyst expressions (split/transform/
aggregate higher-order functions) — per-row, no shuffle, whole-stage
codegen. At 100 TB these run at scan speed; the only Python in the
text pipeline is the code that *builds* the expressions.

Tokenization contract (shared with the DuckDB oracles): lowercase,
trim, split on runs of whitespace.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# English stopword markers used for quality scoring / language ID.
EN_STOPWORDS = ["the", "a", "an", "of", "and", "or", "to", "in", "is", "on"]


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased, trimmed text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def avg_token_len(text: Column) -> Column:
    """Mean token length, 4 decimals (deterministic: sum/count of ints)."""
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    return F.round(total.cast("double") / F.size(toks), 4)


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined). Falls back to the whole
    lowercased text when there are fewer than n tokens."""
    toks = tokens(text)
    size = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), size - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
        ),
    )
    # sequence(0, k) is descending when k < 0 — guard small docs.
    return F.when(size >= n, grams).otherwise(F.array(F.lower(F.trim(text))))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation, 6 decimals."""
    punct = F.length(F.regexp_replace(text, r"[^.!?,;:]", ""))
    return F.round(punct.cast("double") / F.greatest(F.length(text), F.lit(1)), 6)


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords (with multiplicity), 6 dp."""
    sw = stopwords or EN_STOPWORDS
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    return F.round(hits.cast("double") / F.greatest(F.size(toks), F.lit(1)), 6)


def quality_score(text: Column) -> Column:
    """Composite heuristic quality score in [0,1], 6 decimals:
    length saturation + stopword presence + low punctuation density.
    (The usual Gopher/C4-style signals, deterministic + oracle-able.)"""
    len_component = F.least(F.length(text).cast("double") / 500.0, F.lit(1.0))
    score = (
        0.3 * len_component
        + 0.4 * stopword_ratio(text)
        + 0.3 * (1.0 - punct_ratio(text))
    )
    return F.round(score, 6)


def lang_scores(text: Column, markers: dict[str, list[str]]) -> dict[str, Column]:
    """Per-language marker-token hit counts (with multiplicity)."""
    toks = tokens(text)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(words)))
        for lang, words in markers.items()
    }


# Marker sets for the language-ID heuristic (top function words).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de"],
    "es": ["el", "los", "las", "es", "un", "una", "que", "y"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    (Exact-dup key; near-dup is the minhash family in operators/.)"""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized)
