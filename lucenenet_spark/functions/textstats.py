"""Text-analysis column functions for training-data pipelines.

Everything is built-in column expressions (JVM, codegen) with exact DuckDB
mirrors in oracle/sqlgen.py:

- token counting: whitespace tokens, analyzer tokens, BPE-ish regex pieces
- quality scoring: length/punctuation/stopword-ratio components
- language ID: stopword-list ratio heuristic over small public word lists
- document fingerprinting: md5 over the sorted distinct token set
  (normalized fingerprint)
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..analysis.exprs import indexed_tokens, raw_tokens
from ..analysis.tokenizers import ENGLISH_STOP_WORDS

ROUND = 6

# Tiny public common-word lists for the lang-id heuristic (top function
# words of each language; public knowledge).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in", "is", "it", "that", "for", "was"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "que"),
    "de": ("der", "die", "und", "das", "von", "mit", "den", "für", "ist", "auf"),
}

BPE_PIECE_PATTERN = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def ws_token_count(text: Column) -> Column:
    """Whitespace-delimited token count."""
    return F.size(F.filter(F.split(text, r"\s+"), lambda t: t != F.lit("")))


def alnum_token_count(text: Column) -> Column:
    """Standard-analyzer raw token count (stopwords included)."""
    return F.size(raw_tokens(text))


def bpe_piece_count(text: Column) -> Column:
    """BPE-ish piece count: letter runs + single digits + single punct."""
    return F.coalesce(F.regexp_count(text, F.lit(BPE_PIECE_PATTERN)), F.lit(0))


def punct_count(text: Column) -> Column:
    return F.coalesce(F.regexp_count(text, F.lit(r"[^a-zA-Z0-9\s]")), F.lit(0))


def stop_ratio(text: Column) -> Column:
    """Fraction of raw tokens that are English stopwords."""
    toks = raw_tokens(text)
    stops = F.size(F.filter(toks, lambda t: t.isin(sorted(ENGLISH_STOP_WORDS))))
    return stops.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic:
    0.4 * length component (saturates at 100 tokens)
    + 0.3 * punctuation sanity (penalize punct-heavy text)
    + 0.3 * stopword sanity (natural text sits near 0.4 stop ratio)."""
    n = alnum_token_count(text).cast("double")
    length_c = F.least(F.lit(1.0), n / F.lit(100.0))
    p_ratio = punct_count(text).cast("double") / F.greatest(n, F.lit(1.0))
    punct_c = F.greatest(F.lit(0.0), F.lit(1.0) - p_ratio * F.lit(5.0))
    s = stop_ratio(text)
    stop_c = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.abs(s - F.lit(0.4)) / F.lit(0.4)
    )
    return F.lit(0.4) * length_c + F.lit(0.3) * punct_c + F.lit(0.3) * stop_c


def marker_ratio(text: Column, lang: str) -> Column:
    toks = raw_tokens(text)
    markers = list(LANG_MARKERS[lang])
    hits = F.size(F.filter(toks, lambda t: t.isin(markers)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def langid(text: Column) -> Column:
    """Predicted language = argmax marker ratio (ties: lexicographic lang
    order via the comparison chain below); 'und' when all ratios are 0."""
    langs = sorted(LANG_MARKERS)
    ratios = {lg: marker_ratio(text, lg) for lg in langs}
    best = F.lit("und")
    best_r = F.lit(0.0)
    for lg in langs:
        better = ratios[lg] > best_r
        best = F.when(better, F.lit(lg)).otherwise(best)
        best_r = F.when(better, ratios[lg]).otherwise(best_r)
    return best


def fingerprint(text: Column) -> Column:
    """Normalized fingerprint: md5 over the sorted distinct analyzer tokens
    (stop-filtered) — whitespace/punct/dup insensitive."""
    toks = F.array_sort(F.array_distinct(indexed_tokens(text)))
    return F.md5(F.concat_ws(" ", toks))
