"""Text analysis for training-data pipelines: language-ID heuristic, quality
scoring, token counting, document fingerprinting — all pure column expressions
over the ``documents`` table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dice_spark.functions.textfns import canonicalize_text

# Tiny per-language stopword seeds for the n-gram/stopword-ratio heuristic.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "una"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "dans"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens of canonicalized text."""
    return F.split(canonicalize_text(text), " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def _stopword_hits(text: Column, words: list[str]) -> Column:
    toks = tokens(text)
    wl = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wl, t)))


def lang_id(text: Column) -> Column:
    """Heuristic language id: language with the max stopword-hit count.

    Deterministic tie-break by language code order; 'und' when nothing hits.
    """
    structs = [
        F.struct(
            _stopword_hits(text, ws).alias("hits"),
            F.lit(len(LANG_STOPWORDS) - i).alias("prio"),  # earlier langs win ties
            F.lit(lang).alias("lang"),
        )
        for i, (lang, ws) in enumerate(LANG_STOPWORDS.items())
    ]
    best = F.array_max(F.array(*structs))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: length, punctuation balance,
    stopword ratio, alpha ratio — the classic pretraining-filter features."""
    t = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(t)
    n_tokens = token_count(t)
    mean_word_len = n_chars / F.greatest(n_tokens, F.lit(1))
    stop_ratio = _stopword_hits(t, LANG_STOPWORDS["en"]) / F.greatest(n_tokens, F.lit(1)).cast("double")
    alpha_ratio = F.regexp_count(t, F.lit(r"[A-Za-z]")) / F.greatest(n_chars, F.lit(1)).cast("double")
    length_ok = F.when((n_tokens >= 5) & (n_tokens <= 100000), 1.0).otherwise(0.0)
    word_len_ok = F.when((mean_word_len >= 3) & (mean_word_len <= 12), 1.0).otherwise(0.0)
    score = (
        F.lit(0.25) * length_ok
        + F.lit(0.25) * word_len_ok
        + F.lit(0.25) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.25) * alpha_ratio
    )
    return F.round(score, 6)


def fingerprint(text: Column, n: int = 8) -> Column:
    """Order-insensitive document fingerprint: min-of-n rolling window hashes.

    md5-based so an external oracle can recompute it byte-identically.
    """
    toks = tokens(text)
    k = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    idx = F.sequence(F.lit(0), k - 1)
    window_hashes = F.transform(idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, n))))
    return F.array_min(window_hashes)
