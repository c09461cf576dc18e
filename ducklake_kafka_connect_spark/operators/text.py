"""Text-analysis operators for training-data pipelines (beyond-parity).

All hot-path expressions are built-in Catalyst functions (split /
filter / size / lower) — whole-stage-codegen'd, no Python in the loop.
``functions/sql_registry.py`` exposes the token, stopword and
language-ID definitions as ``dl_*`` SQL functions.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny function-word lists per language for the n-gram-free language-ID
# heuristic and stopword-ratio quality signal.
EN_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of trimmed, lower-cased text."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


def stopword_ratio_col(text: Column, stopwords: Sequence[str] = EN_STOPWORDS) -> Column:
    toks = tokens_col(text)
    matches = F.size(F.filter(toks, lambda w: w.isin(*stopwords)))
    return F.round(matches.cast("double") / F.size(toks), 6)


def marker_hits_col(text: Column, markers: Sequence[str]) -> Column:
    """How many tokens are in the marker set (language-ID signal)."""
    return F.size(F.filter(tokens_col(text), lambda w: w.isin(*markers)))


def lang_id_col(text: Column, markers: dict[str, Sequence[str]] = LANG_MARKERS) -> Column:
    """Predicted language: the marker set with the most token hits;
    deterministic tie-break by language code order; 'und' when no
    marker matches. Pure Catalyst CASE chain — vectorizable, and the
    real-world upgrade path (fasttext et al.) slots in as a Pandas UDF
    behind the same column contract."""
    langs = sorted(markers)
    hits = {lang: marker_hits_col(text, markers[lang]) for lang in langs}
    best = F.greatest(*[hits[lang] for lang in langs]) if len(langs) > 1 else hits[langs[0]]
    out = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties → apply last
        out = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def fingerprint_col(text: Column, n: int = 5, k: int = 4) -> Column:
    """Document fingerprint: bottom-k of the hashed character n-gram set
    (a winnowing-style sketch; Schleimer et al., SIGMOD'03). Two docs
    share a fingerprint iff their smallest k shingle hashes agree —
    robust to small edits. Emitted as a '_'-joined string key. Pure
    Catalyst: sequence → substr → md5-hash → sort → slice."""
    from .dedup import h60_col

    low = F.lower(text)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(low) - (n - 1), F.lit(1))),
            lambda i: low.substr(i, F.lit(n)),
        )
    )
    bottom_k = F.slice(F.array_sort(F.transform(grams, h60_col)), 1, k)
    return F.array_join(F.transform(bottom_k, lambda h: h.cast("string")), "_")


def repetition_ratio_col(text: Column) -> Column:
    """Repeated-bigram fraction: 1 - distinct_bigrams/total_bigrams, the
    standard boilerplate/degenerate-text quality signal (high ratio =
    the document repeats itself). NULL for docs under 2 tokens.

    Distinctness runs over md5-derived bigram HASHES (h60 % MERSENNE,
    the repo's shared-hash contract), so hash collisions count as
    repeats the same way on every engine that uses that hash."""
    from .dedup import MERSENNE, h60_col

    toks = tokens_col(text)
    gram = lambda i: (  # noqa: E731
        h60_col(
            F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2))
        )
        % MERSENNE
    )
    total = F.size(toks) - 1
    grams = F.transform(F.sequence(F.lit(0), F.size(toks) - 2), gram)
    ratio = F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total
    return F.when(total >= 1, F.round(ratio, 6))


# ---------------------------------------------------------------------------
# PII redaction (training-corpus scrubbing)
# ---------------------------------------------------------------------------

# Written in the common Java-regex / RE2 subset: explicit classes, \b
# word boundaries, bounded quantifiers.
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
EMAIL_TOKEN = "[EMAIL]"
PHONE_TOKEN = "[PHONE]"


def redact_pii_col(text: Column) -> Column:
    """Emails then phone numbers replaced by fixed tokens — one
    codegen'd pass of two regexp_replace calls, the 100 TB-friendly
    shape for corpus scrubbing."""
    t = F.regexp_replace(text, EMAIL_RE, EMAIL_TOKEN)
    return F.regexp_replace(t, PHONE_RE, PHONE_TOKEN)


def pii_counts_col(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) match counts for audit metrics."""
    return (
        F.regexp_count(text, F.lit(EMAIL_RE)),
        F.regexp_count(text, F.lit(PHONE_RE)),
    )
