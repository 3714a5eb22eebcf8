"""Text-analysis columns for the training-data pipeline.

Everything is a pure Column expression over built-in functions — at
100 TB these run inside whole-stage codegen with zero Python cost.
Heuristics (language-ID marker sets, quality thresholds) are data-level
constants, easy to retune.

Operators built on top: exact/minhash/simhash dedup (operators/dedup.py),
quality filtering, language routing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "normalize_text",
    "token_count",
    "bpe_token_count",
    "BPE_ISH_PATTERN",
    "word_tokens",
    "char_ngrams",
    "shingles_from_tokens",
    "word_shingles",
    "gram_starts",
    "gram_hash",
    "punct_ratio",
    "stopword_ratio",
    "quality_score",
    "lang_guess",
    "fingerprint",
    "repetition_counts",
    "pii_counts",
    "pii_redact",
    "PII_PATTERNS",
]

# Tiny top-stopword marker sets per language for the n-gram/markers
# heuristic language guesser. Deliberately small: the point is a cheap,
# deterministic, SQL-expressible router, not a model.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von", "zu"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"),
    "es": ("el", "la", "de", "que", "los", "una", "es", "por", "con", "para"),
}

_EN_STOPWORDS = _LANG_MARKERS["en"]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_text(c: Column | str) -> Column:
    """Lowercase + collapse whitespace — canonical form for dedup keys."""
    return F.trim(F.regexp_replace(F.lower(_col(c)), r"\s+", " "))


def word_tokens(c: Column | str) -> Column:
    """Whitespace/punctuation tokenization to array<string> (lowercased)."""
    toks = F.split(F.lower(_col(c)), r"[^\p{L}\p{N}]+")
    return F.filter(toks, lambda t: t != "")


def token_count(c: Column | str) -> Column:
    """Token count under the same tokenizer (BPE-ish proxy: word pieces)."""
    return F.size(word_tokens(c)).cast("bigint")


# GPT-2-style pre-tokenizer classes: contraction suffixes, letter runs,
# digit runs, symbol runs (each optionally space-prefixed). A cheap,
# deterministic stand-in for a real BPE vocab — counts track BPE token
# counts closely enough for length filtering/budgeting.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_token_count(c: Column | str) -> Column:
    """BPE-ish token count via the pre-tokenizer regex (JVM-side)."""
    return F.size(
        F.regexp_extract_all(_col(c), F.lit(BPE_ISH_PATTERN), F.lit(0))
    ).cast("bigint")


def char_ngrams(c: Column | str, n: int = 5) -> Column:
    """Character n-gram shingles of the normalized text (array<string>).

    Expression-only: substring over a generated offset sequence. Length
    guard returns an empty array for too-short docs.
    """
    norm = normalize_text(c)
    return F.when(F.length(norm) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - (n - 1)),
            lambda i: norm.substr(i, F.lit(n)),
        )
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an already-tokenized array column.

    Pass a *materialized* token column (``withColumn`` first), not the
    tokenizer expression itself: the lambda references the token array
    three times, and an inlined tokenizer would re-run the regex split
    per reference — quadratic in document length.
    """
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )


def word_shingles(c: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>) for MinHash/Jaccard.

    Convenience form that inlines the tokenizer; prefer tokenizing into
    a column once and calling ``shingles_from_tokens`` in hot paths.
    """
    return shingles_from_tokens(word_tokens(c), n)


def gram_starts(words: Column, n: int) -> Column:
    """1-based start position of every word n-gram of ``words``: an
    empty ``array<int>`` when it holds fewer than ``n`` words, so an
    ``explode_outer`` keeps the short document as one NULL row."""
    n_grams = F.size(words) - n + 1
    return F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams)).otherwise(
        F.array().cast("array<int>")
    )


def gram_hash(words: Column, pos: Column, n: int) -> Column:
    """The word n-gram of ``words`` at ``pos``, space-joined and
    ``xxhash64``'d: the gram key of every gram operator. Their SQL
    twins group by the joined text itself, so the slice and the join
    must match theirs; one definition keeps every operator on it."""
    return F.xxhash64(F.array_join(F.slice(words, pos, n), " "))


def punct_ratio(c: Column | str) -> Column:
    """Fraction of characters that are not letters/digits/space."""
    s = _col(c)
    stripped = F.regexp_replace(s, r"[\p{L}\p{N}\s]", "")
    return F.when(F.length(s) == 0, F.lit(0.0)).otherwise(
        F.length(stripped).cast("double") / F.length(s)
    )


def _marker_hits(c: Column | str, markers: tuple[str, ...]) -> Column:
    """Occurrences of any marker TOKEN in the text, as one codegen'd
    regex scan.

    Exactly equivalent to counting ``word_tokens`` entries that equal a
    marker (the markers are pure letter strings and the tokenizer
    splits on ``[^\\p{L}\\p{N}]+``, so "token == marker" is "marker not
    adjacent to a letter/digit") — but a single JVM regexp pass per
    language instead of a higher-order ``filter`` + ``array_contains``
    per token, which Spark interprets element-by-element outside
    codegen (profiled 5-10x slower on corpus-scale scans).
    """
    alt = "|".join(markers)
    pat = rf"(?<![\p{{L}}\p{{N}}])(?:{alt})(?![\p{{L}}\p{{N}}])"
    return F.size(F.regexp_extract_all(F.lower(_col(c)), F.lit(pat), F.lit(0)))


def stopword_ratio(c: Column | str, stopwords: tuple[str, ...] = _EN_STOPWORDS) -> Column:
    """Fraction of tokens that are common stopwords (quality signal)."""
    toks = word_tokens(c)
    hits = _marker_hits(c, stopwords)
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(toks)
    )


def quality_score(c: Column | str) -> Column:
    """Composite [0,1] quality score: length, punctuation, stopword signals.

    Weighted blend mirroring common pretraining-data heuristics:
    longer docs with normal punctuation density and a healthy stopword
    rate score high; fragments and symbol soup score low.
    """
    s = _col(c)
    len_score = F.least(F.length(s).cast("double") / F.lit(500.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(s) * 4.0)
    sw = stopword_ratio(s)
    sw_score = F.least(sw * 5.0, F.lit(1.0))
    return len_score * 0.4 + punct_pen * 0.3 + sw_score * 0.3


def lang_guess(c: Column | str) -> Column:
    """Cheap deterministic language guess from stopword-marker hits.

    Scores each candidate language by marker-token hits; returns the
    argmax (ties broken by fixed language order), 'und' when no marker
    hits at all. Pure expression — no UDF.

    Shape note: an earlier fold of nested WHEN/OTHERWISE chains made
    each language's score expression expand combinatorially (~2^k
    tokenizer re-evaluations per row). The array form evaluates every
    score exactly once: argmax = array_position of the max, which takes
    the FIRST maximum — the same fixed-language-order tie rule the
    SQL oracle's GREATEST CASE ladder implements.
    """
    scores = F.array(*[_marker_hits(c, m) for m in _LANG_MARKERS.values()])
    langs = F.array(*[F.lit(name) for name in _LANG_MARKERS])
    best = F.array_max(scores)
    return F.when(best <= 0, F.lit("und")).otherwise(
        F.element_at(langs, F.array_position(scores, best).cast("int"))
    )


def fingerprint(c: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint of the normalized text.

    MD5 over the canonical form — engine-portable (matches any SQL
    oracle's md5), stable across runs, suitable as an exact-dup key.
    """
    return F.md5(normalize_text(c))


def repetition_counts(toks: Column, n: int = 5) -> tuple[Column, Column]:
    """(total n-gram count, duplicated n-gram count) over a token array.

    Boilerplate/spam detection staple: the duplicated-shingle count
    (total - distinct) is high for template-y, loop-generated, or
    scraped-repeat content. Integer outputs so thresholds and the SQL
    oracle are exact; column expressions only — no shuffle, no Python.
    Pass a MATERIALIZED token column (see shingles_from_tokens).
    """
    sh = shingles_from_tokens(toks, n)
    total = F.size(sh).cast("bigint")
    dups = (F.size(sh) - F.size(F.array_distinct(sh))).cast("bigint")
    return total, dups


# Portable scan patterns: constructs that parse identically under Java
# regex (Spark) and RE2 (DuckDB) — no backrefs, no lookarounds.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"[0-9]{2,3}[-.][0-9]{3,4}[-.][0-9]{4}",
}


# Placeholder tokens for the redaction REWRITE; replacement order is
# the dict order of PII_PATTERNS (email -> url -> phone) and must be
# mirrored verbatim by SQL twins — a URL swallowing an embedded email
# differs depending on which pattern fires first.
PII_PLACEHOLDERS: dict[str, str] = {
    "email": "<EMAIL>",
    "url": "<URL>",
    "phone": "<PHONE>",
}


def pii_redact(c: Column | str) -> Column:
    """Redact PII-ish spans with typed placeholders (the curation
    ACTION, where ``pii_counts`` is the signal): each pattern's
    non-overlapping matches are globally replaced in PII_PATTERNS
    order. Pure ``regexp_replace`` chain — whole-stage codegen, no
    Python; global leftmost semantics are identical under Java regex
    and RE2, so a twin is the same chain with the 'g' flag."""
    out = _col(c)
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, PII_PLACEHOLDERS[name])
    return out


def pii_counts(c: Column | str) -> dict[str, Column]:
    """Per-document counts of common PII-ish surface patterns.

    Curation pipelines filter or redact on these before training. Counts
    (not booleans) so downstream policies can threshold; leftmost
    non-overlapping match semantics are identical in both engines for
    these patterns (no backrefs/lookarounds), so the DuckDB twin is
    ``len(regexp_extract_all(...))``.
    """
    col = _col(c)
    return {
        name: F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0))).cast("bigint")
        for name, pat in PII_PATTERNS.items()
    }
