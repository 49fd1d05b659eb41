"""Corpus-quality filters for LLM training data (charter §2B).

Gopher/C4-style heuristics — repetition detection, symbol ratios, PII
scrubbing — as pure Column expressions (JVM-side, codegen) so a 100 TB
filtering pass is scan-bound.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import _let
from .text import DEFAULT_TOKEN_PATTERN, tokens, word_shingles


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def duplicate_line_ratio(col, sep: str = "\n") -> Column:
    """Fraction of lines that are duplicates of an earlier line
    (Gopher repetition signal)."""
    lines = F.filter(F.split(_c(col), sep), lambda l: F.trim(l) != "")
    n = F.size(lines)
    n_uniq = F.size(F.array_distinct(lines))
    return F.when(n > 0, (n - n_uniq).cast("double") / n).otherwise(F.lit(0.0))


def duplicate_ngram_ratio(col, n: int = 3, pattern: str = DEFAULT_TOKEN_PATTERN) -> Column:
    """Fraction of word n-grams that are repeats (Gopher: top-n-gram /
    duplicate-n-gram filters). High values mean boilerplate/spam. The
    shingle array is bound once per row (:func:`_let`)."""

    def ratio(sh: Column) -> Column:
        total = F.size(sh)
        uniq = F.size(F.array_distinct(sh))
        return F.when(total > 0, (total - uniq).cast("double") / total).otherwise(F.lit(0.0))

    return _let(word_shingles(_c(col), n, pattern), ratio)


def max_word_repetition(col, pattern: str = DEFAULT_TOKEN_PATTERN) -> Column:
    """Highest share of the document taken by a single token.

    aggregate over the sorted token array counts the longest run —
    equivalent to max-frequency/total without a groupBy. The sorted
    array is bound once per row (:func:`_let`).
    """
    # fold: (current_run, best_run, prev_token)
    acc0 = F.struct(
        F.lit(0).alias("run"), F.lit(0).alias("best"), F.lit(None).cast("string").alias("prev")
    )

    def share(toks: Column) -> Column:
        n = F.size(toks)
        folded = F.aggregate(
            toks,
            acc0,
            lambda acc, t: F.struct(
                F.when(acc["prev"].isNull() | (acc["prev"] != t), F.lit(1))
                .otherwise(acc["run"] + 1)
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(acc["prev"].isNull() | (acc["prev"] != t), F.lit(1)).otherwise(
                        acc["run"] + 1
                    ),
                ).alias("best"),
                t.alias("prev"),
            ),
        )
        return F.when(n > 0, folded["best"].cast("double") / n).otherwise(F.lit(0.0))

    return _let(F.array_sort(tokens(_c(col), pattern)), share)


def symbol_word_ratio(col, pattern: str = DEFAULT_TOKEN_PATTERN) -> Column:
    """Symbols (#, ..., etc.) per word — C4-style noise signal. The token
    count is bound once per row (:func:`_let`)."""
    c = _c(col)
    n_sym = F.length(c) - F.length(F.regexp_replace(c, r"[#@\*\^\|~]|\.{3}", ""))
    return _let(
        F.size(tokens(c, pattern)),
        lambda n_tok: F.when(n_tok > 0, n_sym.cast("double") / n_tok).otherwise(F.lit(0.0)),
    )


# --- PII scrubbing ---------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d[\d\s().-]{7,}\d"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"


def scrub_pii(col) -> Column:
    """Replace emails/phones/IPs/SSNs with typed placeholder tokens.

    Order matters: SSN before phone (a dashed SSN also matches the loose
    phone pattern).
    """
    c = _c(col)
    c = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, SSN_RE, "<SSN>")
    c = F.regexp_replace(c, IPV4_RE, "<IP>")
    c = F.regexp_replace(c, PHONE_RE, "<PHONE>")
    return c


def pii_counts(col) -> Column:
    """struct(n_email, n_ip, n_ssn) — audit counts before scrubbing."""
    c = _c(col)
    return F.struct(
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))).alias("n_email"),
        F.size(F.regexp_extract_all(c, F.lit(IPV4_RE), F.lit(0))).alias("n_ip"),
        F.size(F.regexp_extract_all(c, F.lit(SSN_RE), F.lit(0))).alias("n_ssn"),
    )


def gopher_quality_flags(col, pattern: str = DEFAULT_TOKEN_PATTERN) -> Column:
    """struct of pass/fail flags for the standard Gopher-style gates."""
    c = _c(col)
    n_tok = F.size(tokens(c, pattern))
    return F.struct(
        (n_tok >= 50).alias("len_ok"),
        (duplicate_line_ratio(c) <= 0.3).alias("dup_lines_ok"),
        (duplicate_ngram_ratio(c, 3, pattern) <= 0.5).alias("dup_ngrams_ok"),
        (max_word_repetition(c, pattern) <= 0.2).alias("word_rep_ok"),
        (symbol_word_ratio(c, pattern) <= 0.1).alias("symbols_ok"),
    )
