"""Text-analysis functions for the documents table (charter §2B).

Language-ID, quality scoring, token counting, fingerprinting — all as
Column expressions (JVM-side, codegen) so they run at 100 TB without a
Python worker in the loop. Where a heuristic needs trained data (real
language ID), we implement a deterministic n-gram/stopword heuristic and
document it as such.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import _let

# Tiny per-language stopword marker sets for the n-gram heuristic.
# Deterministic and dependency-free; a production system would plug in a
# fastText/CLD3 model via pandas_udf (see multimodal.py for the pattern).
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
}

_STOPWORDS = (
    "the a an and or of to in is are was for on with as by at it this that",
)


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


DEFAULT_TOKEN_PATTERN = r"[^\p{L}\p{N}]+"


def tokens(col, pattern: str = DEFAULT_TOKEN_PATTERN) -> Column:
    """Whitespace/punctuation tokenization -> array<string>, lowercased.

    Empty strings produce an empty array (Spark's split of "" yields
    [""] — removed here). ``pattern`` is the token-separator regex;
    pass an ASCII class for cross-engine (oracle) comparability.

    array_remove, not a filter() lambda: interpreted higher-order
    lambdas cost ~6x on the scan-heavy path (measured at sf0.1).
    """
    arr = F.split(F.lower(F.trim(_c(col))), pattern)
    return F.array_remove(arr, "")


def token_count(col, pattern: str = DEFAULT_TOKEN_PATTERN) -> Column:
    return F.size(tokens(col, pattern))


def char_count(col) -> Column:
    return F.length(_c(col))


def word_shingles(col, n: int = 3, pattern: str = DEFAULT_TOKEN_PATTERN) -> Column:
    """n-gram (word) shingles as array<string>, space-joined.

    Built by zipping ``n`` shifted slices of the token array and joining
    each zipped struct. The obvious transform-over-indices formulation
    (``slice(toks, i+1, n)`` inside the lambda) re-evaluates the token
    split PER ELEMENT — O(tokens^2) per document, measured 2.4x slower
    at sf0.1. The slices, sizes and the short-document branch name the
    token array 2n+2 times, and a Filter or Generate (explode) would
    evaluate the split once per name; it is bound once per row instead
    (:func:`_let`).
    """
    toks = tokens(col, pattern)
    if n == 1:
        return toks

    def shingles(toks: Column) -> Column:
        sz = F.size(toks)
        zipped = F.arrays_zip(*[F.slice(toks, i + 1, sz - (n - 1)) for i in range(n)])
        return F.when(sz < n, F.array(F.array_join(toks, " "))).otherwise(
            F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]))
        )

    return _let(toks, shingles)


def stopword_ratio(col, pattern: str = DEFAULT_TOKEN_PATTERN) -> Column:
    """Share of tokens that are stopwords; the token array is bound once
    per row (:func:`_let`)."""
    stops = _STOPWORDS[0].split()

    def ratio(toks: Column) -> Column:
        n_stop = F.size(F.filter(toks, lambda t: t.isin(stops)))
        return F.when(F.size(toks) > 0, n_stop.cast("double") / F.size(toks)).otherwise(
            F.lit(0.0)
        )

    return _let(tokens(col, pattern), ratio)


def punct_ratio(col) -> Column:
    c = _c(col)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"\p{Punct}", ""))
    return F.when(F.length(c) > 0, n_punct.cast("double") / F.length(c)).otherwise(F.lit(0.0))


def quality_score(col, pattern: str = DEFAULT_TOKEN_PATTERN) -> Column:
    """Heuristic document quality in [0,1]: length band + low punctuation +
    sane mean word length. Deterministic. The token count and the mean
    word length are each named several times, so each is bound once per
    row (:func:`_let`): a Filter on the score splits the text once."""
    c = _c(col)

    def score(n_tok: Column) -> Column:
        mean_wordlen = F.when(
            n_tok > 0, F.length(F.regexp_replace(c, r"\s+", "")).cast("double") / n_tok
        ).otherwise(F.lit(0.0))
        len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.5)).otherwise(F.lit(0.0))
        punct_ok = F.when(punct_ratio(c) < 0.2, F.lit(0.25)).otherwise(F.lit(0.0))

        def word_ok(m: Column) -> Column:
            return F.when((m >= 2.0) & (m <= 12.0), F.lit(0.25)).otherwise(F.lit(0.0))

        return _let(mean_wordlen, lambda m: len_ok + punct_ok + word_ok(m))

    return _let(token_count(c, pattern), score)


def lang_guess(col, pattern: str = DEFAULT_TOKEN_PATTERN) -> Column:
    """n-gram/stopword language heuristic -> 2-letter code or 'und'.

    Scores each candidate language by marker-token hits; ties broken by
    language-code order for determinism. The token array and then the
    array of scores are each bound once per row (:func:`_let`).
    """
    langs = sorted(_LANG_MARKERS)

    def marker_count(toks, markers):
        # closure factory keeps the lambda unary (a binary lambda would
        # receive the element INDEX as its second argument)
        return F.size(F.filter(toks, lambda t: t.isin(list(markers))))

    def pick(scores: Column) -> Column:
        best_score = F.greatest(*[scores[i] for i in range(len(langs))])
        result = F.lit("und")
        # fold right-to-left so earlier (alphabetical) languages win ties
        for i, lang in reversed(list(enumerate(langs))):
            result = F.when((scores[i] == best_score) & (best_score > 0), F.lit(lang)).otherwise(
                result
            )
        return result

    return _let(
        tokens(col, pattern),
        lambda toks: _let(F.array(*[marker_count(toks, _LANG_MARKERS[g]) for g in langs]), pick),
    )


BPE_ISH_PATTERN = (
    # GPT-2-style pretokenizer shape: contractions, letter runs, digit
    # runs, punctuation runs, whitespace runs — a cheap proxy for "how
    # many BPE tokens would this text cost".
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"
)


def bpe_ish_token_count(col) -> Column:
    """Approximate LLM-token count via a BPE-style pretokenizer regex.

    Counts pretoken pieces (letter runs / digit runs / punctuation /
    contractions); real BPE splits pieces further, so this is a lower
    bound with the right shape for budget estimation. Pure Column expr.
    """
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_ISH_PATTERN), F.lit(0)))


def rolling_hash(col, base: int = 31, mod: int = (1 << 31) - 1) -> Column:
    """Polynomial rolling hash over the document's characters.

    h = sum(base^i * code(c_i)) mod p, computed left-to-right with
    ``((acc * base) + code) % p`` — values stay < 2^36, no overflow.
    JVM-side via aggregate over the char array; deterministic everywhere.
    """
    chars = F.split(_c(col), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


# ASCII control characters (minus \t \n \r, which are whitespace and
# handled by the collapse step) plus DEL. Kept as an explicit class so
# the DuckDB oracle can use the character-identical regex.
CONTROL_CHAR_PATTERN = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def canonicalize(col, lowercase: bool = True) -> Column:
    """Canonical text form for fingerprinting/dedup: strip ASCII control
    characters, collapse whitespace runs to single spaces, trim, and
    (by default) lowercase.

    Pure Column expression chain — two regexp_replace + trim + lower,
    all inside whole-stage codegen; a 100 TB corpus pass is map-only
    with zero Python. Charter §2B text-canonicalization op (no
    reference counterpart; the reference's only string ops are
    lower/upper/concat, src/etl/ETLProcess.java).
    """
    c = F.regexp_replace(_c(col), CONTROL_CHAR_PATTERN, "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return F.lower(c) if lowercase else c


def fingerprint(col) -> Column:
    """Stable 64-bit-ish document fingerprint: md5 of normalized text.

    Normalization = lowercase + collapse whitespace, so formatting-only
    variants collide (the useful property for dedup).
    """
    norm = F.regexp_replace(F.lower(F.trim(_c(col))), r"\s+", " ")
    return F.md5(norm)


def sentence_count(col) -> Column:
    """Sentence count via terminal-punctuation runs ([.!?]+), clamped to
    >= 1 so ratio features stay defined on fragment-only docs. A
    heuristic on purpose — full sentence segmentation is model-driven;
    readability formulas only need the run count."""
    return F.greatest(F.regexp_count(_c(col), F.lit(r"[.!?]+")), F.lit(1))


def syllable_count(col) -> Column:
    """Syllable estimate: vowel-group runs ([aeiouy]+) over the
    lowercased text. Token separators break runs, so the global count
    equals the per-word vowel-run sum — one regexp pass per document,
    zero explodes. The standard cheap estimator readability formulas
    were calibrated against."""
    return F.regexp_count(F.lower(_c(col)), F.lit("[aeiouy]+"))


# Characters that have no business in a clean training corpus: zero-
# width/invisible formatting, bidi override controls (Trojan Source),
# and a pragmatic set of Cyrillic/Greek homoglyphs of Latin letters.
# Explicit classes so the DuckDB oracle uses character-identical
# regexes.
ZERO_WIDTH_PATTERN = (
    r"[\x{200B}\x{200C}\x{200D}\x{2060}\x{FEFF}]"
)
BIDI_CONTROL_PATTERN = r"[\x{202A}-\x{202E}\x{2066}-\x{2069}]"
HOMOGLYPH_PATTERN = (
    # а е о р с х у / А Е О Р С Х (Cyrillic)
    r"[\x{0430}\x{0435}\x{043E}\x{0440}\x{0441}\x{0445}\x{0443}"
    r"\x{0410}\x{0415}\x{041E}\x{0420}\x{0421}\x{0425}"
    # Α Β Ε Η Ι Κ Μ Ν Ο Ρ Τ Υ Χ / ο (Greek)
    r"\x{0391}\x{0392}\x{0395}\x{0397}\x{0399}\x{039A}\x{039C}\x{039D}"
    r"\x{039F}\x{03A1}\x{03A4}\x{03A5}\x{03A7}\x{03BF}]"
)


def suspicious_char_counts(col) -> tuple[Column, Column, Column]:
    """Per-document counts of (zero-width, bidi-control, homoglyph)
    characters — the poisoning/prompt-injection hygiene signals a
    training corpus should gate on: invisible characters smuggle
    content past dedup and filters; bidi overrides reorder displayed
    text (Trojan Source); Latin-lookalike Cyrillic/Greek letters forge
    identifiers and evade exact matching. Three pure regexp counters,
    JVM codegen, no explodes."""
    c = _c(col)
    return (
        F.size(F.regexp_extract_all(c, F.lit(ZERO_WIDTH_PATTERN), F.lit(0))),
        F.size(F.regexp_extract_all(c, F.lit(BIDI_CONTROL_PATTERN), F.lit(0))),
        F.size(F.regexp_extract_all(c, F.lit(HOMOGLYPH_PATTERN), F.lit(0))),
    )
