"""Bind-once kernels: ``quality_score``, ``word_shingles``, ``cosine``
and the follow-up text and quality signals (``stopword_ratio``,
``lang_guess``, ``duplicate_ngram_ratio``, ``symbol_word_ratio``,
``max_word_repetition``) return exactly what their straightforward
formulations return, and an executed Filter or Generate over them splits
the text once.

The references below are the straightforward formulations, which name
the token array (or each norm) several times. A Filter or a Generate
gets no common-subexpression elimination, so they evaluate it once per
name; the library kernels bind it once (``functions._let``).
"""

from __future__ import annotations

import struct

import pytest

from pyspark.sql import functions as F

from etl_java_spark.functions import quality as QL
from etl_java_spark.functions import text as TX
from etl_java_spark.functions import vectors as V
from etl_java_spark.operators import dedup

TEXTS = [
    None,
    "",
    "   ",
    "\t\n ",
    "one",
    "one two",  # fewer than n tokens
    "one two three",  # exactly n tokens
    "Ünïcödé wörds ÄÖÜ 123 ४५६ 日本語 テスト",  # letters and digits of several scripts
    "Hello, World!!  ... foo-bar_baz 42",
    "this is a reasonably long document with many normal words " * 3,
    "!!! ??? ,,, ... ;;; ::: --- +++ === ### @@@ %%%",
    "a " * 12,
    "supercalifragilisticexpialidocious " * 11,
    # stopwords, each language's markers, repeated n-grams, symbols
    "The cat and the dog of the house is on the mat, and it is big",
    "el perro y la casa de que la",
    "der Hund und die Katze das ist",
    "le chat et les chiens des amis la",
    "la la la de de",  # a tie between languages
    "buy now buy now buy now buy now #deal @shop *** ... ~ | ^",
]

VECS = [
    (None, [1.0, 2.0]),
    ([], []),
    ([0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),  # zero vector
    ([0.0, 0.0], [0.0, 0.0]),
    ([1.0, 2.0, 3.0], [1.0, 2.0, 3.0]),
    ([1.0, -2.0, 3.5], [-4.0, 0.25, 6.0]),
    ([1e-20, 3e-20], [2e20, -1e20]),
    ([0.1, 0.2, 0.3], [0.3, 0.2, 0.1]),
    ([1.0, None], [1.0, 2.0]),  # NULL element
    ([1.0, 2.0], [1.0]),  # ragged
]


def _ref_tokens(col):
    return F.array_remove(F.split(F.lower(F.trim(F.col(col))), TX.DEFAULT_TOKEN_PATTERN), "")


def _ref_word_shingles(col, n=3):
    toks = _ref_tokens(col)
    sz = F.size(toks)
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, sz - (n - 1)) for i in range(n)])
    return F.when(sz < n, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]))
    )


def _ref_quality_score(col):
    c = F.col(col)
    n_tok = F.size(_ref_tokens(col))
    mean_wordlen = F.when(n_tok > 0, F.length(F.regexp_replace(c, r"\s+", "")).cast("double") / n_tok).otherwise(
        F.lit(0.0)
    )
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.5)).otherwise(F.lit(0.0))
    punct_ok = F.when(TX.punct_ratio(c) < 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
    word_ok = F.when((mean_wordlen >= 2.0) & (mean_wordlen <= 12.0), F.lit(0.25)).otherwise(F.lit(0.0))
    return len_ok + punct_ok + word_ok


def _ref_stopword_ratio(col):
    stops = "the a an and or of to in is are was for on with as by at it this that".split()
    toks = _ref_tokens(col)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(stops)))
    return F.when(F.size(toks) > 0, n_stop.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def _ref_lang_guess(col):
    toks = _ref_tokens(col)
    markers = {
        "en": ("the", "and", "of", "to", "is"),
        "es": ("el", "la", "de", "que", "y"),
        "de": ("der", "die", "und", "das", "ist"),
        "fr": ("le", "la", "et", "les", "des"),
    }

    def marker_count(ms):
        return F.size(F.filter(toks, lambda t: t.isin(list(ms))))

    scores = [(lang, marker_count(ms)) for lang, ms in sorted(markers.items())]
    best_score = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    for lang, s in reversed(scores):
        result = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(result)
    return result


def _ref_duplicate_ngram_ratio(col, n=3):
    sh = _ref_word_shingles(col, n)
    total = F.size(sh)
    uniq = F.size(F.array_distinct(sh))
    return F.when(total > 0, (total - uniq).cast("double") / total).otherwise(F.lit(0.0))


def _ref_max_word_repetition(col):
    toks = F.array_sort(_ref_tokens(col))
    n = F.size(toks)
    acc0 = F.struct(
        F.lit(0).alias("run"), F.lit(0).alias("best"), F.lit(None).cast("string").alias("prev")
    )
    folded = F.aggregate(
        toks,
        acc0,
        lambda acc, t: F.struct(
            F.when(acc["prev"].isNull() | (acc["prev"] != t), F.lit(1))
            .otherwise(acc["run"] + 1)
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["prev"].isNull() | (acc["prev"] != t), F.lit(1)).otherwise(acc["run"] + 1),
            ).alias("best"),
            t.alias("prev"),
        ),
    )
    return F.when(n > 0, folded["best"].cast("double") / n).otherwise(F.lit(0.0))


def _ref_symbol_word_ratio(col):
    c = F.col(col)
    n_sym = F.length(c) - F.length(F.regexp_replace(c, r"[#@\*\^\|~]|\.{3}", ""))
    n_tok = F.size(_ref_tokens(col))
    return F.when(n_tok > 0, n_sym.cast("double") / n_tok).otherwise(F.lit(0.0))


#: follow-up kernel -> (library kernel, inline reference, a Filter
#: predicate on its column)
FOLLOW_UPS = {
    "stopword_ratio": (TX.stopword_ratio, _ref_stopword_ratio, lambda c: c > 0.2),
    "lang_guess": (TX.lang_guess, _ref_lang_guess, lambda c: c == "en"),
    "duplicate_ngram_ratio": (QL.duplicate_ngram_ratio, _ref_duplicate_ngram_ratio,
                              lambda c: c > 0.1),
    "symbol_word_ratio": (QL.symbol_word_ratio, _ref_symbol_word_ratio, lambda c: c > 0.1),
    "max_word_repetition": (QL.max_word_repetition, _ref_max_word_repetition,
                            lambda c: c > 0.3),
}


def _ref_cosine(a, b):
    d = V.dot(a, b)
    na, nb = V.norm(a), V.norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def _bits(v):
    """Exact identity of a collected value: doubles by their bit pattern."""
    if isinstance(v, float):
        return struct.pack("<d", v)
    if isinstance(v, list):
        return [_bits(x) for x in v]
    return v


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    # parquet, not a local relation: the optimizer would evaluate a
    # Filter or Generate over local rows itself, and no exec node runs
    path = str(tmp_path_factory.mktemp("kernels") / "docs")
    spark.createDataFrame(list(enumerate(TEXTS)), "doc_id long, text string").write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def vecs(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("kernels") / "vecs")
    spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(VECS)], "id long, a array<double>, b array<double>"
    ).write.parquet(path)
    return spark.read.parquet(path)


def _select(df, key, new, ref):
    rows = df.select(key, new.alias("new"), ref.alias("ref")).collect()
    assert rows
    for r in rows:
        assert _bits(r.new) == _bits(r.ref), r


def _filter(df, key, new_pred, ref_pred):
    got = sorted(r[0] for r in df.filter(new_pred).select(key).collect())
    want = sorted(r[0] for r in df.filter(ref_pred).select(key).collect())
    assert got == want


def _explode(df, key, new_arr, ref_arr):
    def rows(arr):
        return sorted(
            (r[0], _bits(r[1]))
            for r in df.select(key, F.explode(arr).alias("v")).collect()
        )

    assert rows(new_arr) == rows(ref_arr)


def test_word_shingles_equal_reference(docs):
    for n in (1, 2, 3, 5):
        ref = _ref_tokens("text") if n == 1 else _ref_word_shingles("text", n)
        new = TX.word_shingles("text", n)
        _select(docs, "doc_id", new, ref)
        _filter(docs, "doc_id", F.size(new) >= 2, F.size(ref) >= 2)
        _explode(docs, "doc_id", new, ref)


def test_quality_score_equal_reference(docs):
    new, ref = TX.quality_score("text"), _ref_quality_score("text")
    _select(docs, "doc_id", new, ref)
    assert {r.q for r in docs.select(new.alias("q")).collect()} >= {0.0, 0.5, 1.0}
    for q in (0.25, 0.5, 0.99):
        _filter(docs, "doc_id", new >= q, ref >= q)
    _explode(docs, "doc_id", F.array(new), F.array(ref))


def test_cosine_equal_reference(vecs):
    new, ref = V.cosine("a", "b"), _ref_cosine("a", "b")
    _select(vecs, "id", new, ref)
    _select(vecs, "id", V.cosine("b", "a"), _ref_cosine("b", "a"))
    for t in (0.0, 0.5, 0.99):
        _filter(vecs, "id", new > t, ref > t)
    _explode(vecs, "id", F.array(new), F.array(ref))


def _splits_in(df, node: str) -> list[int]:
    """Occurrences of the token split in each executed ``node``
    (``FilterExec``: its condition; ``GenerateExec``: its generator)."""
    field = {"FilterExec": "condition", "GenerateExec": "generator"}[node]
    found = []

    def walk(p):
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan())
        if name == "WholeStageCodegenExec":
            return walk(p.child())
        if name == node:
            found.append(str(getattr(p, field)().toString()).count("split("))
        kids = p.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found


def test_filter_and_generate_split_text_once(docs):
    """The quality filter's executed Filter and ``minhash_signature``'s
    explode each split the text once (6 and 8 times when the token
    array is named inline)."""
    filtered = docs.filter(TX.quality_score("text") >= 0.99)
    assert _splits_in(filtered, "FilterExec") == [1]
    sigs = dedup.minhash_signature(filtered, "text", "doc_id")
    assert _splits_in(sigs, "GenerateExec") == [1]
    # the inline formulations, for contrast: what the counts guard against
    assert _splits_in(docs.filter(_ref_quality_score("text") >= 0.99), "FilterExec") == [6]
    inline = docs.select(F.explode(F.array_distinct(_ref_word_shingles("text"))))
    assert _splits_in(inline, "GenerateExec") == [8]


@pytest.mark.parametrize("kernel", sorted(FOLLOW_UPS))
def test_follow_up_kernels_equal_reference(docs, kernel):
    """Each follow-up kernel returns bit for bit what its inline form
    returns — over NULL, empty, whitespace-only and Unicode texts — in a
    Project, a Filter and a Generate; and the texts give the kernel more
    than one distinct value."""
    lib, inline, pred = FOLLOW_UPS[kernel]
    new, ref = lib("text"), inline("text")
    _select(docs, "doc_id", new, ref)
    _filter(docs, "doc_id", pred(new), pred(ref))
    _explode(docs, "doc_id", F.array(new), F.array(ref))
    assert len({r.k for r in docs.select(new.alias("k")).collect()}) > 2


@pytest.mark.parametrize("kernel", sorted(FOLLOW_UPS))
def test_follow_up_kernels_filter_splits_text_once(docs, kernel):
    """An executed Filter on each follow-up kernel splits the text once;
    the inline form splits it again for every name of the token array
    (2 to 32 times)."""
    lib, inline, pred = FOLLOW_UPS[kernel]
    assert _splits_in(docs.filter(pred(lib("text"))), "FilterExec") == [1]
    [splits] = _splits_in(docs.filter(pred(inline("text"))), "FilterExec")
    assert splits > 1
