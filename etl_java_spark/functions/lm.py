"""Corpus n-gram language-model scoring — a perplexity-style fluency
signal computed entirely inside the engine (no external model).

Charter §2B extension (no reference counterpart — RoberWaters/ETL-Java,
src/etl/ETLProcess.java:1-568). The classic data-quality trick: train a
tiny LM on the corpus itself and score each document by how predictable
its token transitions are. Boilerplate and fluent text score high;
gibberish, OCR noise, and wrong-language fragments score low. Real
pipelines use KenLM; the distributed shape (count -> smooth -> join ->
per-doc aggregate) is identical, and this stays 100% inside Spark.

Determinism contract: each conditional probability
``P(w2|w1) = (C12 + 1) / (C1 + V)`` is one correctly-rounded double
division of exact integers — bit-identical on every engine. The per-doc
mean then goes through an exact decimal sum (order-independent) rather
than a double sum, so the score is reproducible across partitionings
and matches the DuckDB oracle bitwise. ``ln`` is deliberately avoided:
libm/JVM log can disagree in the last ulp, and avg-probability induces
the same quality ordering for scoring purposes.

Scale: bigram extraction is array arithmetic on each row (map-only);
the model is two count tables built with map-side-combinable shuffles;
scoring joins exploded doc bigrams to the model on the bigram key — at
web scale the model table is Zipf-shaped, so prune it with a min-count
floor and let AQE handle the residual skew (the hot head of the
distribution is exactly what AQE's skew-join splitting is for).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoints import make_checkpointer, materialize, release


def token_array(col, pattern: str = "[^a-z0-9]+") -> Column:
    """Lowercased, empty-filtered token array (ASCII fixture tokenizer)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(F.trim(c)), pattern), lambda x: x != F.lit(""))


def bigram_array(col, pattern: str = "[^a-z0-9]+") -> Column:
    """Adjacent-token bigrams as 'w1 w2' strings (array arithmetic, no
    shuffle: transform over 0..n-2 indexing the token array twice)."""
    toks = token_array(col, pattern)
    # sequence(1, 0) would step BACKWARDS in Spark — guard docs with < 2
    # tokens to NULL (explode/transform of NULL emits nothing).
    idx = F.when(F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1))
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )


def bigram_fluency(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Score each document by the add-one-smoothed average probability of
    its adjacent-token bigrams under the corpus's own bigram model.

    Returns (id, n_bigrams, fluency) where fluency is the per-doc mean of
    ``(C(w1,w2) + 1) / (C(w1) + V)`` over the doc's bigram instances
    (docs with < 2 tokens emit no row), decimal-exact and rounded to 12.

    Three shuffles total regardless of corpus size: bigram counts,
    unigram counts (both map-side combinable), and the per-doc score
    aggregate. The vocab size V is a 1-row aggregate broadcast into the
    probability expression.
    """
    # NOT _spread (r13): the r12 single-split guard measured a LOSS on
    # every lm call site once re-measured quiet-box against in-session
    # controls (q125 1.68->1.49s, q183 0.84->0.72s, q323 1.08->0.85s
    # without it; q254 flat) — the per-doc tokenize work here is light
    # enough that the extra full-text round-robin shuffle (plus its
    # sort-before-repartition) costs more than the parallelism wins.
    # The heavy lifting (explode output) is redistributed by the
    # groupBy shuffle right after anyway. Contrast cms_build, where
    # the same guard measured a 1.4-2x WIN (kept there).
    toks_col = token_array(text_col, pattern)
    # adjacent pairs via two native slices zipped — no per-element
    # lambda/element_at overhead (measured ~2x on the explode stage);
    # slice length size-1 is 0 for docs with < 2 tokens -> empty array,
    # so the short-doc guard falls out of the arithmetic
    sliced = docs.select(
        F.col(id_col),
        F.slice(toks_col, 1, F.greatest(F.size(toks_col) - 1, F.lit(0))).alias(
            "w1s"
        ),
        F.slice(toks_col, 2, F.greatest(F.size(toks_col) - 1, F.lit(0))).alias(
            "w2s"
        ),
    )
    pairs = sliced.select(
        F.col(id_col), F.explode(F.arrays_zip("w1s", "w2s")).alias("p")
    ).select(id_col, F.col("p.w1s").alias("w1"), F.col("p.w2s").alias("w2"))
    # Collapse to per-doc bigram TYPES with instance counts, and pin the
    # result: every downstream table (global bigram counts, the scoring
    # join) derives from this one materialization instead of re-running
    # the tokenize+explode pipeline per consumer (measured 4 scans -> 2).
    doc_bg = (
        pairs.groupBy(id_col, "w1", "w2")
        .agg(F.count("*").alias("n"))
        .transform(materialize)
    )
    c_bigram = doc_bg.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))
    toks = docs.select(F.explode(toks_col).alias("w"))
    c_unigram = toks.groupBy("w").agg(F.count("*").alias("c1"))
    # vocab size = row count of the unigram table (no third corpus scan)
    vocab = c_unigram.agg(F.count("*").cast("double").alias("v"))

    prob = (F.col("c12").cast("double") + 1.0) / (
        F.col("c1").cast("double") + F.col("v")
    )
    # weight each bigram type by its instance count in DOUBLE (one
    # correctly-rounded multiply), then decimal-sum for order
    # independence
    weighted = (F.col("n").cast("double") * prob).cast("decimal(38,15)")
    return (
        doc_bg.join(c_bigram, ["w1", "w2"])
        .join(c_unigram, doc_bg.w1 == F.col("w"))
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.round(
                F.sum(weighted).cast("double") / F.sum("n").cast("double"),
                12,
            ).alias("fluency"),
        )
    )


def pmi_bigrams(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    topk: int = 30,
    pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Top collocations by pointwise mutual information — which adjacent
    token pairs co-occur far more than their unigram frequencies
    predict. The standard phrase-mining/tokenizer-merge signal
    ("new york", "machine learning"), computed corpus-wide.

    PMI's log is deliberately skipped (libm logs differ in the last
    ulp across engines); the RATIO

        r(w1, w2) = C(w1 w2) * N / (C(w1) * C(w2))

    is the same ordering, and it is ONE correctly-rounded double
    division of exact integer products (keep C*N below 2^53) — so the
    scores and the top-k cut are engine-bitwise. ``min_count`` floors
    bigram support (PMI is noise at tiny counts — a hapax pair of two
    hapax words scores N).

    Same scale shape as bigram_fluency: two map-side-combinable count
    shuffles, a 1-row total broadcast, and a Zipf-head-aware join (AQE
    skew-split handles the hot unigrams).
    """
    # not _spread — measured loss, see bigram_fluency (r13)
    toks_col = token_array(text_col, pattern)
    sliced = docs.select(
        F.slice(toks_col, 1, F.greatest(F.size(toks_col) - 1, F.lit(0))).alias(
            "w1s"
        ),
        F.slice(toks_col, 2, F.greatest(F.size(toks_col) - 1, F.lit(0))).alias(
            "w2s"
        ),
    )
    pairs = sliced.select(
        F.explode(F.arrays_zip("w1s", "w2s")).alias("p")
    ).select(F.col("p.w1s").alias("w1"), F.col("p.w2s").alias("w2"))
    bi = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    uni = (
        docs.select(F.explode(toks_col).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    tot = uni.agg(F.sum("c1").alias("n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1_w2"))
    ratio = (F.col("c12") * F.col("n")).cast("double") / (
        F.col("c1_w1") * F.col("c1_w2")
    ).cast("double")
    return (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "c12", "c1_w1", "c1_w2", ratio.alias("pmi_ratio")
        )
        .orderBy(F.col("pmi_ratio").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(topk)
    )


def trigram_fluency(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = "[^a-z0-9]+",
    lambda3: float = 0.5,
    lambda2: float = 0.375,
    lambda1: float = 0.125,
) -> DataFrame:
    """Interpolated trigram fluency per document — the order-3 upgrade
    of ``bigram_fluency``. Each trigram instance (w1 w2 w3) scores

        p = l3*P(w3|w1 w2) + l2*P(w3|w2) + l1*P(w3)

    with every conditional add-one smoothed against the corpus's own
    counts — a Jelinek-Mercer interpolation with fixed weights, the
    same backoff structure KenLM applies (with learned weights) when a
    trigram context is sparse. Longer context separates fluent prose
    from bag-of-common-words text far better than order 2; the
    interpolation keeps unseen trigram contexts from zeroing a doc.

    Determinism contract (same as bigram_fluency): every P() is one
    correctly-rounded double division of exact integer counts, the
    default interpolation weights are exact binary fractions (1/2, 3/8,
    1/8) so the weighted sum is deterministic double arithmetic in a
    fixed order, and the per-doc mean decimal-sums the per-instance
    scores (order-independent). ``ln`` is deliberately avoided.

    Scale: one tokenize pass feeds the per-doc trigram-type table
    (pinned — every model table and the scoring join derive from it),
    then three map-side-combinable count shuffles (trigram context,
    bigram context, unigram) sized by the corpus's distinct n-grams,
    Zipf-pruned naturally by their own sparsity; scoring joins move
    8-byte-ish keys and AQE skew-split covers the hot heads. Returns
    (id, n_trigrams, fluency) with fluency rounded to 12.
    """
    # not _spread — measured loss, see bigram_fluency (r13)
    toks_col = token_array(text_col, pattern)
    n = F.size(toks_col)
    sliced = docs.select(
        F.col(id_col),
        F.slice(toks_col, 1, F.greatest(n - 2, F.lit(0))).alias("w1s"),
        F.slice(toks_col, 2, F.greatest(n - 2, F.lit(0))).alias("w2s"),
        F.slice(toks_col, 3, F.greatest(n - 2, F.lit(0))).alias("w3s"),
    )
    tri = sliced.select(
        F.col(id_col), F.explode(F.arrays_zip("w1s", "w2s", "w3s")).alias("t")
    ).select(
        id_col,
        F.col("t.w1s").alias("w1"),
        F.col("t.w2s").alias("w2"),
        F.col("t.w3s").alias("w3"),
    )
    doc_tri = (
        tri.groupBy(id_col, "w1", "w2", "w3")
        .agg(F.count("*").alias("n"))
        .transform(materialize)
    )
    c_tri = doc_tri.groupBy("w1", "w2", "w3").agg(F.sum("n").alias("c123"))
    c_ctx2 = c_tri.groupBy("w1", "w2").agg(F.sum("c123").alias("c12"))
    c_bi = c_tri.groupBy("w2", "w3").agg(F.sum("c123").alias("c23"))
    c_ctx1 = c_bi.groupBy("w2").agg(F.sum("c23").alias("c2"))
    c_uni = (
        docs.select(F.explode(toks_col).alias("w3"))
        .groupBy("w3")
        .agg(F.count("*").alias("c3"))
    )
    stats = c_uni.agg(
        F.count("*").cast("double").alias("v"),
        F.sum("c3").cast("double").alias("tot"),
    )
    p3 = (F.col("c123").cast("double") + 1.0) / (F.col("c12").cast("double") + F.col("v"))
    p2 = (F.col("c23").cast("double") + 1.0) / (F.col("c2").cast("double") + F.col("v"))
    p1 = (F.col("c3").cast("double") + 1.0) / (F.col("tot") + F.col("v"))
    p = p3 * F.lit(lambda3) + p2 * F.lit(lambda2) + p1 * F.lit(lambda1)
    weighted = (F.col("n").cast("double") * p).cast("decimal(38,15)")
    return (
        doc_tri.join(c_tri, ["w1", "w2", "w3"])
        .join(c_ctx2, ["w1", "w2"])
        .join(c_bi, ["w2", "w3"])
        .join(c_ctx1, ["w2"])
        .join(c_uni, ["w3"])
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_trigrams"),
            F.round(
                F.sum(weighted).cast("double") / F.sum("n").cast("double"), 12
            ).alias("fluency"),
        )
    )


def bigram_cross_fluency(
    train_docs: DataFrame,
    score_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Cross-corpus fluency: score documents under a bigram model
    trained on a DIFFERENT corpus — the domain-mismatch detector
    (``bigram_fluency`` asks "is this fluent for its own corpus?";
    this asks "does this read like the reference domain?"), the cheap
    relational stand-in for cross-perplexity domain filtering.

    Same add-one-smoothed average probability as bigram_fluency, but
    counts, vocabulary, and V all come from ``train_docs``; bigrams or
    unigrams unseen in training contribute the smoothed floor
    1 / (0 + V) via LEFT joins with zero-coalesced counts. Returns
    (id, n_bigrams, oov_bigrams, fluency) — fluency decimal-summed and
    rounded to 12 (the bigram_fluency discipline).

    Scale: the model is two map-side-combinable count shuffles over
    the training corpus; scoring is two LEFT joins on bigram/unigram
    keys (Zipf head -> AQE skew splitting, same stance as
    bigram_fluency).
    """
    # not _spread — measured loss, see bigram_fluency (r13)

    def doc_bigrams(docs):
        toks_col = token_array(text_col, pattern)
        sliced = docs.select(
            F.col(id_col),
            F.slice(
                toks_col, 1, F.greatest(F.size(toks_col) - 1, F.lit(0))
            ).alias("w1s"),
            F.slice(
                toks_col, 2, F.greatest(F.size(toks_col) - 1, F.lit(0))
            ).alias("w2s"),
        )
        return sliced.select(
            F.col(id_col), F.explode(F.arrays_zip("w1s", "w2s")).alias("p")
        ).select(id_col, F.col("p.w1s").alias("w1"), F.col("p.w2s").alias("w2"))

    tr_pairs = doc_bigrams(train_docs)
    c_bigram = tr_pairs.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c12")
    )
    c_unigram = (
        train_docs.select(F.explode(token_array(text_col, pattern)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c1"))
    )
    vocab = c_unigram.agg(F.count("*").cast("double").alias("v"))

    doc_bg = score_docs.transform(doc_bigrams).groupBy(
        id_col, "w1", "w2"
    ).agg(F.count("*").alias("n"))
    scored = (
        doc_bg.join(c_bigram, ["w1", "w2"], "left")
        .join(c_unigram, doc_bg.w1 == F.col("w"), "left")
        .crossJoin(F.broadcast(vocab))
    )
    prob = (F.coalesce(F.col("c12"), F.lit(0)).cast("double") + 1.0) / (
        F.coalesce(F.col("c1"), F.lit(0)).cast("double") + F.col("v")
    )
    weighted = (F.col("n").cast("double") * prob).cast("decimal(38,15)")
    return scored.groupBy(id_col).agg(
        F.sum("n").cast("long").alias("n_bigrams"),
        F.sum(F.when(F.col("c12").isNull(), F.col("n")).otherwise(0))
        .cast("long")
        .alias("oov_bigrams"),
        F.round(
            F.sum(weighted).cast("double") / F.sum("n").cast("double"), 12
        ).alias("fluency"),
    )


def kneser_ney_fluency(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount_num: int = 3,
    discount_den: int = 4,
    pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Interpolated Kneser-Ney bigram fluency — the smoothing that made
    KenLM the corpus-quality workhorse: instead of add-one's uniform
    backoff, the continuation probability asks "how many DISTINCT
    histories does this word follow?", so boilerplate tokens that
    appear often but only after one history stop inflating scores.

        P_KN(w2|w1) = (c(w1 w2) - D) / c(w1 .)
                      + D * N1+(w1 .) / c(w1 .) * N1+(. w2) / T

    with D = discount_num/discount_den (default 3/4 — an exact binary
    fraction, so every product below is a correctly-rounded double),
    c(w1 .) = w1's count as a bigram HISTORY, N1+ the distinct-
    continuation / distinct-history counts, T = total distinct bigram
    types. Self-scoring (model = scored corpus) keeps every observed
    c >= 1, so the max(.,0) clip is vacuous and elided. Per-doc score =
    decimal-exact mean of P_KN over the doc's bigram instances,
    rounded at 12 — ln-free like bigram_fluency (means, not
    log-likelihoods, so no transcendental divergence across engines).

    Scale: the same three count shuffles as bigram_fluency plus two
    distinct-count aggregates over the bigram-TYPE table (already
    reduced); scoring joins hit model tables keyed on w1 / w2 /
    (w1, w2). Returns (id, n_bigrams, kn_fluency).
    """
    toks_col = token_array(text_col, pattern)
    sliced = docs.select(
        F.col(id_col),
        F.slice(toks_col, 1, F.greatest(F.size(toks_col) - 1, F.lit(0))).alias("w1s"),
        F.slice(toks_col, 2, F.greatest(F.size(toks_col) - 1, F.lit(0))).alias("w2s"),
    )
    pairs = sliced.select(
        F.col(id_col), F.explode(F.arrays_zip("w1s", "w2s")).alias("p")
    ).select(id_col, F.col("p.w1s").alias("w1"), F.col("p.w2s").alias("w2"))
    doc_bg = (
        pairs.groupBy(id_col, "w1", "w2")
        .agg(F.count("*").alias("n"))
        .transform(materialize)
    )
    # bigram TYPE table: c12 per type; every model stat derives from it
    bi = doc_bg.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))
    bi = materialize(bi)
    hist = bi.groupBy("w1").agg(
        F.sum("c12").alias("c1h"),            # c(w1 .)
        F.count("*").alias("n1f"),            # N1+(w1 .)
    )
    cont = bi.groupBy("w2").agg(F.count("*").alias("n1b"))  # N1+(. w2)
    types = bi.agg(F.count("*").cast("double").alias("t"))
    d = F.lit(discount_num).cast("double") / F.lit(discount_den).cast("double")
    p_kn = (
        (F.col("c12").cast("double") - d) / F.col("c1h").cast("double")
        + d * F.col("n1f").cast("double") / F.col("c1h").cast("double")
        * (F.col("n1b").cast("double") / F.col("t"))
    )
    scored = (
        doc_bg.join(bi, ["w1", "w2"])
        .join(hist, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
    )
    return scored.groupBy(id_col).agg(
        F.sum("n").cast("long").alias("n_bigrams"),
        F.round(
            F.sum(
                (F.col("n").cast("double") * p_kn).cast("decimal(38,15)")
            ).cast("double")
            / F.sum("n").cast("double"),
            12,
        ).alias("kn_fluency"),
    )


def bpe_merge_discovery(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rounds: int = 3,
    pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Token-level BPE merge discovery — the training loop of a BPE
    tokenizer, run for ``rounds`` greedy rounds over the corpus: count
    adjacent token pairs, pick the globally most frequent pair (count
    DESC, pair ASC tie-break), merge every non-overlapping left-to-right
    occurrence corpus-wide, repeat. Returns one row per round:
    (round, w1, w2, pair_count) — the learned merge table.

    The merge step is pure string algebra so BOTH engines replay it
    identically: each document's state is its tokens joined by TWO
    spaces; a round pads with one space each side and replaces
    `` w1  w2 `` with `` w1<US>w2 `` (US = chr(31)). The double-space
    separator is the trick — a replacement consumes one flanking space
    on each side and re-emits it, so neighbouring separators stay
    intact and consecutive occurrences all merge exactly like greedy
    left-to-right BPE (single-space joining would silently skip every
    second adjacent occurrence). Tokens contain no spaces by
    construction, so matches can never cross token boundaries.

    Scale: per round one map-side-combinable pair-count shuffle + a
    1-row TakeOrdered top pair broadcast into a map-only replace; the
    sequence table is checkpointed per round (pagerank's lineage
    discipline). Driver never touches data.
    """
    from ..functions.text import tokens as _tokens

    seqs: list[DataFrame] = []
    ckpt = make_checkpointer(seqs)
    seq = docs.select(
        F.col(id_col),
        F.array_join(_tokens(text_col, pattern), "  ").alias("__seq"),
    ).transform(ckpt)
    out = None
    for r in range(1, rounds + 1):
        toks = F.split(F.col("__seq"), "  ")
        toks = F.when(F.col("__seq") == "", F.array().cast("array<string>")).otherwise(toks)
        sliced = seq.select(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w1s"),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w2s"),
        )
        pairs = sliced.select(
            F.explode(F.arrays_zip("w1s", "w2s")).alias("p")
        ).select(F.col("p.w1s").alias("w1"), F.col("p.w2s").alias("w2"))
        top = (
            pairs.groupBy("w1", "w2")
            .agg(F.count("*").cast("long").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), F.col("w1").asc(), F.col("w2").asc())
            .limit(1)
            .select(F.lit(r).alias("round"), "w1", "w2", "pair_count")
            .transform(materialize)
        )
        out = top if out is None else out.unionByName(top)
        seq = (
            seq.crossJoin(F.broadcast(top.select("w1", "w2")))
            .select(
                F.col(id_col),
                F.trim(
                    F.expr("replace(' ' || __seq || ' ', "
                           " concat(' ', w1, '  ', w2, ' '), "
                           " concat(' ', w1, chr(31), w2, ' '))")
                ).alias("__seq"),
            )
            .transform(ckpt)
        )
    release(*seqs)  # the merge table reads no sequence round
    return out
