"""Corpus-hygiene operators for LLM training-data pipelines.

Charter §2B extensions (no reference counterpart — RoberWaters/ETL-Java
is a JDBC console ETL, src/etl/ETLProcess.java:1-568): benchmark
decontamination, C4-style duplicated-line removal, and SemDeDup-style
semantic (embedding-cluster) deduplication.

Scale stance shared by all three:
- the "small" side (benchmark shingle set, hot-line list, centroids) is
  broadcast; the corpus side is never shuffled more than once per
  logical step and never collected;
- candidate generation is blocked (per-cell / per-line-hash), never
  all-pairs;
- everything is pure Column expressions — no Python row UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import DEFAULT_TOKEN_PATTERN, word_shingles
from ..functions.vectors import cosine
from ..plans.checkpoints import materialize
from .dedup import _drop_hot_keys, _pair_join


# ---------------------------------------------------------------------------
# Benchmark decontamination


def contamination_hits(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    shingle_n: int = 3,
    token_pattern: str = DEFAULT_TOKEN_PATTERN,
) -> DataFrame:
    """Count, per corpus document, the DISTINCT word ``shingle_n``-grams it
    shares with any benchmark document.

    The standard train/test decontamination primitive: a corpus doc that
    shares enough n-grams with an eval benchmark is contaminated and must
    be dropped before training.

    Plan at scale: the benchmark shingle set is tiny relative to the
    corpus (eval suites are ~1e5 docs vs 1e9+ corpus docs), so it is
    deduplicated and **broadcast**; the corpus pass is then map-only —
    explode distinct shingles, broadcast-hash semi join, partial-count —
    with a single shuffle for the final per-doc count. The corpus text
    itself never moves: only (id, matched-shingle) pairs, and only for
    shingles that actually hit.

    Returns ``(id_col, n_hits)`` with ``n_hits >= 1`` (clean docs emit no
    row — at corpus scale the result is sparse by construction; left-anti
    join it against the corpus to drop contaminated docs, see
    ``decontaminate``).
    """
    bt = bench_text_col or text_col
    bench_sh = (
        bench.select(F.explode(word_shingles(bt, shingle_n, token_pattern)).alias("__sh"))
        .filter(F.col("__sh") != "")
        .distinct()
    )
    corpus_sh = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(text_col, shingle_n, token_pattern))).alias(
            "__sh"
        ),
    ).filter(F.col("__sh") != "")
    hits = corpus_sh.join(F.broadcast(bench_sh), "__sh", "left_semi")
    return hits.groupBy(id_col).agg(F.count("*").alias("n_hits"))


def decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
    **kw,
) -> DataFrame:
    """Drop corpus docs sharing >= ``min_hits`` distinct shingles with the
    benchmark set (left-anti join against ``contamination_hits``)."""
    flagged = contamination_hits(corpus, bench, text_col, id_col, **kw).filter(
        F.col("n_hits") >= min_hits
    )
    return corpus.join(flagged.select(id_col), id_col, "left_anti")


# ---------------------------------------------------------------------------
# C4-style duplicated-line removal


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    min_dup_docs: int = 2,
) -> DataFrame:
    """Remove boilerplate lines — lines occurring (trimmed-identical) in
    >= ``min_dup_docs`` DISTINCT documents — and reassemble each document
    from its surviving lines in original order (C4's "discard any line
    repeated across the corpus" rule).

    Plan at scale: one shuffle to count distinct docs per line, filtered
    to the hot-line list — which is SMALL by construction (only lines
    with corpus-wide repeats: navigation chrome, cookie banners, license
    headers) — then **broadcast** anti-join back onto the exploded lines
    (map-side), and one shuffle on ``id_col`` to reassemble. The full
    text column is never shuffled: reassembly moves (id, line_no, line)
    for surviving lines only.

    Empty/whitespace-only lines are never treated as boilerplate (they
    are structure, not content) and survive verbatim.

    Returns the input frame with ``text_col`` replaced by the cleaned
    text plus ``n_kept_lines`` / ``n_dropped_lines`` counts.
    """
    other = [c for c in df.columns if c != text_col]
    lines = df.select(
        *other, F.posexplode(F.split(F.col(text_col), F.lit(delimiter), -1)).alias(
            "__line_no", "__line"
        )
    ).withColumn("__key", F.trim(F.col("__line")))
    hot = (
        lines.filter(F.col("__key") != "")
        .groupBy("__key")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_dup_docs)
        .select("__key")
    )
    kept = lines.join(F.broadcast(hot), "__key", "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__line_no", "__line"))),
                    lambda s: s["__line"],
                ),
                delimiter,
            ).alias("__clean"),
            F.count("*").alias("n_kept_lines"),
        )
    )
    n_lines = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), F.lit(delimiter), -1)).alias("__n_total")
    )
    out = (
        df.drop(text_col)
        .join(rebuilt, id_col, "left")
        .join(n_lines, id_col)
        .select(
            *[F.col(c) for c in other],
            F.coalesce(F.col("__clean"), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_kept_lines"), F.lit(0)).alias("n_kept_lines"),
            (F.col("__n_total") - F.coalesce(F.col("n_kept_lines"), F.lit(0))).alias(
                "n_dropped_lines"
            ),
        )
    )
    return out


# ---------------------------------------------------------------------------
# SemDeDup: semantic (embedding-space) deduplication


def _assign_cells(df: DataFrame, vec_col: str, id_col: str, centroids: DataFrame,
                  centroid_id_col: str, out_id: str) -> DataFrame:
    """Nearest-centroid assignment, JVM-side and engine-reproducible:
    broadcast centroids, sequential-sum squared distance, (d2, cell)
    tie-break — the same arithmetic the q74 IVF oracle replays in DuckDB."""
    cents = F.broadcast(
        centroids.select(F.col(centroid_id_col).alias("__cell"), F.col(vec_col).alias("__cent"))
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("__cent"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = df.crossJoin(cents).select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias("__vec"),
        d2.alias("__d2"),
        F.col("__cell"),
    )
    w = Window.partitionBy(out_id).orderBy(F.col("__d2").asc(), F.col("__cell").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(out_id, "__vec", F.col("__cell").alias("cell"))
    )


def default_quantizer(df: DataFrame, vec_col: str, cells_divisor: int = 250) -> DataFrame:
    """Production quantizer: distributed pyspark.ml KMeans centroids
    (similarity.fit_centroids_ml) with corpus-proportional cell count
    max(8, n/divisor) — cells MUST grow with the corpus or intra-cell
    quadratic work blows up (measured 15.6x at 10x data with a fixed
    quantizer, SCALE.md)."""
    from pyspark.sql import functions as _F

    from .similarity import fit_centroids_ml

    n = df.count()
    if n < 2:
        # no pairs possible; a 1-cell identity quantizer avoids KMeans'
        # k >= 2 requirement
        return df.select(_F.lit(0).alias("cell"), _F.col(vec_col)).limit(1)
    # n/divisor cells, floored at KMeans' minimum k=2 — NOT at a larger
    # constant: a floor above n would give every vector its own cell and
    # no intra-cell pairs at all
    n_cells = max(2, min(n, n // cells_divisor))
    return fit_centroids_ml(df, vec_col, n_cells=n_cells)


def semantic_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids_df: DataFrame | None = None,
    threshold: float = 0.9,
    centroid_id_col: str = "cell",
) -> DataFrame:
    """SemDeDup candidate pairs: exact cosine >= ``threshold`` between
    members of the SAME k-means cell (Abbas et al. 2023 — semantic
    duplicates cluster together, so intra-cell comparison finds them
    without an all-pairs scan).

    Pairwise work is quadratic only WITHIN a cell; cells are bounded by
    the quantizer granularity (at 100 TB: ~sqrt(n) cells keeps expected
    cell width ~sqrt(n)). The default quantizer is the DISTRIBUTED
    pyspark.ml KMeans fit (``default_quantizer``); pass ``centroids_df``
    to reuse a prebuilt offline index (the IVF pattern) or to pin a
    deterministic quantizer for replay (q116's oracle).

    Returns ``(id_a, id_b, cell, cos_sim)`` with ``id_a < id_b``.
    """
    from ..functions.vectors import dot, norm

    if centroids_df is None:
        centroids_df = default_quantizer(df, vec_col)
    assigned = _assign_cells(df, vec_col, id_col, centroids_df, centroid_id_col, id_col)
    # Precompute each row's norm ONCE (identical doubles to a per-pair
    # norm: same array -> same left-to-right sum), so each of the
    # O(cell^2) pairs pays one array pass (the dot) instead of three.
    assigned = assigned.withColumn("__norm", norm(F.col("__vec")))
    # The cell join has only n_cells distinct keys, so the scoring work
    # would land on n_cells tasks; hash-partition on the (id_a, id_b)
    # pair key — effectively unique, so the pairs spread across the full
    # shuffle width before the per-pair dot product (the expensive part)
    # and every core scores.
    pairs = _pair_join(
        assigned, assigned, id_col, ["cell"], ["cell", "__vec", "__norm"]
    ).repartition(F.col("id_a"), F.col("id_b"))
    cos = F.when(
        (F.col("__norm_a") > 0) & (F.col("__norm_b") > 0),
        dot(F.col("__vec_a"), F.col("__vec_b")) / (F.col("__norm_a") * F.col("__norm_b")),
    ).otherwise(F.lit(0.0))
    return pairs.select(
        "id_a", "id_b", F.col("cell_a").alias("cell"), cos.alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids_df: DataFrame | None = None,
    threshold: float = 0.9,
    centroid_id_col: str = "cell",
) -> DataFrame:
    """Keep-min-id SemDeDup: drop every row having a LOWER-id row in the
    same cell with cosine >= ``threshold``. Deterministic survivor rule
    (min id), same as ``dedup.exact_dedup_keep_min``. Default quantizer
    = distributed KMeans fit (see semantic_dup_pairs)."""
    dropped = (
        semantic_dup_pairs(df, vec_col, id_col, centroids_df, threshold, centroid_id_col)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Exact duplicate-substring spans (character k-gram blocking)


def dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    every: int = 16,
) -> DataFrame:
    """Per-document exact duplicate-substring statistics via
    CONTENT-DEFINED k-gram sampling (winnowing style): hash every
    character ``k``-gram, keep the ~1/``every`` whose hash ≡ 0, and
    count how many of a document's kept spans occur verbatim in at
    least one OTHER document.

    Content-defined — not position-strided — selection is the load-
    bearing choice: a duplicated region keeps the same k-grams and
    therefore the same SELECTED k-grams wherever it lands in the new
    document, so boilerplate injected at any offset is still caught
    (a fixed-stride sampler goes blind the moment an insertion shifts
    alignment). This is the sampled form of exact-substring training-
    data dedup: any duplicated run of >= k + every·E chars is expected
    to contribute E shared samples.

    Shapes at 100 TB: the explode is len rows per doc but the hash
    filter runs map-side in the same stage, so only ~len/every span
    hashes per doc reach the distinct/shuffle; the duplicated-hash
    list (only hashes seen in >=2 docs) broadcasts back onto the
    samples. The grouping key is a 60-bit hash, never the string, so
    shuffles carry 8-byte keys. Hash = md5-prefix (md5_hash60), which
    any engine reproduces bit-for-bit — collisions at 2^-60 merge two
    spans, the standard accepted risk. Returns
    (id, n_spans, n_dup_spans, dup_frac) for every doc with at least
    one selected span; dup_frac is one double division of exact counts.
    """
    from .dedup import _spread, md5_hash60

    # _spread (r12): one md5 per character position, all map-side
    # before the span shuffle — spread single-split scans (no-op at
    # real scale)
    base = _spread(
        df.select(F.col(id_col), F.col(text_col).alias("__t")).filter(
            F.length("__t") >= k
        )
    )
    spans = base.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(1), F.length("__t") - (k - 1), F.lit(1))
        ).alias("__pos"),
        F.col("__t"),
    ).select(
        F.col(id_col),
        md5_hash60(F.expr(f"substring(__t, __pos, {k})")).alias("__h"),
    ).filter(F.col("__h") % every == 0)
    # A doc repeating a span internally must not count as cross-doc
    # duplication: collapse to distinct (doc, span) first.
    doc_spans = spans.distinct()
    shared = (
        doc_spans.groupBy("__h")
        .agg(F.count("*").alias("__docs"))
        .filter(F.col("__docs") >= 2)
        .select("__h")
    )
    flagged = doc_spans.join(F.broadcast(shared), "__h", "left_semi").groupBy(
        id_col
    ).agg(F.count("*").alias("n_dup_spans"))
    totals = doc_spans.groupBy(id_col).agg(F.count("*").alias("n_spans"))
    return (
        totals.join(flagged, id_col, "left")
        .select(
            F.col(id_col),
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            (
                F.coalesce("n_dup_spans", F.lit(0)).cast("double")
                / F.col("n_spans").cast("double")
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Train/eval split leakage audit


def split_leakage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_col: str = "split",
    shingle_n: int = 1,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
    token_pattern: str | None = None,
    candidate_strategy: str = "exact",
    minhash_hashes: int = 32,
    minhash_bands: int = 16,
    minhash_max_bucket: int | None = 500,
) -> DataFrame:
    """Near-duplicate pairs that CROSS split boundaries — the pairs that
    leak training text into evaluation. A train/test split made before
    dedup silently inflates eval scores; this audit quantifies it.

    ``candidate_strategy`` picks the pair-generation path:

    - ``"exact"`` (default, the oracle-checkable path): inverted-index
      blocking and exact shingle counts from
      ``dedup.ngram_jaccard_pairs`` — recall 1.0 as long as no shingle
      sits in more than ``max_shingle_freq`` docs (``None`` lifts the
      cap), but worst-case candidate volume is
      O(max_shingle_freq x corpus-shingles). Right for audits that must
      certify "zero leaks" at benchmark scale.
    - ``"minhash"`` (the 100 TB path): LSH banding over MinHash
      signatures (``dedup.minhash_candidate_pairs``) followed by exact
      Jaccard re-scoring of candidates only (``dedup.jaccard_verify``)
      — candidate volume tracks the true near-dup mass, not the corpus
      shingle mass. Banding defaults (16 bands x 2 rows from 32 hashes)
      give P(candidate) ~ 0.99 at J = 0.5; recall is probabilistic, so
      pairs sitting exactly at the threshold may escape (the same
      contract as the q50/q220 family). Precision is exact either way
      (survivors are re-scored on full shingle sets).

    The split labels are joined on AFTER pair generation, so the
    cross-split filter is free. Returns
    (id_a, id_b, split_a, split_b, jaccard) for pairs whose splits
    differ, jaccard >= threshold.
    """
    from . import dedup as DD

    if candidate_strategy == "minhash":
        if token_pattern is not None:
            raise ValueError(
                "candidate_strategy='minhash' uses the default token pattern "
                "(minhash_signature/jaccard_verify do not take token_pattern)"
            )
        rows_per_band = max(1, minhash_hashes // minhash_bands)
        sigs = DD.minhash_signature(df, text_col, id_col, minhash_hashes, shingle_n)
        cands = DD.minhash_candidate_pairs(
            sigs, id_col, minhash_bands, rows_per_band, minhash_max_bucket
        )
        pairs = DD.jaccard_verify(df, cands, text_col, id_col, shingle_n, threshold)
    elif candidate_strategy == "exact":
        pairs = DD.ngram_jaccard_pairs(
            df, text_col, id_col, shingle_n, threshold, max_shingle_freq,
            token_pattern,
        )
    else:
        raise ValueError(
            f"candidate_strategy must be 'exact' or 'minhash', got {candidate_strategy!r}"
        )
    labels = df.select(F.col(id_col), F.col(split_col))
    out = (
        pairs.join(
            labels.withColumnRenamed(id_col, "id_a").withColumnRenamed(
                split_col, "split_a"
            ),
            "id_a",
        )
        .join(
            labels.withColumnRenamed(id_col, "id_b").withColumnRenamed(
                split_col, "split_b"
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )
    return out.select("id_a", "id_b", "split_a", "split_b", "jaccard")


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    shingle_n: int = 3,
    hash_shingles: bool = True,
) -> DataFrame:
    """Pairwise shingle-set Jaccard BETWEEN corpus groups (sources,
    crawls, snapshots) — the corpus-level overlap matrix a mixture
    designer reads before weighting sources: two crawls of the same
    sites overlap heavily and should not be double-counted in a token
    budget; a genuinely novel source overlaps nobody.

    Shape: one distinct-reduce to (group, shingle) — the only pass over
    the text — then per-group set sizes and a self-equi-join on the
    shingle key for pairwise intersections. A shingle shared by g
    groups fans out to C(g,2) pairs, bounded by the GROUP count (tens),
    never the corpus, so the join output is at most
    #distinct-shingles x C(#groups,2) and in practice tracks the true
    shared mass. With ``hash_shingles`` the shuffle key is an 8-byte
    xxhash64 instead of the shingle string (the q156 trick; a cross-
    group hash collision inflates an intersection with probability
    ~2^-64 — accept it at scale, disable it for oracle-exact audits).

    Returns (group_a, group_b, inter, size_a, size_b, jaccard) for
    group_a < group_b, jaccard rounded to 12.
    """
    sh = F.explode(F.array_distinct(word_shingles(text_col, shingle_n))).alias("__sh")
    gs = df.select(F.col(group_col).alias("__g"), sh)
    if hash_shingles:
        gs = gs.select("__g", F.xxhash64("__sh").alias("__sh"))
    gs = gs.distinct().transform(materialize)
    sizes = gs.groupBy("__g").agg(F.count("*").alias("sz"))
    inter = (
        gs.alias("a")
        .join(gs.alias("b"), "__sh")
        .filter(F.col("a.__g") < F.col("b.__g"))
        .groupBy(
            F.col("a.__g").alias("group_a"), F.col("b.__g").alias("group_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(
            sizes.select(F.col("__g").alias("group_a"), F.col("sz").alias("size_a")),
            "group_a",
        )
        .join(
            sizes.select(F.col("__g").alias("group_b"), F.col("sz").alias("size_b")),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            "inter",
            "size_a",
            "size_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
                12,
            ).alias("jaccard"),
        )
    )
    return out


def dsir_importance(
    df: DataFrame,
    target_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
) -> DataFrame:
    """Data Selection via Importance Resampling weights (Xie et al.
    2023, ln-free): score every document by how target-like its token
    distribution is, so a pipeline can up-sample raw web text that
    looks like a trusted target domain. ``target_pred`` is a boolean
    Column marking the TARGET docs; the complement is the raw pool.

    Per token w the importance ratio under add-one smoothing is

        r(w) = P_target(w) / P_raw(w)
             = ((ct+1) * (Nr+V)) / ((cr+1) * (Nt+V))

    computed as ONE double division of exact integer products (counts
    stay below 2^53 far past 100 TB of tokens) — the paper's log-ratio
    sum is replaced by the mean ratio, which induces the same
    "more-target-like" ordering per instance without libm ln. Per doc:
    the decimal-exact mean of r over its token INSTANCES (the
    bigram_fluency contract), rounded to 12.

    ``num_buckets`` hashes tokens into that many buckets first (DSIR's
    hashed feature space — the production switch when the vocabulary
    itself is too large to shuffle; counts then aggregate per bucket).
    Bucketed scores differ from exact ones only through collisions.

    Scale: two map-side-combinable count shuffles over the vocab (or
    bucket space), a 1-row stat broadcast, one scoring join keyed by
    token/bucket (AQE skew-split owns the Zipf head), one per-doc
    decimal aggregate. Returns (id, n_tokens, importance, is_target).
    """
    from ..functions.lm import token_array

    toks = df.select(
        F.col(id_col),
        target_pred.alias("__t"),
        F.explode(token_array(text_col)).alias("w"),
    )
    if num_buckets is not None:
        toks = toks.withColumn("w", F.pmod(F.xxhash64("w"), F.lit(num_buckets)))
    doc_tok = (
        toks.groupBy(id_col, "__t", "w")
        .agg(F.count("*").alias("n"))
        .transform(materialize)
    )
    counts = doc_tok.groupBy("w").agg(
        F.sum(F.when(F.col("__t"), F.col("n")).otherwise(F.lit(0))).alias("ct"),
        F.sum(F.when(~F.col("__t"), F.col("n")).otherwise(F.lit(0))).alias("cr"),
    )
    stats = counts.agg(
        F.count("*").cast("double").alias("v"),
        F.sum("ct").cast("double").alias("nt"),
        F.sum("cr").cast("double").alias("nr"),
    )
    ratio = ((F.col("ct") + 1).cast("double") * (F.col("nr") + F.col("v"))) / (
        (F.col("cr") + 1).cast("double") * (F.col("nt") + F.col("v"))
    )
    weighted = (F.col("n").cast("double") * ratio).cast("decimal(38,15)")
    return (
        doc_tok.join(counts, "w")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col, "__t")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.round(
                F.sum(weighted).cast("double") / F.sum("n").cast("double"), 12
            ).alias("importance"),
        )
        .select(
            id_col, "n_tokens", "importance", F.col("__t").alias("is_target")
        )
    )


def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    shingle_n: int = 3,
) -> DataFrame:
    """Distinct-n diversity per corpus group — the self-BLEU-style
    mode-collapse screen: what fraction of a source's n-gram INSTANCES
    are distinct TYPES? Templated/boilerplate sources (or synthetic
    text stuck in a loop) score low; diverse prose scores high. Read
    together: ``source_overlap`` finds redundancy BETWEEN sources, this
    finds redundancy WITHIN one.

    Returns per group: (group, n_docs, n_tokens, distinct_tokens,
    diversity_1, n_ngrams, distinct_ngrams, diversity_n), ratios
    rounded to 12. One explode pass; count + count-distinct aggregate
    per group (Spark's two-phase distinct expand — map-side partials,
    no per-group row limit), so the shape is a count shuffle at any
    corpus size.
    """
    from ..functions.text import tokens as tok_fn

    g = F.col(group_col).alias("__g")
    uni = df.select(g, F.explode(tok_fn(text_col)).alias("w")).groupBy("__g").agg(
        F.count("*").alias("n_tokens"),
        F.count_distinct("w").alias("distinct_tokens"),
    )
    tri = df.select(g, F.explode(word_shingles(text_col, shingle_n)).alias("s")).groupBy(
        "__g"
    ).agg(
        F.count("*").alias("n_ngrams"),
        F.count_distinct("s").alias("distinct_ngrams"),
    )
    docs = df.groupBy(g).agg(F.count("*").alias("n_docs"))
    return (
        docs.join(uni, "__g")
        .join(tri, "__g")
        .select(
            F.col("__g").alias(group_col),
            "n_docs",
            "n_tokens",
            "distinct_tokens",
            F.round(
                F.col("distinct_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
                12,
            ).alias("diversity_1"),
            "n_ngrams",
            "distinct_ngrams",
            F.round(
                F.col("distinct_ngrams").cast("double")
                / F.col("n_ngrams").cast("double"),
                12,
            ).alias("diversity_n"),
        )
    )


def dedup_cluster_profile(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """What dedup will actually delete, BEFORE deleting it: resolve
    near-dup pairs into clusters (``dedup.dedup_clusters``), keep the
    min-id representative per cluster, and report the cluster-size
    histogram with the token mass the sweep removes. The release-notes
    table for a dedup run ("1.2M clusters of size 2, 40k of size 10+,
    8.1B tokens dropped") and the sanity gate against over-merging (a
    single giant cluster means the threshold or banding is wrong).

    Docs in no pair are size-1 clusters (zero loss) so the histogram
    partitions the whole corpus. Returns (cluster_size, n_clusters,
    n_docs, tokens_lost) sorted by size. Cost on top of the pair list:
    label propagation (one round of small joins per hop of the longest
    chain) + one token-count scan + two group-bys — nothing quadratic.
    """
    from ..functions.text import token_count
    from . import dedup as DD

    labels = DD.dedup_clusters(pairs)
    toks = df.select(
        F.col(id_col), token_count(text_col).alias("__tok")
    )
    labeled = toks.join(
        labels.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("__c", F.coalesce(F.col("cluster_id"), F.col(id_col)))
    per_cluster = labeled.groupBy("__c").agg(
        F.count("*").alias("cluster_size"),
        F.sum(F.when(F.col(id_col) != F.col("__c"), F.col("__tok")).otherwise(F.lit(0))).alias(
            "__lost"
        ),
    )
    return (
        per_cluster.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            (F.count("*") * F.col("cluster_size")).cast("long").alias("n_docs"),
            F.sum("__lost").cast("long").alias("tokens_lost"),
        )
        .orderBy("cluster_size")
    )


def zipf_fit(
    df: DataFrame,
    text_col: str,
    top_n: int = 1000,
    pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: regress
    ln(freq) on ln(rank) for the top ``top_n`` token types and report
    the slope (natural text sits near -1; templated/boilerplate-heavy
    corpora flatten, spam with exploded vocabularies steepen) — a
    one-number corpus-health fingerprint next to q262's coverage curve.

    Shapes: one token-count shuffle, then the top-N arrive via
    orderBy().limit() — Spark plans TakeOrderedAndProject (per-partition
    heaps + a driver merge of N), never a global vocab sort. The four
    regression sums fold over the N ranked points in RANK ORDER inside
    codegen (float sums of ln() terms are order-sensitive; the fixed
    fold replays bitwise, and ln itself is portable on this stack — the
    q248 precedent). Slope/intercept are fixed double expressions.

    Returns one row: (n_terms, top_freq, slope, intercept).
    """
    toks = df.select(
        F.explode(
            F.array_remove(
                F.split(F.lower(F.trim(F.col(text_col))), pattern), ""
            )
        ).alias("__w")
    )
    counts = toks.groupBy("__w").agg(F.count("*").alias("__c"))
    top = counts.orderBy(F.col("__c").desc(), F.col("__w").asc()).limit(top_n)
    ranked = top.select(
        "__c",
        F.row_number()
        .over(Window.orderBy(F.col("__c").desc(), F.col("__w").asc()))
        .alias("__r"),
    ).select(
        "__r",
        "__c",
        F.log(F.col("__r").cast("double")).alias("__x"),
        F.log(F.col("__c").cast("double")).alias("__y"),
    )
    arr = F.array_sort(
        F.collect_list(F.struct("__r", F.col("__x"), F.col("__y")))
    )

    def fold(term):
        return F.aggregate(arr, F.lit(0.0), lambda acc, s: acc + term(s))

    agg = ranked.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.max(F.when(F.col("__r") == 1, F.col("__c"))).cast("long").alias(
            "top_freq"
        ),
        fold(lambda s: s["__x"]).alias("sx"),
        fold(lambda s: s["__y"]).alias("sy"),
        fold(lambda s: s["__x"] * s["__y"]).alias("sxy"),
        fold(lambda s: s["__x"] * s["__x"]).alias("sxx"),
    )
    n = F.col("n_terms").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        "n_terms",
        "top_freq",
        F.round(slope, 12).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 12).alias(
            "intercept"
        ),
    )


def tokenizer_fertility(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility report per group (typically language): how
    many characters and UTF-8 bytes each pretoken carries — the
    standard readout for spotting languages a tokenizer serves badly
    (high fertility = more tokens per unit of text = higher training
    and serving cost for the same content).

    Per group: document/char/byte counts, whitespace-ish word count
    (DEFAULT_TOKEN_PATTERN splits) and BPE-style pretoken count
    (functions/text.py:bpe_ish_token_count), then

        chars_per_token  = chars / bpe_tokens
        bytes_per_char   = bytes / chars
        tokens_per_word  = bpe_tokens / words

    Counts are exact integers from one grouped aggregate (map-side
    combined); the three ratios are single double divisions of exact
    integers — engine-bitwise. Groups with zero tokens/words emit NULL
    ratios via try-style guards rather than ANSI division errors.

    Scale: one explode-free pass (regexp counters, no token explode) +
    one small-key shuffle.
    """
    from ..functions.text import bpe_ish_token_count, token_count

    t = F.col(text_col)
    per = df.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length(t).cast("decimal(28,0)")).cast("long").alias("chars"),
        F.sum(F.octet_length(t).cast("decimal(28,0)"))
        .cast("long")
        .alias("bytes"),
        F.sum(token_count(t).cast("decimal(28,0)")).cast("long").alias("words"),
        F.sum(bpe_ish_token_count(t).cast("decimal(28,0)"))
        .cast("long")
        .alias("bpe_tokens"),
    )
    safe_div = lambda a, b: F.when(  # noqa: E731
        F.col(b) > 0, F.col(a).cast("double") / F.col(b).cast("double")
    )
    return per.select(
        group_col, "n_docs", "chars", "bytes", "words", "bpe_tokens",
        safe_div("chars", "bpe_tokens").alias("chars_per_token"),
        safe_div("bytes", "chars").alias("bytes_per_char"),
        safe_div("bpe_tokens", "words").alias("tokens_per_word"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS-style local document fingerprinting)

WINNOW_HASH_MOD = (1 << 31) - 1  # Mersenne prime; accumulator < 2^36


def _shingle_poly_hash(shingle) -> "F.Column":
    """Polynomial char hash of one shingle string, engine-reproducible:
    fold ``(acc * 31 + codepoint) % (2^31 - 1)`` left to right.
    Implemented as transform-over-positions + aggregate (NOT split on
    the empty string, whose trailing-element behavior differs across
    engines); DuckDB replays it with list_transform(range) +
    list_reduce over the prepended-zero code list."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(shingle)),
        lambda i: F.ascii(shingle.substr(i, F.lit(1))),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % WINNOW_HASH_MOD,
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    window: int = 4,
    token_pattern: str = DEFAULT_TOKEN_PATTERN,
) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, the MOSS fingerprinter):
    per document, hash every ``shingle_n``-gram, slide a ``window`` over
    consecutive hashes and keep each window's MINIMUM — the selected
    hash values (deduplicated) are the document's fingerprints.

    Why this beats full-shingle indexing at corpus scale: winnowing
    keeps ~2/(window+1) of the shingle hashes while GUARANTEEING that
    any shared run of ``shingle_n + window - 1`` tokens between two
    documents contributes at least one shared fingerprint — the
    detection floor is a parameter, not luck. The inverted index built
    on fingerprints is ~window/2 x smaller than the full shingle index
    the exact-Jaccard path uses.

    Everything is higher-order Column expressions (hash fold, window
    minima) inside whole-stage codegen; one explode + distinct at the
    end. Documents with fewer than ``shingle_n + window - 1`` tokens
    yield the minimum over all their shingle hashes (one fingerprint).

    Returns distinct (id_col, fp) rows.
    """
    # Each stage is its OWN projection so every lambda references a
    # materialized attribute, not a computed expression: an outer
    # expression inside a higher-order lambda is re-evaluated PER
    # ELEMENT (the word_shingles O(n^2) trap) — referencing `hashes`
    # from the window-min lambda without this staging re-hashed the
    # whole document once per window (measured 20s -> 2s at sf0.01).
    sg = df.select(
        F.col(id_col), word_shingles(text_col, shingle_n, token_pattern).alias("__sg")
    )
    hs = sg.select(
        F.col(id_col), F.transform("__sg", _shingle_poly_hash).alias("__hs")
    )
    m = F.size("__hs") - window + 1
    fps = hs.select(
        F.col(id_col),
        F.when(m <= 1, F.array(F.array_min("__hs")))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), m),
                lambda i: F.array_min(F.slice(F.col("__hs"), i, window)),
            )
        )
        .alias("__fps"),
    )
    return (
        fps.select(F.col(id_col), F.explode(F.array_distinct("__fps")).alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


def winnow_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_freq: int = 1000,
    token_pattern: str = DEFAULT_TOKEN_PATTERN,
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints:
    inverted index on the (winnowed, ~window/2 x smaller) fingerprint
    set, pair counting by self-join, keep pairs sharing at least
    ``min_shared`` fingerprints. ``max_fp_freq`` drops boilerplate
    fingerprints appearing in more than N docs (the hot-shingle cap of
    ngram_jaccard_pairs, applied post-winnowing).

    Returns (id_a, id_b, n_shared) with id_a < id_b. Candidates, not a
    verdict: feed them to jaccard_verify for exact scoring when the
    pipeline needs a threshold instead of a shared-run floor.
    """
    fp = winnow_fingerprints(
        df, text_col, id_col, shingle_n, window, token_pattern
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    fp = _drop_hot_keys(fp, ["fp"], max_fp_freq).repartition(par, "fp")
    return (
        _pair_join(fp, fp, id_col, ["fp"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def dup_span_intervals(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    window: int = 4,
    min_tokens: int = 20,
    max_fp_freq: int = 200,
    max_gap: int | None = None,
    token_pattern: str = DEFAULT_TOKEN_PATTERN,
) -> DataFrame:
    """MAXIMAL cross-document duplicated token intervals — the
    exact-substring decontamination/dedup readout ("remove duplicated
    substrings of >= N tokens", the Lee-et-al training-data dedup
    policy) built as a fingerprint-chain islands-and-gaps merge over
    the winnowing index, instead of the suffix array a single machine
    would use:

    1. POSITIONED winnowing fingerprints: per doc, each ``window`` of
       consecutive ``shingle_n``-gram hashes selects its (leftmost)
       minimum — kept as (shingle position, hash), distinct. Same
       guarantee as :func:`winnow_fingerprints` (any shared run of
       shingle_n + window - 1 tokens contributes a shared
       fingerprint), with the position kept.
    2. Matching fingerprints across doc pairs align on a DIAGONAL
       (pos_a - pos_b constant for a contiguous shared run — the
       banded-alignment trick); a prefix insertion just shifts the
       diagonal, it never hides the run.
    3. Islands-and-gaps: per (pair, diagonal), consecutive matched
       positions <= ``max_gap`` apart (default shingle_n + window - 1,
       the winnowing selection pitch) merge into one maximal interval
       via a single lag + running-sum window over the MATCH table —
       which the ``max_fp_freq`` cap keeps bounded, never the corpus.

    Boundary precision: interval EDGES are approximate by up to
    ~(shingle_n + window) tokens per side (edge windows select minima
    influenced by out-of-run hashes), so size ``min_tokens`` with that
    slack; the suffix-array method recovers exact edges at the cost of
    not distributing. Spans shorter than ``min_tokens`` drop
    (single-fingerprint coincidences and short boilerplate die here).
    Output:
    (id_a, id_b, a_start, a_end, b_start, b_end, n_tokens) with
    id_a < id_b, 1-based inclusive TOKEN positions, one row per
    maximal interval (overlapping intervals on different diagonals —
    internal repetition — stay separate rows). All-integer, so the
    whole pipeline hash-replays on any engine.

    100 TB shape: the explode keeps ~2/(window+1) of shingle positions;
    the only quadratic term (per-fingerprint pair fan-out) is capped by
    ``max_fp_freq``; the island window partitions by (pair, diagonal) —
    match-table-sized, never document-count-sized.
    """
    if max_gap is None:
        max_gap = shingle_n + window - 1
    sg = df.select(
        F.col(id_col),
        word_shingles(text_col, shingle_n, token_pattern).alias("__sg"),
    )
    hs = sg.select(
        F.col(id_col), F.transform("__sg", _shingle_poly_hash).alias("__hs")
    )
    m = F.size("__hs") - window + 1
    # staged projections (the winnow_fingerprints discipline): each
    # lambda references a materialized attribute
    pos = hs.select(
        F.col(id_col),
        F.col("__hs"),
        F.when(
            m <= 1,
            F.array(F.array_position("__hs", F.array_min("__hs"))),
        )
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), m),
                lambda i: i.cast("long")
                - 1
                + F.array_position(
                    F.slice(F.col("__hs"), i, window),
                    F.array_min(F.slice(F.col("__hs"), i, window)),
                ),
            )
        )
        .alias("__ps"),
    )
    fp = pos.select(
        F.col(id_col),
        F.explode(F.array_distinct("__ps")).alias("__p"),
        F.col("__hs"),
    ).select(
        F.col(id_col),
        F.col("__p").cast("long").alias("p"),
        F.element_at("__hs", F.col("__p").cast("int")).alias("fp"),
    )
    kept = _drop_hot_keys(fp, ["fp"], max_fp_freq)
    matches = _pair_join(kept, kept, id_col, ["fp"], ["p"]).select(
        "id_a", "id_b", F.col("p_a").alias("pa"),
        (F.col("p_a") - F.col("p_b")).alias("diag"),
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    isl = matches.withColumn(
        "__brk",
        F.when(F.col("pa") - F.lag("pa").over(w) > max_gap, 1).otherwise(0),
    ).withColumn(
        "__g",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = isl.groupBy("id_a", "id_b", "diag", "__g").agg(
        F.min("pa").alias("__a0"), F.max("pa").alias("__a1")
    )
    return spans.select(
        "id_a",
        "id_b",
        F.col("__a0").cast("long").alias("a_start"),
        (F.col("__a1") + shingle_n - 1).cast("long").alias("a_end"),
        (F.col("__a0") - F.col("diag")).cast("long").alias("b_start"),
        (F.col("__a1") - F.col("diag") + shingle_n - 1)
        .cast("long")
        .alias("b_end"),
        (F.col("__a1") - F.col("__a0") + shingle_n).cast("long").alias(
            "n_tokens"
        ),
    ).filter(F.col("n_tokens") >= min_tokens)


def dup_token_fraction(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    window: int = 4,
    min_tokens: int = 20,
    max_fp_freq: int = 200,
    max_gap: int | None = None,
    token_pattern: str = DEFAULT_TOKEN_PATTERN,
) -> DataFrame:
    """Per-document duplicated-token FRACTION at interval precision —
    the trim/drop readout on top of :func:`dup_span_intervals`: every
    document's matched intervals (from BOTH sides of every pair) merge
    into disjoint coverage islands (sort by start, split where a span
    starts past the running max end — one window pass), and the
    covered-token total over the document's token count is the
    fraction a dedup policy would trim. Compare :func:`dup_spans`
    (sampled per-span counts, no positions): this one says WHERE and
    HOW MUCH, not just how many samples matched.

    Returns (id, n_islands, dup_tokens, total_tokens, dup_frac) for
    documents with at least one qualifying span; dup_frac is one
    double division, rounded 12. Same knobs and 100 TB shape as
    dup_span_intervals — the merge window partitions per document over
    its own span list (pairs x spans sized, capped upstream).
    """
    from ..functions.text import tokens as _tokens

    spans = dup_span_intervals(
        df, text_col, id_col, shingle_n, window, min_tokens,
        max_fp_freq, max_gap, token_pattern,
    )
    per = spans.select(
        F.col("id_a").alias("id"),
        F.col("a_start").alias("s"),
        F.col("a_end").alias("e"),
    ).unionByName(
        spans.select(
            F.col("id_b").alias("id"),
            F.col("b_start").alias("s"),
            F.col("b_end").alias("e"),
        )
    )
    w = Window.partitionBy("id").orderBy("s", "e")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = per.withColumn(
        "__brk", F.when(F.col("s") > prev_max, 1).otherwise(0)
    ).withColumn(
        "__g", F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    merged = isl.groupBy("id", "__g").agg(
        F.min("s").alias("__s"), F.max("e").alias("__e")
    )
    dup = merged.groupBy("id").agg(
        F.count("*").cast("long").alias("n_islands"),
        F.sum(F.col("__e") - F.col("__s") + 1).cast("long").alias(
            "dup_tokens"
        ),
    )
    tok = df.select(
        F.col(id_col).alias("id"),
        F.size(_tokens(text_col, token_pattern)).cast("long").alias(
            "total_tokens"
        ),
    )
    return dup.join(tok, "id").select(
        "id", "n_islands", "dup_tokens", "total_tokens",
        F.round(
            F.col("dup_tokens").cast("double")
            / F.col("total_tokens").cast("double"),
            12,
        ).alias("dup_frac"),
    )


def source_divergence(
    df: DataFrame,
    text_col: str,
    group_col: str,
    token_pattern: str = "[^a-z0-9]+",
    min_count: int = 1,
) -> DataFrame:
    """Pairwise distribution distance between each pair of corpus
    sources' unigram token distributions — the "are these slices the
    same language/domain?" readout behind mixture design and drift
    triage. Two EXACTLY-replayable metrics per pair (no logs — the
    KL/JSD twin is one ln away but engine-dependent at the last ulp):

        total variation  TV(p, q) = 1/2 SUM |p_t - q_t|
        Hellinger        H(p, q)  = sqrt(1/2 SUM (sqrt(p_t)-sqrt(q_t))^2)

    Both in [0, 1]; sqrt is IEEE-correctly-rounded, per-term doubles
    are fixed expression trees, and the cross-term sums run through
    decimal casts (order-independent) — bit-reproducible on any engine.

    Relational shape: one token-explode scan -> (source, token, c)
    counts + (source, n) totals; the pair grid is sources x sources
    (metadata-sized — sources are domains, not rows); each pair's term
    table is built by unioning the two sides' token sets (no full-outer
    gymnastics) and left-joining both count columns, 0-coalesced.

    Scale knob: the pair-term table is O(pairs x union vocabulary) —
    at web scale (1e8-term vocab x hundreds of source pairs) raise
    ``min_count`` to floor the per-source vocabulary (the standard
    head-vocabulary truncation; totals are computed BEFORE the floor,
    so the retained probabilities stay exact and the dropped tail
    biases both metrics DOWN by at most the tail mass, symmetric
    across the pair — a deterministic, documented truncation, not a
    silent one).

    Returns (source_a, source_b, n_terms, tv, hellinger) per unordered
    pair.
    """
    toks = F.array_remove(
        F.split(F.lower(F.trim(F.col(text_col))), token_pattern), ""
    )
    tf_all = (
        df.select(F.col(group_col).alias("g"), F.explode(toks).alias("t"))
        .groupBy("g", "t")
        .agg(F.count("*").alias("c"))
    )
    tf = tf_all.filter(F.col("c") >= min_count)
    tot = tf_all.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    srcs = tot.select(F.col("g").alias("a"))
    pairs = srcs.crossJoin(tot.select(F.col("g").alias("b"))).filter(
        F.col("a") < F.col("b")
    )
    grid = (
        pairs.join(tf.select(F.col("g").alias("a"), "t"), "a")
        .select("a", "b", "t")
        .unionByName(
            pairs.join(tf.select(F.col("g").alias("b"), "t"), "b").select(
                "a", "b", "t"
            )
        )
        .distinct()
    )
    ca = tf.select(F.col("g").alias("a"), "t", F.col("c").alias("ca"))
    cb = tf.select(F.col("g").alias("b"), "t", F.col("c").alias("cb"))
    na = tot.select(F.col("g").alias("a"), F.col("n").alias("na"))
    nb = tot.select(F.col("g").alias("b"), F.col("n").alias("nb"))
    terms = (
        grid.join(ca, ["a", "t"], "left")
        .join(cb, ["b", "t"], "left")
        .join(na, "a")
        .join(nb, "b")
        .select(
            "a", "b",
            (
                F.coalesce("ca", F.lit(0)).cast("double")
                / F.col("na").cast("double")
            ).alias("p"),
            (
                F.coalesce("cb", F.lit(0)).cast("double")
                / F.col("nb").cast("double")
            ).alias("q"),
        )
    )
    per_pair = terms.groupBy(
        F.col("a").alias("source_a"), F.col("b").alias("source_b")
    ).agg(
        F.count("*").cast("long").alias("n_terms"),
        (
            F.lit(0.5)
            * F.sum(F.abs(F.col("p") - F.col("q")).cast("decimal(38,18)"))
            .cast("double")
        ).alias("tv"),
        F.sqrt(
            F.lit(0.5)
            * F.sum(
                (
                    (F.sqrt("p") - F.sqrt("q"))
                    * (F.sqrt("p") - F.sqrt("q"))
                ).cast("decimal(38,18)")
            ).cast("double")
        ).alias("hellinger"),
    )
    # a pair whose EVERY term fell below the floor must still appear
    # (n_terms = 0, metrics 0.0 over the empty retained support) — the
    # "one row per unordered pair" contract; dropping it would lose
    # rows from downstream joins on the pair table
    return (
        pairs.select(
            F.col("a").alias("source_a"), F.col("b").alias("source_b")
        )
        .join(per_pair, ["source_a", "source_b"], "left")
        .select(
            "source_a", "source_b",
            F.coalesce("n_terms", F.lit(0)).cast("long").alias("n_terms"),
            F.coalesce("tv", F.lit(0.0)).alias("tv"),
            F.coalesce("hellinger", F.lit(0.0)).alias("hellinger"),
        )
    )


def jsd_vs_rest(
    df: DataFrame,
    part_col: str,
    cat_col: str,
) -> DataFrame:
    """Jensen-Shannon divergence of each partition's categorical
    distribution against the REST of the corpus — the log-based twin
    source_divergence deliberately leaves out of its pairwise report
    (its TV/Hellinger are log-free; JSD weighs surprise, saturating at
    ln 2 when supports are disjoint). "Which source's language mix is
    most unlike everything else?" is the mixture-design triage query.

        JSD(p, q) = 1/2 SUM_c [ p_c ln(2 p_c / (p_c + q_c))
                              + q_c ln(2 q_c / (p_c + q_c)) ]

    with 0 ln 0 = 0; p = the partition's distribution, q = the rest's
    (disjoint by construction, so no self-comparison bias). Engine
    portability: every count is exact, the per-category log terms fold
    in category order (the cramers_v determinism contract), and
    callers round to <= 9 decimals per the PMI/zipf log contract (ln
    itself is the one non-correctly-rounded step).

    Shape: ONE (partition, category) grouped count is the only pass
    over the data; category margins, partition totals, and the
    partition x category grid are all metadata-sized (domains, not
    rows). Partitions that ARE the whole corpus (n_rest = 0) are
    dropped — "vs rest" is undefined; a single-partition corpus
    returns 0 rows. Returns (part, n_rows, n_rest, jsd, jsd_norm) per
    partition, jsd_norm = jsd / ln 2 in [0, 1].
    """
    cells = (
        df.filter(F.col(part_col).isNotNull() & F.col(cat_col).isNotNull())
        .groupBy(F.col(part_col).alias("g"), F.col(cat_col).alias("c"))
        .agg(F.count("*").cast("long").alias("a"))
    )
    cat_tot = cells.groupBy("c").agg(F.sum("a").cast("long").alias("ct"))
    part_tot = cells.groupBy("g").agg(F.sum("a").cast("long").alias("ng"))
    grand = cells.agg(F.sum("a").cast("long").alias("gt"))
    grid = (
        part_tot.crossJoin(cat_tot)
        .join(cells, ["g", "c"], "left")
        .crossJoin(F.broadcast(grand))
        .select(
            "g", "c", "ng",
            (F.col("gt") - F.col("ng")).cast("long").alias("nr"),
            F.coalesce("a", F.lit(0)).cast("long").alias("a"),
            (F.col("ct") - F.coalesce("a", F.lit(0)))
            .cast("long")
            .alias("r"),
        )
        .filter(F.col("nr") > 0)
    )
    p = F.col("a").cast("double") / F.col("ng").cast("double")
    q = F.col("r").cast("double") / F.col("nr").cast("double")
    term = F.lit(0.5) * (
        F.when(
            F.col("a") > 0,
            p * F.log(F.lit(2.0) * p / (p + q)),
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("r") > 0,
            q * F.log(F.lit(2.0) * q / (p + q)),
        ).otherwise(F.lit(0.0))
    )
    folded = (
        grid.select(
            "g", "ng", "nr", F.struct("c", term.alias("t")).alias("__e")
        )
        .groupBy("g", "ng", "nr")
        .agg(F.array_sort(F.collect_list("__e")).alias("__arr"))
    )
    jsd = F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda acc, x: acc + x["t"]
    )
    import math

    return folded.select(
        F.col("g").alias("part"),
        F.col("ng").alias("n_rows"),
        F.col("nr").alias("n_rest"),
        jsd.alias("jsd"),
        (jsd / F.lit(math.log(2.0))).alias("jsd_norm"),
    )


def vocab_richness(
    df: DataFrame,
    text_col: str,
    token_pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Chao1 vocabulary-richness estimate + Good-Turing unseen mass —
    "how many distinct tokens does this corpus REALLY have, and what
    is the chance the next token is new?" The coverage planning
    readout behind vocabulary sizing and dedup-threshold choices,
    from the frequency-of-frequencies table (the zipf_fit sibling):

        Chao1-bc = D + f1 (f1 - 1) / (2 (f2 + 1))
        P_unseen = f1 / N        (Good-Turing missing mass)

    with D distinct tokens, f1/f2 singleton/doubleton counts, N total
    tokens. One token-explode scan -> (token, count) -> the
    frequency-of-frequencies aggregate (two shuffles, both map-side
    combinable; the bias-corrected Chao1 form never divides by zero).
    Returns one row: (n_tokens, n_distinct, f1, f2, chao1, p_unseen).
    """
    toks = F.array_remove(
        F.split(F.lower(F.trim(F.col(text_col))), token_pattern), ""
    )
    tf = (
        df.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    agg = tf.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum((F.col("c") == 1).cast("int")).cast("long").alias("f1"),
        F.sum((F.col("c") == 2).cast("int")).cast("long").alias("f2"),
    )
    f1d = F.col("f1").cast("double")
    chao1 = F.col("n_distinct").cast("double") + f1d * (
        f1d - F.lit(1.0)
    ) / (F.lit(2.0) * (F.col("f2").cast("double") + F.lit(1.0)))
    return agg.select(
        "n_tokens", "n_distinct", "f1", "f2",
        chao1.alias("chao1"),
        (f1d / F.col("n_tokens").cast("double")).alias("p_unseen"),
    )


def capture_recapture(
    df: DataFrame,
    text_col: str,
    group_col: str,
    group_a,
    group_b,
    token_pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Lincoln-Petersen / Chapman capture-recapture estimate of the
    SHARED vocabulary two corpus slices draw from — treat slice A's
    distinct tokens as the marked sample and slice B's as the
    recapture; the overlap estimates the unseen common-vocabulary
    size (the abundance twin of source_overlap's observed-only
    Jaccard):

        Lincoln-Petersen  N = n_a n_b / m
        Chapman (bias-corrected)  N = (n_a+1)(n_b+1)/(m+1) - 1

    Two distinct-vocabulary sets + one inner join on token (all
    map-side combinable counts). Lincoln-Petersen is NULL when the
    overlap is empty (try_divide); Chapman never divides by zero.
    Returns one row: (n_a, n_b, n_overlap, lincoln, chapman).
    """
    toks = F.array_remove(
        F.split(F.lower(F.trim(F.col(text_col))), token_pattern), ""
    )
    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
    ).select(
        F.when(F.col(group_col) == group_a, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("g"),
        F.explode(toks).alias("t"),
    ).distinct()
    va = base.filter(F.col("g") == "a").select("t")
    vb = base.filter(F.col("g") == "b").select("t")
    na = va.agg(F.count("*").cast("long").alias("n_a"))
    nb = vb.agg(F.count("*").cast("long").alias("n_b"))
    m = va.join(vb, "t").agg(F.count("*").cast("long").alias("n_overlap"))
    j = na.crossJoin(F.broadcast(nb)).crossJoin(F.broadcast(m))
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    md = F.col("n_overlap").cast("double")
    return j.select(
        "n_a", "n_b", "n_overlap",
        F.try_divide(nad * nbd, md).alias("lincoln"),
        (
            (nad + F.lit(1.0)) * (nbd + F.lit(1.0)) / (md + F.lit(1.0))
            - F.lit(1.0)
        ).alias("chapman"),
    )


def heaps_fit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 16,
    token_pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Heaps' law fit V(N) = K N^beta — how fast vocabulary grows with
    corpus size, the planning curve behind "how much more data until
    the tokenizer saturates?" (the growth-law companion of Chao1's
    point estimate, q432):

    100 TB design: the cumulative curve is sampled at ``n_buckets``
    ID-RANGE checkpoints (bucket = floor(B (id - min)/(max - min + 1))
    from one min/max broadcast — NO global row window over the
    document table), so the only per-row work is the token explode;
    cumulative tokens and cumulative first-occurrence vocabulary are
    prefix sums over the B-row bucket table.

    Determinism: each ln term is quantized ROUND(ln, 9)::decimal(12,9)
    BEFORE the OLS moments are summed (grid 1e-9, ~6 orders coarser
    than the ~2e-16 relative ulp libm/Math.log latitude), so the sums
    are exact order-free decimal adds and the beta/k readout is one
    fixed double tree over bitwise-identical inputs — the repo-wide
    quantize-before-sum contract. (The pre-r12 version folded RAW
    double ln terms into a ROUND(...,9) readout and drew the corpus's
    one driver-red hash row, CORRECTNESS_r11 q434: Math.log/exp carry
    1-ulp latitude that differs across libm builds and JIT runs.)

    Returns one row per non-empty bucket:
    (bucket, n_cum, v_cum, beta, k_coef) with the shared fit repeated.
    """
    toks = F.array_remove(
        F.split(F.lower(F.trim(F.col(text_col))), token_pattern), ""
    )
    base = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("t"))
    rng = df.agg(
        F.min(id_col).cast("long").alias("mn"),
        F.max(id_col).cast("long").alias("mx"),
    )
    bucket = F.floor(
        F.lit(n_buckets).cast("double")
        * (F.col("id").cast("long") - F.col("mn")).cast("double")
        / (F.col("mx") - F.col("mn") + 1).cast("double")
    ).cast("long")
    bt = base.crossJoin(F.broadcast(rng)).select(bucket.alias("b"), "t")
    nb = bt.groupBy("b").agg(F.count("*").cast("long").alias("nt"))
    vb = (
        bt.groupBy("t")
        .agg(F.min("b").cast("long").alias("fb"))
        .groupBy("fb")
        .agg(F.count("*").cast("long").alias("nv"))
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        nb.join(vb, nb.b == vb.fb, "left")
        .select(
            "b", "nt", F.coalesce("nv", F.lit(0)).cast("long").alias("nv")
        )
        .select(
            "b",
            F.sum("nt").over(w).cast("long").alias("n_cum"),
            F.sum("nv").over(w).cast("long").alias("v_cum"),
        )
        .filter((F.col("n_cum") > 0) & (F.col("v_cum") > 0))
    )
    qx = F.round(F.log(F.col("n_cum").cast("double")), 9).cast(
        "decimal(12,9)"
    )
    qy = F.round(F.log(F.col("v_cum").cast("double")), 9).cast(
        "decimal(12,9)"
    )
    mom = curve.select(qx.alias("x"), qy.alias("y")).agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    fit = mom.select(
        beta.alias("beta"),
        F.exp((sy - beta * sx) / n).alias("k_coef"),
    )
    return curve.crossJoin(F.broadcast(fit)).select(
        F.col("b").alias("bucket"), "n_cum", "v_cum", "beta", "k_coef"
    ).orderBy("bucket")


def term_burstiness(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 15,
    min_df: int = 5,
    token_pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Church-Gale term burstiness — the variance-to-mean ratio (index
    of dispersion) of each term's per-document counts: VMR = 1 for a
    Poisson "background" word, >> 1 for topical terms that CLUMP into
    few documents. The topicality signal TF-IDF approximates and
    quality filters use to separate content words from boilerplate:

        VMR_t = var_t / mean_t = (SUM_d c_td^2 - tf_t^2 / D) / tf_t

    (population variance over ALL D documents — absent docs contribute
    zeros, which the identity handles without materializing them).
    Every moment is an exact integer from one (doc, term) grouped
    count; one division per term. ``min_df`` floors the document
    frequency (singleton terms are degenerate bursts); ties break on
    the term. Returns top_k rows: (term, df, tf, vmr).
    """
    d38 = "decimal(38,0)"
    toks = F.array_remove(
        F.split(F.lower(F.trim(F.col(text_col))), token_pattern), ""
    )
    dt = (
        df.select(F.col(id_col).alias("__d"), toks.alias("tk"))
        .select("__d", F.explode("tk").alias("t"))
        .groupBy("__d", "t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ndocs = df.agg(F.count("*").cast("long").alias("d"))
    per = dt.groupBy("t").agg(
        F.count("*").cast("long").alias("df_"),
        F.sum("c").cast("long").alias("tf"),
        F.sum((F.col("c").cast(d38) * F.col("c")).cast(d38))
        .cast(d38)
        .alias("c2"),
    )
    j = per.filter(F.col("df_") >= min_df).crossJoin(F.broadcast(ndocs))
    vmr = (
        F.col("c2").cast("double")
        - F.col("tf").cast("double") * F.col("tf").cast("double")
        / F.col("d").cast("double")
    ) / F.col("tf").cast("double")
    return (
        j.select(
            F.col("t").alias("term"),
            F.col("df_").alias("df"),
            "tf",
            vmr.alias("vmr"),
        )
        .orderBy(F.col("vmr").desc(), F.col("term"))
        .limit(top_k)
    )


def yules_k(
    df: DataFrame,
    text_col: str,
    token_pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Yule's characteristic K — the classic lexical-repetitiveness
    constant (stylometry's burstiness-of-vocabulary): K is ~invariant
    to corpus LENGTH, so it compares repetitiveness across differently
    sized slices where raw type-token ratios cannot:

        K = 10^4 * (SUM_m m^2 f_m - N) / N^2

    with f_m the number of tokens occurring exactly m times and N the
    total token count — everything from the same frequency-of-
    frequencies table as Chao1 (vocab_richness). All-integer moments,
    one division. Returns one row: (n_tokens, n_distinct, yules_k).
    """
    toks = F.array_remove(
        F.split(F.lower(F.trim(F.col(text_col))), token_pattern), ""
    )
    tf = (
        df.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    agg = tf.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(
            (F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)"))
            .cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("sc2"),
    )
    nd = F.col("n_tokens").cast("double")
    k = (
        F.lit(10000.0)
        * (F.col("sc2").cast("double") - nd)
        / (nd * nd)
    )
    return agg.select("n_tokens", "n_distinct", k.alias("yules_k"))


def conditional_entropy(
    df: DataFrame,
    text_col: str,
    token_pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Bigram conditional entropy H(next | current) in bits — the
    corpus PREDICTABILITY readout (the entropy-rate estimate behind
    "is this slice boilerplate or prose?"), complementing the
    unconditional char entropy (q152) and the bigram fluency scores
    (q125):

        H(Y|X) = - SUM_xy p(x,y) log2(p(y|x))
               = (SUM_x c_x log2 c_x - SUM_xy c_xy log2 c_xy) / N

    computed entirely from bigram/unigram COUNTS (both identities
    exact-integer inputs to the logs). Each entropy term is
    c * ROUND(ln c, 9)::decimal(12,9) — the ln factor quantizes to
    the 1e-9 grid before the exact-integer count multiplies it in
    decimal, so both sums are exact order-free decimal adds (r12
    hardening, the q434 lesson; round per the log contract).
    Adjacent within-document pairs only — documents never chain into
    each other. Returns one row: (n_bigrams, n_contexts, h_cond_bits).
    """
    toks = F.filter(
        F.array_remove(
            F.split(F.lower(F.trim(F.col(text_col))), token_pattern), ""
        ),
        lambda t: F.length(t) >= 1,
    )
    pairs = (
        df.select(toks.alias("tk"))
        .select(
            F.explode(
                F.when(
                    F.size("tk") >= 2,
                    F.transform(
                        F.sequence(F.lit(2), F.size("tk")),
                        lambda i: F.struct(
                            F.element_at(F.col("tk"), i - 1).alias("x"),
                            F.element_at(F.col("tk"), i).alias("y"),
                        ),
                    ),
                ).otherwise(F.array())
            ).alias("pr")
        )
        .select(F.col("pr.x").alias("x"), F.col("pr.y").alias("y"))
    )
    big = pairs.groupBy("x", "y").agg(
        F.count("*").cast("long").alias("cxy")
    ).transform(materialize)
    uni = big.groupBy("x").agg(F.sum("cxy").cast("long").alias("cx"))
    n = big.agg(F.sum("cxy").cast("long").alias("n"))
    ln2 = 0.6931471805599453
    def clnc(col: str):
        return F.col(col).cast("decimal(15,0)") * F.round(
            F.log(F.col(col).cast("double")), 9
        ).cast("decimal(12,9)")

    bfold = big.agg(F.sum(clnc("cxy")).cast("double").alias("sxy"))
    ufold = uni.agg(
        F.count("*").cast("long").alias("n_contexts"),
        F.sum(clnc("cx")).cast("double").alias("sx"),
    )
    j = n.crossJoin(F.broadcast(bfold)).crossJoin(F.broadcast(ufold))
    h = (F.col("sx") - F.col("sxy")) / (
        F.col("n").cast("double") * F.lit(ln2)
    )
    return j.select(
        F.col("n").alias("n_bigrams"),
        "n_contexts",
        h.alias("h_cond_bits"),
    )



def _doc_quality_counters(
    df: DataFrame,
    text_col: str,
    token_pattern: str = "[^a-z0-9]+",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document quality counters shared by quality_rule_funnel and
    curation_pipeline (ONE tokenization; keep the expressions in
    lockstep with the oracle SQL of q485/q500): n_tok, word_chars,
    n_alpha, n_stop, n_distinct, n_chars, n_punct (+ ``keep_cols``
    passed through)."""
    from ..functions.text import _STOPWORDS

    stops = _STOPWORDS[0].split()
    keep = keep_cols or []
    toks = F.filter(
        F.array_remove(
            F.split(F.lower(F.trim(F.col(text_col))), token_pattern), ""
        ),
        lambda t: F.length(t) >= 1,
    )
    return df.select(
        *keep,
        toks.alias("tk"),
        F.length(text_col).alias("n_chars"),
        (
            F.length(text_col)
            - F.length(F.regexp_replace(text_col, r"\p{Punct}", ""))
        ).alias("n_punct"),
    ).select(
        *keep,
        F.size("tk").cast("long").alias("n_tok"),
        F.aggregate(
            F.transform(F.col("tk"), lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("word_chars"),
        F.size(
            F.filter(F.col("tk"), lambda t: t.rlike("[a-z]"))
        ).cast("long").alias("n_alpha"),
        F.size(
            F.filter(
                F.col("tk"),
                lambda t: F.array_contains(
                    F.array(*[F.lit(s) for s in stops]), t
                ),
            )
        ).cast("long").alias("n_stop"),
        F.size(F.array_distinct("tk")).cast("long").alias("n_distinct"),
        F.col("n_chars").cast("long"),
        F.col("n_punct").cast("long"),
    )


def _funnel_rules() -> list:
    """The 6 all-integer rule predicates over _doc_quality_counters
    columns, in funnel order (lockstep with q485/q500 oracle SQL)."""
    r1 = (F.col("n_tok") >= 10) & (F.col("n_tok") <= 100000)
    r2 = (F.lit(3) * F.col("n_tok") <= F.col("word_chars")) & (
        F.col("word_chars") <= F.lit(10) * F.col("n_tok")
    )
    r3 = F.lit(10) * F.col("n_punct") <= F.col("n_chars")
    r4 = F.lit(20) * F.col("n_stop") >= F.col("n_tok")
    r5 = F.lit(10) * F.col("n_alpha") >= F.lit(7) * F.col("n_tok")
    r6 = F.lit(5) * F.col("n_distinct") >= F.col("n_tok")
    return [r1, r2, r3, r4, r5, r6]

_FUNNEL_RULES = (
    "word_count",
    "mean_word_len",
    "symbol_ratio",
    "stopword_floor",
    "alpha_fraction",
    "distinct_fraction",
)


def quality_rule_funnel(
    df: DataFrame,
    text_col: str,
    token_pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Gopher-style quality-rule FUNNEL over a document corpus: apply
    the rule chain IN ORDER and report, per rule, how many documents
    reached it, how many it eliminated, and the attrition rate — the
    per-rule accounting a flat pass/fail score (q46) can't give, and
    the first report a training-data curation run reads (which rule
    is doing the killing, and is it the one you meant?).

    Rules (all INTEGER comparisons — no float thresholds anywhere, so
    the per-document verdicts are trivially engine-exact):

        1 word_count:        10 <= n_tok <= 100000
        2 mean_word_len:     3 * n_tok <= word_chars <= 10 * n_tok
        3 symbol_ratio:      10 * n_punct <= n_chars
        4 stopword_floor:    20 * n_stop >= n_tok
        5 alpha_fraction:    10 * n_alpha >= 7 * n_tok
        6 distinct_fraction: 5 * n_distinct >= n_tok

    Scale: one projection computes every per-document counter from a
    single tokenization (no joins, no windows), then ONE aggregate
    with 12 conditional sums; the funnel rows are built from that
    1-row aggregate. Embarrassingly parallel at any corpus size.

    Returns 6 rows: (rule_id, rule, n_in, n_fail, n_out, fail_rate).
    """
    base = _doc_quality_counters(df, text_col, token_pattern)
    rules = _funnel_rules()
    aggs = []
    alive = F.lit(True)
    for i, r in enumerate(rules, start=1):
        aggs.append(
            F.sum(alive.cast("int")).cast("long").alias(f"i{i}")
        )
        aggs.append(
            F.sum((alive & ~r).cast("int")).cast("long").alias(f"f{i}")
        )
        alive = alive & r
    agg = base.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("rule_id"),
                F.lit(name).alias("rule"),
                F.col(f"i{i}").alias("n_in"),
                F.col(f"f{i}").alias("n_fail"),
            )
            for i, name in enumerate(_FUNNEL_RULES, start=1)
        ]
    )
    out = agg.select(F.explode(entries).alias("e")).select(
        F.col("e.rule_id").alias("rule_id"),
        F.col("e.rule").alias("rule"),
        F.col("e.n_in").alias("n_in"),
        F.col("e.n_fail").alias("n_fail"),
        (F.col("e.n_in") - F.col("e.n_fail")).cast("long").alias("n_out"),
        F.when(
            F.col("e.n_in") > 0,
            F.col("e.n_fail").cast("double") / F.col("e.n_in").cast("double"),
        ).alias("fail_rate"),
    )
    return out


def hill_tail_index(
    df: DataFrame,
    text_col: str,
    k: int = 100,
    token_pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Hill estimator of the token-frequency tail index — "how heavy
    is this corpus's head?", the order-statistics complement of the
    full-histogram Zipf OLS fit (q283): using only the k+1 largest
    frequencies,

        alpha_hill = k / SUM_{i=1..k} ln(c_(i) / c_(k+1))

    (alpha near 1 = Zipfian natural text; larger = head-lighter,
    boilerplate-dominated corpora distort it first, which is what
    makes it a drift monitor for training mixes).

    Scale: one token-count groupBy (map-side combinable), ONE top-k
    (count desc, token asc — deterministic under count ties) via
    TakeOrdered, and a k-bounded log-term sum.

    Determinism (r12 hardening, the q434 lesson): each log-ratio
    term quantizes ROUND(ln, 9)::decimal(12,9) BEFORE the sum —
    1-ulp libm/JIT latitude maps both engines to the same 1e-9 grid
    point, and the sum is an exact order-free decimal add (log
    contract — callers round).

    Returns one row: (k, c_tail, hill_alpha).
    """
    toks = F.filter(
        F.array_remove(
            F.split(F.lower(F.trim(F.col(text_col))), token_pattern), ""
        ),
        lambda t: F.length(t) >= 1,
    )
    counts = (
        df.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    top = counts.orderBy(F.desc("c"), "tok").limit(int(k) + 1)
    w = Window.orderBy(F.desc("c"), "tok")
    ranked = top.select(F.row_number().over(w).alias("rk"), "c")
    tail = ranked.filter(F.col("rk") == int(k) + 1).select(
        F.col("c").alias("c_tail")
    )
    lr = F.round(
        F.log(F.col("c").cast("double") / F.col("c_tail").cast("double")),
        9,
    ).cast("decimal(12,9)")
    folded = (
        ranked.filter(F.col("rk") <= int(k))
        .crossJoin(F.broadcast(tail))
        .groupBy("c_tail")
        .agg(F.sum(lr).cast("double").alias("s"))
    )
    return folded.select(
        F.lit(int(k)).cast("long").alias("k"),
        "c_tail",
        (F.lit(float(k)) / F.col("s")).alias("hill_alpha"),
    )


_PIPELINE_STAGES = (
    "raw",
    "lang_filter",
    "quality_rules",
    "exact_dedup",
    "source_cap",
    "token_budget",
)


def curation_pipeline(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    source_col: str,
    lang: str = "en",
    source_cap: int = 200,
    token_budget: int = 10_000,
    token_pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """END-TO-END training-data curation pipeline with per-stage
    accounting — the flagship composition of the corpus toolchain:

        raw -> lang filter -> 6-rule quality funnel (q485's chain)
            -> exact dedup (md5 of normalized text, keep smallest id)
            -> per-source cap (first ``source_cap`` docs by id)
            -> global token budget (docs in id order while the
               RUNNING total BEFORE the doc is under ``token_budget``)

    and one row per stage: how many documents and tokens survived.
    This is the report a curation run is judged by: which stage ate
    the corpus, and what the final token mix costs.

    Scale: ONE tokenization pass (shared counters with
    quality_rule_funnel), then filters and two partitioned windows
    (dedup key, source). The budget window is an ordered running sum
    over the post-cap table (curation-output-sized by construction —
    caps run first); production splits the budget per source when
    even that is too wide (``source_cap``/``token_budget`` are the
    knobs). All counters integers.

    Returns 6 rows: (stage_id, stage, n_docs, n_tokens).
    """
    keyed = df.withColumn(
        "__key", F.md5(F.lower(F.trim(F.col(text_col))))
    )
    base = _doc_quality_counters(
        keyed,
        text_col,
        token_pattern,
        keep_cols=[id_col, lang_col, source_col, "__key"],
    )
    s0 = base
    s1 = s0.filter(F.col(lang_col) == F.lit(lang))
    rules = _funnel_rules()
    alive = rules[0]
    for r in rules[1:]:
        alive = alive & r
    s2 = s1.filter(alive)
    w_dup = Window.partitionBy("__key").orderBy(id_col)
    s3 = (
        s2.withColumn("__rdup", F.row_number().over(w_dup))
        .filter(F.col("__rdup") == 1)
        .drop("__rdup")
    )
    w_src = Window.partitionBy(source_col).orderBy(id_col)
    s4 = (
        s3.withColumn("__rsrc", F.row_number().over(w_src))
        .filter(F.col("__rsrc") <= int(source_cap))
        .drop("__rsrc")
    )
    w_bud = Window.orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    s5 = (
        s4.withColumn(
            "__cum", F.coalesce(F.sum("n_tok").over(w_bud), F.lit(0))
        )
        .filter(F.col("__cum") < int(token_budget))
        .drop("__cum")
    )
    outs = []
    for i, (name, s) in enumerate(
        zip(_PIPELINE_STAGES, [s0, s1, s2, s3, s4, s5])
    ):
        outs.append(
            s.agg(
                F.lit(i).cast("long").alias("stage_id"),
                F.lit(name).alias("stage"),
                F.count("*").cast("long").alias("n_docs"),
                F.coalesce(F.sum("n_tok"), F.lit(0))
                .cast("long")
                .alias("n_tokens"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """APPLY a span-removal plan to a corpus: delete 1-based inclusive
    character ranges [start, end] from each document and return the
    stitched remainder — the execution half of the dedup pipeline
    whose discovery half is dup_span_intervals/q396 (find the
    duplicated regions THERE, cut them HERE; same contract as
    Lee et al.'s "remove the duplicated substring, keep the rest").

    Spans clamp to the document bounds, drop when empty after
    clamping, and MERGE when overlapping or adjacent (islands-and-
    gaps: running-max end over the per-doc ordered span table — the
    post-aggregate window contract, spans per doc are plan-sized),
    so the cut is well-defined whatever the finder emitted. The
    rebuild folds the merged spans in order, carrying (cursor,
    kept-so-far) and concatenating the gap substrings — per-row
    string work, no shuffle beyond the one span groupBy.

    Docs with no spans pass through unchanged. Returns
    (doc_id, orig_len, kept_len, n_spans, n_merged, kept_text).
    """
    d = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    sp = spans.select(
        F.col(id_col).alias("id"),
        F.col(start_col).cast("long").alias("s"),
        F.col(end_col).cast("long").alias("e"),
    )
    lens = d.select("id", F.length("text").alias("len"))
    clamped = (
        sp.join(lens, "id")
        .select(
            "id",
            F.greatest(F.col("s"), F.lit(1)).alias("s"),
            F.least(F.col("e"), F.col("len")).alias("e"),
        )
        .filter(F.col("e") >= F.col("s"))
    )
    w = Window.partitionBy("id").orderBy("s", "e")
    run = clamped.select(
        "id", "s", "e",
        F.max("e").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ).alias("pmax"),
    )
    flagged = run.select(
        "id", "s", "e",
        F.when(
            F.col("pmax").isNull() | (F.col("s") > F.col("pmax") + 1),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "id", "s", "e",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("isl"),
    )
    merged = islands.groupBy("id", "isl").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    per = merged.groupBy("id").agg(
        F.count("*").cast("long").alias("n_merged"),
        F.array_sort(
            F.collect_list(F.struct(F.col("ms"), F.col("me")))
        ).alias("__arr"),
    )
    ns = clamped.groupBy("id").agg(
        F.count("*").cast("long").alias("n_spans")
    )
    j = d.join(per, "id", "left").join(ns, "id", "left")

    def step(acc, sp_):
        gap_len = sp_["ms"] - acc["pos"]
        return F.struct(
            (sp_["me"] + 1).cast("long").alias("pos"),
            F.concat(
                acc["txt"],
                F.when(
                    gap_len > 0,
                    F.col("text").substr(
                        acc["pos"], gap_len.cast("int")
                    ),
                ).otherwise(F.lit("")),
            ).alias("txt"),
        )

    init = F.struct(
        F.lit(1).cast("long").alias("pos"), F.lit("").alias("txt")
    )
    folded = F.aggregate(
        F.coalesce(
            F.col("__arr"),
            F.array().cast("array<struct<ms:bigint,me:bigint>>"),
        ),
        init,
        step,
    )
    olen = F.length("text").cast("long")
    kept = F.concat(
        folded["txt"],
        F.when(
            olen - folded["pos"] + 1 > 0,
            F.col("text").substr(
                folded["pos"], (olen - folded["pos"] + 1).cast("int")
            ),
        ).otherwise(F.lit("")),
    )
    return j.select(
        F.col("id").alias(id_col),
        olen.alias("orig_len"),
        F.length(kept).cast("long").alias("kept_len"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias(
            "n_spans"
        ),
        F.coalesce(F.col("n_merged"), F.lit(0)).cast("long").alias(
            "n_merged"
        ),
        kept.alias("kept_text"),
    )


def chao1_richness(
    df: DataFrame,
    group_col: str,
    token_col: str,
) -> DataFrame:
    """Chao1 species-richness estimator per group: how many DISTINCT
    types (tokens, users, SKUs) does the population hold, given how
    many we've seen once and twice?

        Chao1 = S_obs + f1^2 / (2 f2)        (f2 > 0)
                S_obs + f1 (f1 - 1) / 2      (f2 = 0, bias-corrected)

    — the PER-GROUP generalization of the corpus-level estimate
    inside :func:`vocab_richness` (q432): that one reports the
    bias-corrected f1^2/(2(f2+1)) for the whole unigram vocabulary;
    this one takes ANY caller-supplied type column (the q555 gate
    feeds word bigrams), groups it, and uses the classic two-branch
    Chao1 with the f2=0 correction — the per-source dashboard shape.
    Two grouped integer passes (type frequencies, then the f1/f2
    census); the estimate is one fixed ratio tree.

    Returns per group: (grp, s_obs, f1, f2, chao1, coverage) with
    coverage the Good-Turing 1 - f1/N sample-coverage estimate.
    """
    freq = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(token_col).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
        .groupBy("grp", "tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    per = freq.groupBy("grp").agg(
        F.count("*").cast("long").alias("s_obs"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    chao = F.when(
        F.col("f2") > 0,
        F.col("s_obs").cast("double") + f1 * f1 / (F.lit(2.0) * f2),
    ).otherwise(
        F.col("s_obs").cast("double")
        + f1 * (f1 - F.lit(1.0)) / F.lit(2.0)
    )
    return per.select(
        "grp", "s_obs", "f1", "f2",
        chao.alias("chao1"),
        (
            F.lit(1.0) - f1 / F.col("n_tokens").cast("double")
        ).alias("coverage"),
    )


def lognormal_fit(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Lognormal method-of-moments fit per group over a positive
    integer size metric (document lengths, payload bytes): mu/sigma
    of ln(x), the implied median exp(mu) and mean
    exp(mu + sigma^2/2), and the implied/observed mean ratio — a
    ratio near 1 says the sizes are lognormal-shaped (the standard
    model for text lengths), far from 1 says heavy/truncated tails
    (compare q497's Hill index for the tail exponent view). Charter
    §2B extension.

    Determinism: ln(x) terms and their squares quantize to
    decimal(38,12) before the grouped sums (order-free); the observed
    mean is an exact integer ratio; readouts are fixed trees; callers
    ROUND (<= 9). Non-positive values drop (log domain). Scale: ONE
    map-side-combinable grouped aggregate.
    """
    dq = "decimal(38,12)"
    v = F.col(value_col).cast("long")
    lx = F.log(v.cast("double"))
    base = df.filter(v > 0).select(
        F.col(group_col).alias("grp"),
        v.alias("v"),
        F.round(lx, 12).cast(dq).alias("l1"),
        F.round(lx * lx, 12).cast(dq).alias("l2"),
    )
    agg = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("s"),
        F.sum("l1").cast(dq).alias("sl"),
        F.sum("l2").cast(dq).alias("sl2"),
    )
    nd = F.col("n_rows").cast("double")
    mu = F.col("sl").cast("double") / nd
    var = (
        F.col("sl2").cast("double")
        - F.col("sl").cast("double") * F.col("sl").cast("double") / nd
    ) / (nd - F.lit(1.0))
    obs_mean = F.col("s").cast("double") / nd
    implied_mean = F.exp(mu + var / F.lit(2.0))
    return agg.filter(F.col("n_rows") >= 2).select(
        "grp",
        "n_rows",
        mu.alias("mu_log"),
        F.sqrt(var).alias("sigma_log"),
        F.exp(mu).alias("implied_median"),
        implied_mean.alias("implied_mean"),
        obs_mean.alias("observed_mean"),
        (implied_mean / obs_mean).alias("fit_ratio"),
    )
