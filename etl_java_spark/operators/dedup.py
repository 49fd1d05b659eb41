"""Deduplication operators for LLM training-data pipelines (charter §2B).

Exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
Everything stays JVM-side (higher-order functions + xxhash64) — no Python
UDFs — so dedup of a 100 TB corpus is shuffle-bound, not CPU-bound.

Scale shape of each operator:
- exact: one shuffle (groupBy hash of the normalized text).
- minhash: signature = ONE projection (no explode); LSH banding explodes
  to b rows/doc, one shuffle on (band, band_hash); candidate pairs only
  within buckets -> no O(n^2).
- simhash: one explode over tokens + one groupBy doc (64 bit-count aggs).
- ngram jaccard: explode shingles, self-join on shingle hash — bounded by
  shingle frequency (drop ultra-common shingles like stopword runs).
- embedding: random-hyperplane LSH buckets, exact cosine within bucket.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, tokens, word_shingles
from ..functions.vectors import cosine
from ..plans.checkpoints import materialize


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition iff the input is a small SCAN — fewer
    partitions than the cluster has slots.

    Explode-heavy operators burn their CPU map-side, BEFORE the first
    shuffle; a small parquet scan (1-2 splits) pins that work onto 1-2
    cores while the rest idle. At real scale (100 TB -> thousands of
    input splits) the condition is false and no shuffle is added.

    The partition probe is gated to NON-ADAPTIVE plans (r13): on an
    AQE-wrapped plan (any input with an Exchange or subquery),
    ``df.rdd`` finalizes the adaptive plan and eagerly executes every
    upstream shuffle stage at operator-CONSTRUCTION time, and those
    stages are not reused by the subsequent repartition plan — a caller
    passing a joined/aggregated input would pay its upstream work
    twice. Such inputs are already cluster-spread by their own shuffle,
    so the guard has nothing to fix there; scan-like (exchange-free)
    plans never get the AQE wrapper (spark.sql.adaptive.forceApply
    defaults false) and their ``.rdd`` probe is a free metadata read.
    Streaming inputs (no .rdd at all) pass through untouched.
    """
    if df.isStreaming:
        return df
    plan_cls = df._jdf.queryExecution().executedPlan().getClass().getSimpleName()
    if plan_cls == "AdaptiveSparkPlanExec":
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


# ---------------------------------------------------------------------------
# Blocking: every near-duplicate operator below (and the ones in corpus.py,
# multimodal.py and relational.py) finds candidates the same way — rows
# that share a blocking key are paired, quadratic only within a key. These
# four pieces are that algorithm; callers keep their own repartition,
# distinct/count and scoring.


def _pair_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    keys: Sequence[str],
    carry: Sequence[str] = (),
) -> DataFrame:
    """Pairs of rows, one from ``left`` and one from ``right``, that agree
    on every column in ``keys`` and whose left id sorts below the right
    id. Returns (id_a, id_b, <c>_a..., <c>_b...) for each column ``c`` in
    ``carry``. No distinct: two rows sharing several keys pair once per
    shared key, and the caller either dedups or counts them."""
    a, b = left.alias("a"), right.alias("b")
    conds = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    conds.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return a.join(b, reduce(operator.and_, conds)).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
    )


def _drop_hot_keys(df: DataFrame, keys: Sequence[str], cap: int | None) -> DataFrame:
    """Drop every row whose key is held by more than ``cap`` rows (a key
    held by exactly ``cap`` rows stays); ``cap=None`` keeps every key.

    The pair join is quadratic within a key, so one hot key (a stopword
    run, a boilerplate band hash) would otherwise become a single
    straggler task. The over-cap list is small, so it is broadcast into
    an anti-join; broadcasting the surviving keys would ship the corpus
    vocabulary to every executor. The count is map-side combinable."""
    if cap is None:
        return df
    hot = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > cap)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), list(keys), "left_anti")


def _hamming_bands(df: DataFrame, hash_col: str, max_hamming: int) -> DataFrame:
    """Add ``__band``/``__key`` rows: ``hash_col`` (a 64-bit long) cut into
    ``max_hamming + 1`` disjoint bit ranges that together cover all 64
    bits. Two hashes within Hamming distance ``max_hamming`` differ in at
    most that many ranges, so they agree on at least one (pigeonhole):
    a pair join on (``__band``, ``__key``) finds every such pair."""
    n = max_hamming + 1
    bounds = [i * 64 // n for i in range(n + 1)]
    keys = []
    for lo, hi in zip(bounds, bounds[1:]):
        key = F.shiftrightunsigned(F.col(hash_col), lo)
        keys.append(key.bitwiseAND(F.lit((1 << (hi - lo)) - 1)) if hi < 64 else key)
    return df.select("*", F.posexplode(F.array(*keys)).alias("__band", "__key"))


def _shared_shingle_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    token_pattern: str,
    max_shingle_freq: int | None,
) -> DataFrame:
    """(id_a, id_b, __common, sz_a, sz_b): for each pair of docs sharing
    at least one kept shingle, the number of distinct shingles they
    share and each doc's distinct-shingle count — the exact counts the
    Jaccard and containment scores divide.

    Shingles in more than ``max_shingle_freq`` docs are dropped from the
    join (see :func:`_drop_hot_keys`); their contribution to
    ``__common`` is lost, the sizes still count them."""
    # The inverted index is EXPLICITLY hash-partitioned on the shingle:
    # the pair self-join's CPU cost is the fan-out of the equi-join
    # output, far larger than its input bytes, so AQE's size-based
    # coalesce would otherwise funnel the whole join through 1-2 tasks
    # (measured 4x on a 5k-doc corpus). A user-specified repartition is
    # exempt from coalescing and both join sides reuse it — no extra
    # shuffle.
    sets_df = df.select(
        F.col(id_col),
        F.array_distinct(word_shingles(text_col, shingle_n, token_pattern)).alias("__set"),
    ).filter(F.size("__set") > 0)
    par = df.sparkSession.sparkContext.defaultParallelism
    inv = sets_df.select(F.col(id_col), F.explode("__set").alias("__sh"))
    inv = _drop_hot_keys(inv, ["__sh"], max_shingle_freq).repartition(par, "__sh")
    common = (
        _pair_join(inv, inv, id_col, ["__sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__common"))
    )
    sizes = sets_df.select(F.col(id_col), F.size("__set").alias("__sz"))
    return (
        common.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sz", "sz_b"), "id_b")
    )


def exact_dedup_keep_min(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per normalized-text fingerprint.

    Deterministic survivor choice (dropDuplicates keeps an arbitrary row;
    a reproducible corpus build needs min-id semantics). One shuffle:
    window row_number over the fingerprint (a groupBy-min + join-back
    costs two).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def minhash_signature(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature: array<bigint> of length ``num_hashes`` per doc.

    signature[i] = min over shingles s of xxhash64(s, i). Docs with no
    shingles (empty text) are absent from the result.
    """
    # Explode + k min-aggregates. A pure-projection formulation
    # (transform over a seed sequence) looks cheaper, but the shingle
    # array would then be named inside every hash lambda and built
    # num_hashes times per row (measured 100x slowdown at sf0.1). The
    # explode evaluates its generator once per row. A Generate gets no
    # common-subexpression elimination, though, so a subexpression its
    # generator names twice runs twice: word_shingles binds its token
    # array once for that reason. The groupBy(id) min-agg is map-side
    # combinable -> shuffle carries only k longs per doc.
    #
    # Each shingle STRING is hashed exactly once (__h0, in the same
    # codegen stage as the explode); the k family members rehash the
    # 8-byte long, not the ~20-byte string — measured ~2x on the
    # signature stage at sf0.1.
    exploded = (
        _spread(df)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(word_shingles(text_col, shingle_n))).alias("__sh"),
        )
        .select(F.col(id_col), F.xxhash64("__sh").alias("__h0"))
    )
    mins = [
        F.min(F.xxhash64("__h0", F.lit(i))).alias(f"__h{i}") for i in range(num_hashes)
    ]
    agged = exploded.groupBy(id_col).agg(*mins)
    return agged.select(
        F.col(id_col),
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("minhash_sig"),
    )


def _band_rows(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, band_hash) LSH band rows — the shape shared by the
    one-shot pair join and the persistable incremental index."""
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(
                        F.col("minhash_sig"), b * rows_per_band + 1, rows_per_band
                    ).cast("string")
                ),
            )
        ).alias("band", "band_hash"),
    )


def minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Persistable LSH index over a historical corpus: (id, band,
    band_hash) rows. Write this out partitioned/bucketed by
    (band, band_hash) and each day's ingest dedups against it WITHOUT
    re-pairing the historical corpus with itself — the operation that
    turns O(corpus^2)-per-day into O(batch x bucket).
    """
    rows = num_hashes // bands
    sigs = minhash_signature(df, text_col, id_col, num_hashes, shingle_n)
    return _band_rows(sigs.filter(F.col("minhash_sig").isNotNull()), id_col, bands, rows)


def minhash_incremental_pairs(
    old_df: DataFrame,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int | None = None,
    shingle_n: int = 3,
    threshold: float = 0.8,
    index: DataFrame | None = None,
    new_index: DataFrame | None = None,
    side_markers: bool = False,
) -> DataFrame:
    """Incremental near-dup: verified pairs touching the NEW batch only
    (new-vs-index plus new-vs-new) — historical pairs are never
    re-derived. ``index`` takes a precomputed :func:`minhash_index`
    (the production path: read it back from its bucketed layout);
    otherwise it is built from ``old_df`` in-flight.

    The new batch is orders of magnitude smaller than the index, so the
    bucket join probes with the batch side and the verify stage's text
    semi-join pulls only the touched historical docs. Returns
    (id_a, id_b, jaccard) with id_a < id_b (canonical least/greatest
    order — NOT old/new order: a cross pair's new-batch doc is id_b only
    when new-batch ids sort above historical ids, as in ingest schemes
    with monotonically increasing ids). Consumers that need to know
    which side is historical pass ``side_markers=True``, which appends
    boolean ``a_is_new`` / ``b_is_new`` columns (broadcast semi-lookup
    against the batch id set — no reliance on id ordering; an id in
    both frames marks as new). Exact shingle Jaccard >= threshold. An
    id present in BOTH frames contributes one text row to the verify
    corpus (deduped by id; the frames are assumed consistent on shared
    ids).

    ``bands=None`` auto-sizes from the threshold (lsh_band_sizing). A
    precomputed ``index`` must have been built with the SAME resolved
    (num_hashes, bands) — banding is part of the index layout. The same
    applies to ``new_index`` (the NEW batch's band rows): a caller that
    already banded the batch — the streaming guard bands it anyway to
    append it to the standing index — passes it here so the batch's
    MinHash signatures are computed ONCE per micro-batch, not twice
    (r12: one full signature pass saved per batch; one explode + k min
    aggregates over the batch text).

    No hot-bucket cap is applied, unlike :func:`minhash_candidate_pairs`
    (``max_bucket_size``): every bucket of the index and the batch is
    joined, so a degenerate bucket costs its full quadratic fan-out here
    but never drops a pair.
    """
    if bands is None:
        bands, _ = lsh_band_sizing(threshold, num_hashes)
    rows = num_hashes // bands
    if index is None:
        index = minhash_index(old_df, text_col, id_col, num_hashes, bands, shingle_n)
    new_banded = new_index if new_index is not None else minhash_index(
        new_df, text_col, id_col, num_hashes, bands, shingle_n
    )
    o, n = index.alias("o"), new_banded.alias("n")
    cross = o.join(
        n,
        (F.col("o.band") == F.col("n.band"))
        & (F.col("o.band_hash") == F.col("n.band_hash")),
    ).select(
        F.least(F.col(f"o.{id_col}"), F.col(f"n.{id_col}")).alias("id_a"),
        F.greatest(F.col(f"o.{id_col}"), F.col(f"n.{id_col}")).alias("id_b"),
    )
    within = _pair_join(new_banded, new_banded, id_col, ["band", "band_hash"])
    pairs = cross.unionByName(within).filter(F.col("id_a") != F.col("id_b")).distinct()
    # eager is load-bearing — see minhash_dedup_pairs (r13 A/B)
    pairs = materialize(pairs)
    corpus = (
        old_df.select(F.col(id_col), F.col(text_col))
        .unionByName(new_df.select(F.col(id_col), F.col(text_col)))
        # an id present in both frames would duplicate its text row and
        # fan out every verified pair it touches
        .dropDuplicates([id_col])
    )
    verified = jaccard_verify(corpus, pairs, text_col, id_col, shingle_n, threshold)
    if not side_markers:
        return verified
    new_ids = new_df.select(F.col(id_col).alias("__nid")).distinct()
    marked = (
        verified.join(
            F.broadcast(new_ids.withColumnRenamed("__nid", "id_a").withColumn(
                "a_is_new", F.lit(True))),
            on="id_a", how="left",
        )
        .join(
            F.broadcast(new_ids.withColumnRenamed("__nid", "id_b").withColumn(
                "b_is_new", F.lit(True))),
            on="id_b", how="left",
        )
    )
    return marked.select(
        "id_a", "id_b", *[c for c in verified.columns if c not in ("id_a", "id_b")],
        F.coalesce("a_is_new", F.lit(False)).alias("a_is_new"),
        F.coalesce("b_is_new", F.lit(False)).alias("b_is_new"),
    )


def minhash_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """LSH banding: docs agreeing on ALL rows of >=1 band become a pair.

    Explodes to ``bands`` rows/doc, shuffles once on (band, band_hash).
    Returns distinct (id_a, id_b) with id_a < id_b.

    The self-join is quadratic WITHIN a bucket, so one degenerate bucket
    (thousands of boilerplate/near-empty docs sharing a band hash) turns
    into a single straggler task at corpus scale. ``max_bucket_size``
    caps that: buckets above the cap are dropped from the candidate join
    (same pattern as ``ngram_jaccard_pairs``' ``max_shingle_freq``).
    Members of a pathological bucket overwhelmingly agree on their OTHER
    bands too, so recall loss is confined to pairs whose every shared
    band is hot; exact-dedup (which such docs usually are) catches the
    identical ones first. Dropped buckets are not reported: counting
    them would cost a Spark job of its own.
    """
    banded = _band_rows(sigs, id_col, bands, rows_per_band)
    buckets = ["band", "band_hash"]
    banded = _drop_hot_keys(banded, buckets, max_bucket_size)
    return _pair_join(banded, banded, id_col, buckets).distinct()


def jaccard_verify(
    df: DataFrame, pairs: DataFrame, text_col: str, id_col: str, shingle_n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs; keeps pairs >= threshold.

    Shingle sets are built only for docs that appear in a candidate pair
    (semi-join first): at corpus scale the candidate set is orders of
    magnitude smaller than the corpus, so verification cost tracks
    |candidates|, not |corpus|.
    """
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets_df = df.join(cand_ids, on=id_col, how="left_semi").select(
        F.col(id_col), F.array_distinct(word_shingles(text_col, shingle_n)).alias("__set")
    )
    j = (
        pairs.join(sets_df.withColumnRenamed(id_col, "id_a").withColumnRenamed("__set", "set_a"), "id_a")
        .join(sets_df.withColumnRenamed(id_col, "id_b").withColumnRenamed("__set", "set_b"), "id_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = F.size(F.array_union("set_a", "set_b")).cast("double")
    return (
        j.select("id_a", "id_b", (inter / F.greatest(union, F.lit(1.0))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_band_sizing(threshold: float, num_hashes: int = 32) -> tuple[int, int]:
    """(bands, rows) for MinHash LSH, sized from the VERIFY threshold:
    pick the largest rows-per-band (fewest/cheapest bands, since bands
    multiply the shuffle) whose recall at the threshold,
    ``1 - (1 - t^rows)^bands``, is >= 0.95.

    Why this must depend on the threshold: banding has an implicit
    s-curve midpoint ``(1/bands)^(1/rows)``; if it sits ABOVE the
    query's threshold, pairs the verify stage would accept are
    routinely never proposed. That was a live bug: 8 bands x 4 rows
    (midpoint 0.595) under a 0.5-threshold query missed a true
    J = 0.727 pair at the sf0.001 fixture (miss probability
    (1 - 0.727^4)^8 = 7.3%). For threshold 0.8 this returns the
    classic (8, 4); for 0.5 it returns (16, 2) — recall-at-0.5 0.990
    vs 0.404 for (8, 4).
    """
    best = None
    for rows in range(num_hashes, 0, -1):
        if num_hashes % rows:
            continue
        bands = num_hashes // rows
        recall = 1.0 - (1.0 - threshold ** rows) ** bands
        if recall >= 0.95:
            best = (bands, rows)
            break
    if best is None:  # even 1-row bands miss: caller must raise num_hashes
        best = (num_hashes, 1)
    return best


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int | None = None,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature -> bands -> verify.

    ``bands=None`` (the default) auto-sizes the banding from the
    threshold via :func:`lsh_band_sizing` so the s-curve midpoint sits
    below the verify threshold — an explicit ``bands`` is honored
    verbatim for callers tuning recall/cost by hand.
    """
    if bands is None:
        bands, _ = lsh_band_sizing(threshold, num_hashes)
    rows = num_hashes // bands
    # The bucket-size count and the pair join both read the signatures,
    # and the signature exchange (input plan, shingle explode, partial
    # min-aggregates) runs once only if both plans are the same: the
    # pair join's id comparison infers an isnotnull(id) filter, pushed
    # down to the input, so the same filter is applied here up front. A
    # doc without an id can never be paired, and so it no longer counts
    # toward a bucket's size either.
    sigs = minhash_signature(
        df.filter(F.col(id_col).isNotNull()), text_col, id_col, num_hashes, shingle_n
    ).filter(F.col("minhash_sig").isNotNull())
    # The verify stage references the candidate list three times (id
    # semi-join + both sides of the set join); materialize it once —
    # candidates are tiny relative to the corpus. EAGER is load-bearing
    # (r13 A/B): a lazy checkpoint leaves the three references sharing
    # only the distinct's shuffle files, not materialized blocks, and
    # measured q73 4.2->5.2s / q627 6.5->9.0s; the extra eager job is
    # cheaper than the triple reduce-side re-read.
    pairs = materialize(
        minhash_candidate_pairs(sigs, id_col, bands, rows, max_bucket_size=max_bucket_size)
    )
    return jaccard_verify(df, pairs, text_col, id_col, shingle_n, threshold)


def md5_hash60(col) -> "F.Column":
    """60-bit token hash from the md5 hex prefix — slower than xxhash64
    but reproducible by ANY engine with md5 (DuckDB:
    ``CAST('0x' || substr(md5(t),1,15) AS BIGINT)``); 15 hex chars keep
    the value inside a signed long."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_bits: int = 64,
    hash_expr=None,
) -> DataFrame:
    """SimHash per document (default 64-bit, xxhash64 token hash).

    Explode tokens, per-bit weighted vote (+1 if bit set, -1 if not),
    reassemble sign bits. One explode + one groupBy(id) with num_bits
    sums — map-side partial aggregation keeps the shuffle small.

    ``hash_expr`` (token column -> long) swaps the token hash; pass
    ``md5_hash60`` (with num_bits<=60) for engine-reproducible
    signatures — the q51 oracle path.
    """
    # No _spread here: one xxhash64 per token is too cheap to amortize the
    # round-robin shuffle (A/B at sf0.1: 1.3s unspread vs 1.6s spread).
    hash_expr = hash_expr or (lambda c: F.xxhash64(c))
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__tok"))
    h = tok.withColumn("__h", hash_expr(F.col("__tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(num_bits)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(num_bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
        )
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_pairs(sim_df: DataFrame, id_col: str, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance: (id_a, id_b, hamming)
    with id_a < id_b and hamming <= ``max_hamming``.

    Blocking: the 64-bit hash is cut into ``max_hamming + 1`` disjoint
    bit bands covering all 64 bits (:func:`_hamming_bands`, shared with
    ``multimodal.phash_near_pairs``) — two hashes within distance d must
    agree on >=1 band (pigeonhole), so the join is an equi-join on band
    value, never O(n^2). Every candidate is then checked exactly with
    bit_count(xor), so the result is the complete all-pairs answer.
    """
    blocked = _hamming_bands(sim_df.select(id_col, "simhash"), "simhash", max_hamming)
    cand = _pair_join(blocked, blocked, id_col, ["__band", "__key"], ["simhash"]).distinct()
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(F.col("hamming") <= max_hamming)


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    num_planes: int = 64,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup: banded random-hyperplane LSH + exact cosine.

    Candidate = pair whose band hashes agree, or differ in ONE bit, on
    ANY band of sign bits (same banding trick as MinHash-LSH, multi-
    probe): one side also probes every single-bit-flipped band hash.
    At 16-bit bands and cosine >= 0.99 the flipped probes raise
    per-band recall from 0.48 to 0.84, and 4 independent bands push
    pair-level recall to ~0.9993, vs ~40% total for a single exact
    bucket.

    SIZE the bands for the corpus: a band of ``b`` bits yields 2^b
    buckets and the candidate join emits ~n^2/2^b spurious pairs on
    non-duplicate data, so keep ``b >= log2(n_vectors)`` (expected
    bucket width ~1; true near-dups still collide because their hashes
    AGREE, not because buckets are wide). The 16-bit default covers 1e5;
    at 1e9 vectors use 30-bit bands and more of them (recall per band
    falls with width — add bands, not bucket width). Too few bits is the
    failure mode that bites at scale: measured at sf0.1, 3-bit bands ran
    11.2s, 8-bit 4.0s, 16-bit 1.5s for identical output.

    Planes are derived executor-side from (seed, first-batch dim) via
    ``seeded_band_hashes_udf`` — no driver-side ``.first()`` job just to
    learn the embedding dimension. Candidate generation moves only
    (band, hash, id); vectors re-attach by id afterwards, so the band
    explode never replicates the float arrays.
    """
    from ..functions.vectors import seeded_band_hashes_udf

    if num_planes % bands:
        raise ValueError("num_planes must be divisible by bands")
    per_band = num_planes // bands
    hasher = seeded_band_hashes_udf(seed, num_planes, bands)
    # _spread (r12): the Arrow-UDF plane hashing is the map-side CPU of
    # this operator and runs before any shuffle — spread single-split
    # scans across the cluster (q263/q260 map-skew fix; no-op at scale)
    bucketed = _spread(df.select(F.col(id_col), F.col(vec_col))).select(
        F.col(id_col),
        F.posexplode(hasher(F.col(vec_col))).alias("__band", "__h"),
    )
    masks = F.array(*[F.lit(0)] + [F.lit(1 << j) for j in range(per_band)])
    probe = bucketed.select(
        F.col(id_col),
        "__band",
        F.explode(F.transform(masks, lambda m: F.col("__h").bitwiseXOR(m))).alias("__h"),
    )
    cand = _pair_join(probe, bucketed, id_col, ["__band", "__h"]).distinct()
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine(F.col("__va"), F.col("__vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve near-dup pairs into clusters: (id, cluster_id) where
    cluster_id = min doc id reachable through the pair graph.

    Iterative min-label propagation: each round every id takes the
    smallest label among itself and its neighbors, so a label travels
    one hop per round and the round count grows with the LONGEST CHAIN
    in the pair graph (a path of n docs needs about n rounds), not with
    log(diameter). Near-dup clusters are usually small and dense, which
    makes this 2-3 rounds in practice. Convergence is seen one round
    after the last label change (the label sum stops falling), so a
    graph whose longest chain needs r changing rounds needs
    ``max_iter >= r + 1``. When ``max_iter`` rounds end with the labels
    still changing, the call raises ``ValueError`` instead of returning
    split clusters; ``max_iter < 1`` raises before any job runs. Each
    round is two shuffles on id; no driver-side graph materialization,
    so it scales with the pair list.

    Every round is materialized under the session's checkpoint policy
    (plans/checkpoints: reliable when the session was started with
    ``spark.checkpoint.dir``). The edge list and every superseded round
    are released before returning; the result is the last round's
    materialization.

    The ids must be integral (byte, short, int, long, or decimal with
    scale 0); any other type raises ``TypeError`` before any job runs,
    because the convergence probe below sums labels exactly and a
    fractional or string id would make it stop early with wrong labels.
    """
    from pyspark.sql import Observation
    from pyspark.sql.types import DecimalType, IntegralType

    from ..plans import checkpoints

    for c in (id_a, id_b):
        t = pairs.schema[c].dataType
        if not (isinstance(t, IntegralType) or (isinstance(t, DecimalType) and t.scale == 0)):
            raise TypeError(
                f"dedup_clusters needs integral ids; column {c!r} is {t.simpleString()}"
            )
    if max_iter < 1:
        raise ValueError(f"dedup_clusters: max_iter must be >= 1, got {max_iter}")
    held: list[DataFrame] = []
    # looked up at call time, so a wrapped make_checkpointer sees the rounds
    ckpt = checkpoints.make_checkpointer(held)
    edges = ckpt(  # re-read every iteration — never recompute
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    # Convergence probe via the LABEL-SUM MONOTONE (r13): min-label
    # propagation can only DECREASE a node's label (the aggregate
    # includes the node's own label) and the id set is fixed after
    # round 0, so sum(labels) is strictly decreasing until the
    # fixpoint — sum unchanged <=> no label changed. Deterministic on
    # any partitioning (order-free decimal sum). The sum rides on the
    # round's own checkpoint job as an observed metric, so the probe
    # costs no job. Observation.get returns the metrics of the frame's
    # first action and waits for it, so the checkpoint must be EAGER;
    # it is load-bearing anyway — a fully-lazy variant (ckpt(eager=False)
    # materialized by the probe) was measured and REVERTED: q219
    # 4.28->4.99s, q225 4.35->5.01s. count(*) rides along: a NULL sum
    # over a non-empty label set (NULL ids, decimal overflow) must
    # raise, not converge
    probe = (
        F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s"),
        F.count("*").alias("n"),
    )
    prev_sum = None
    for _ in range(max_iter):
        # candidate labels: own label + min neighbor label
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.id, "inner")
            .select(F.col("src").alias("id"), F.col("cluster_id"))
        )
        obs = Observation()
        new_labels = ckpt(
            labels.select("id", "cluster_id")
            .unionByName(neighbor_labels)
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .observe(obs, *probe)
        )
        metrics = obs.get
        new_sum, n_labels = metrics["s"], metrics["n"]
        labels = new_labels
        if new_sum is None and n_labels:
            checkpoints.release(*held)
            raise ValueError(
                f"dedup_clusters: label sum is NULL over {n_labels} labels "
                "(NULL ids or decimal overflow); convergence cannot be decided"
            )
        # None = empty label set (no pairs): trivially converged. A
        # non-empty graph ALWAYS changes in round 1 (every edge's
        # greater endpoint takes the smaller id), so prev_sum=None
        # skipping round 1's comparison never adds a round.
        if new_sum is None or (prev_sum is not None and new_sum == prev_sum):
            break
        prev_sum = new_sum
    else:
        checkpoints.release(*held)
        raise ValueError(
            f"dedup_clusters: labels still changing after max_iter={max_iter} "
            "rounds; a longer chain needs a larger max_iter"
        )
    checkpoints.release(*held, keep=[labels])
    return labels


def dedup_keep_cluster_representative(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Drop all near-dup docs except the min-id representative per cluster."""
    clusters = dedup_clusters(pairs)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
    token_pattern: str | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard via shingle-inverted-index self-join:
    (id_a, id_b, jaccard) with id_a < id_b and jaccard >= ``threshold``.

    Jaccard is one double division of exact counts — shared shingles
    over |A| + |B| - shared (:func:`_shared_shingle_counts`, the core
    shared with :func:`ngram_containment_pairs`). ``max_shingle_freq``
    drops shingles appearing in more than N docs (stopword runs) — at
    corpus scale a single hot shingle would otherwise produce a
    quadratic candidate blowup; ``None`` keeps every shingle, which
    makes the result exact. A capped shingle still counts in both set
    sizes, so a pair that shares only hot shingles is missed and a
    pair sharing some scores low.
    """
    from ..functions.text import DEFAULT_TOKEN_PATTERN

    pat = token_pattern or DEFAULT_TOKEN_PATTERN
    j = _shared_shingle_counts(df, text_col, id_col, shingle_n, pat, max_shingle_freq)
    jac = F.col("__common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("__common")
    ).cast("double")
    return j.select("id_a", "id_b", jac.alias("jaccard")).filter(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 1,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
    token_pattern: str | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)|. Jaccard (q44) misses
    subsumption — a paragraph quoted inside a much longer document has
    tiny Jaccard but containment ~1.0 — and subsumed fragments are
    exactly what corpus dedup wants to catch (quote farms, wrapper
    boilerplate, partial mirrors).

    Same inverted-index blocking and exact counts as ngram_jaccard_pairs
    (:func:`_shared_shingle_counts`; the hot-shingle frequency cap kills
    the quadratic stopword bucket); emits the pair when EITHER direction
    clears ``threshold``, with both directions reported. Each
    containment is one double division of exact counts.
    """
    from ..functions.text import DEFAULT_TOKEN_PATTERN

    pat = token_pattern or DEFAULT_TOKEN_PATTERN
    j = _shared_shingle_counts(df, text_col, id_col, shingle_n, pat, max_shingle_freq)
    cab = F.col("__common").cast("double") / F.col("sz_a").cast("double")
    cba = F.col("__common").cast("double") / F.col("sz_b").cast("double")
    return (
        j.select(
            "id_a",
            "id_b",
            cab.alias("containment_ab"),
            cba.alias("containment_ba"),
        )
        .filter(
            F.greatest(F.col("containment_ab"), F.col("containment_ba"))
            >= threshold
        )
    )


def cluster_golden_records(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_cols: list[str] | None = None,
) -> DataFrame:
    """Survivorship: resolve match pairs into clusters and emit ONE
    golden record per multi-member cluster — the MDM merge step after
    entity resolution (relational.blocked_match_pairs -> here).

    Merge policy (deterministic by construction): every attribute comes
    from the cluster's min-id member (the stable survivor rule used by
    dedup_keep_cluster_representative), except columns in ``max_cols``
    which take the cluster-wide MAX (freshness-style fields: balances,
    timestamps, version counters). Returns cluster_id (= min member
    id), n_members, the survivor's attributes, and max_<col> for each
    max_col.

    Scale: label propagation is O(pairs) per round (see
    dedup_clusters); the survivor join is an equi-join on the min id;
    the MAX aggregation is map-side combinable on cluster_id.
    """
    labels = dedup_clusters(pairs)
    members = df.join(
        labels.withColumnRenamed("id", id_col), id_col, "inner"
    )
    aggs = [F.count("*").alias("n_members")] + [
        F.max(c).alias(f"max_{c}") for c in (max_cols or [])
    ]
    per_cluster = members.groupBy("cluster_id").agg(*aggs).filter(
        F.col("n_members") >= 2
    )
    survivor_cols = [c for c in df.columns if c != id_col]
    survivors = df.select(
        F.col(id_col).alias("cluster_id"), *[F.col(c) for c in survivor_cols]
    )
    return per_cluster.join(survivors, "cluster_id", "inner")


def weighted_jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    idf_round: int = 9,
    pattern: str | None = None,
) -> DataFrame:
    """IDF-weighted Jaccard over candidate pairs: shared RARE shingles
    count more than shared boilerplate —

        wj(A, B) = sum_{s in A∩B} idf(s) / sum_{s in A∪B} idf(s)

    the verification upgrade that separates "same document" from
    "same template" (plain Jaccard scores two boilerplate-heavy pages
    as near-dups; weighted Jaccard does not). Use after any candidate
    generator (``minhash_candidate_pairs``, q296's sorted
    neighborhood); reports the plain set Jaccard alongside so the two
    can be compared pair by pair.

    Exactness: idf = ln(N / df) rounded to ``idf_round`` decimals and
    aggregated as exact decimals (the q248 ln discipline); the final
    ratios are single double divisions. Shingles explode only for
    docs REFERENCED by a pair (semi-join pruned); per-pair work is the
    pair's distinct-shingle union, same bound as ``jaccard_verify``.

    Returns (id_a, id_b, jaccard, weighted_jaccard).
    """
    from ..functions.text import DEFAULT_TOKEN_PATTERN, word_shingles

    pat = pattern or DEFAULT_TOKEN_PATTERN
    needed = pairs.select(F.col("id_a").alias("__id")).unionByName(
        pairs.select(F.col("id_b").alias("__id"))
    ).distinct()
    shingles = F.array_distinct(
        word_shingles(F.col(text_col), shingle_n, pat)
    )
    # _spread (r12): both shingle explodes below are map-side CPU over
    # the full corpus BEFORE any shuffle — spread single-split scans
    # (q263/q260 map-skew fix; no-op at real scale)
    spread = _spread(
        df.select(F.col(id_col).alias("__id"), F.col(text_col))
    )
    toks = (
        spread.select(
            F.col("__id"),
            F.explode(shingles).alias("__sh"),
        )
        .join(needed, on="__id", how="left_semi")
    )
    n_docs = df.agg(F.count("*").cast("double").alias("__n"))
    # document frequency over the FULL corpus (weights must not depend
    # on which pairs are being verified)
    df_counts = (
        spread.select(F.explode(shingles).alias("__sh"))
        .groupBy("__sh")
        .agg(F.count("*").cast("long").alias("__df"))
    )
    idf = df_counts.crossJoin(F.broadcast(n_docs)).select(
        "__sh",
        F.round(F.log(F.col("__n") / F.col("__df")), idf_round)
        .cast(f"decimal(28,{idf_round})")
        .alias("__w"),
    )
    ta = pairs.join(toks, pairs.id_a == toks["__id"]).select(
        "id_a", "id_b", "__sh"
    )
    tb = pairs.join(toks, pairs.id_b == toks["__id"]).select(
        "id_a", "id_b", "__sh"
    )
    cells = (
        ta.unionByName(tb)
        .groupBy("id_a", "id_b", "__sh")
        .agg(F.count("*").alias("__cnt"))
        .join(idf, on="__sh")
    )
    return cells.groupBy("id_a", "id_b").agg(
        (
            F.sum(F.when(F.col("__cnt") == 2, 1).otherwise(0)).cast("double")
            / F.count("*").cast("double")
        ).alias("jaccard"),
        (
            F.coalesce(
                F.sum(F.when(F.col("__cnt") == 2, F.col("__w"))),
                F.lit(0).cast("decimal(28,9)"),
            ).cast("double")
            / F.sum("__w").cast("double")
        ).alias("weighted_jaccard"),
    )


def chunk_hash_profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str | None = None,
    chunk_chars: int = 64,
) -> DataFrame:
    """Fixed-size chunk-hash duplication profile — the storage-side
    dedup readout (content chunking a la backup/dedup systems, the
    cheap precursor to content-defined chunking): split each document
    into ``chunk_chars``-character chunks, MD5 each, and measure what
    share of chunks are bit-identical copies of a chunk seen in ANOTHER
    document. Catches templated boilerplate and partial mirrors that
    whole-doc hashing (exact_dedup_keep_min) misses, with zero tokenization cost
    — at 100 TB this is the first-pass scan that decides whether the
    expensive shingle pipelines are worth running per source.

    Shape: ONE scan — map-side explode of ceil(len/chunk)-many
    (chunk_hash, doc) rows, a (hash, doc) pre-aggregate carrying the
    instance count, then a window over the hash partition counts
    distinct docs per hash without re-reading the corpus (the naive
    aggregate-then-join-back formulation scans the text twice). MD5 is
    bitwise-stable across engines (unlike engine hash builtins), so
    the whole profile replays in SQL. Returns per group (or one
    __all__ row): (grp, n_docs, n_chunks, n_dup_chunks,
    dup_chunk_share) where a chunk is dup if its hash occurs in >= 2
    distinct docs.
    """
    from pyspark.sql import Window
    grp = F.col(group_col) if group_col else F.lit("__all__")
    base = df.select(
        F.col(id_col).alias("__id"),
        grp.alias("__g"),
        F.col(text_col).alias("__t"),
    ).filter(F.col("__t").isNotNull() & (F.length("__t") > 0))
    n = F.ceil(F.length("__t") / F.lit(chunk_chars)).cast("int")
    chunks = base.select(
        "__id", "__g",
        F.explode(F.sequence(F.lit(0), n - 1)).alias("__i"),
        "__t",
    ).select(
        "__id", "__g",
        F.md5(
            F.substring(
                F.col("__t"), F.col("__i") * chunk_chars + 1, chunk_chars
            ).cast("binary")
        ).alias("__h"),
    )
    per_doc_hash = chunks.groupBy("__h", "__id", "__g").agg(
        F.count("*").cast("long").alias("__inst")
    )
    w_hash = Window.partitionBy("__h")
    flagged = per_doc_hash.select(
        "__id", "__g", "__inst",
        (F.count("*").over(w_hash) >= 2).cast("int").alias("__dup"),
    )
    return (
        flagged.groupBy(F.col("__g").alias("grp"))
        .agg(
            F.countDistinct("__id").cast("long").alias("n_docs"),
            F.sum("__inst").cast("long").alias("n_chunks"),
            F.sum(F.col("__dup") * F.col("__inst")).cast("long").alias(
                "n_dup_chunks"
            ),
        )
        .select(
            "grp", "n_docs", "n_chunks", "n_dup_chunks",
            F.round(
                F.col("n_dup_chunks").cast("double")
                / F.col("n_chunks").cast("double"),
                12,
            ).alias("dup_chunk_share"),
        )
    )
