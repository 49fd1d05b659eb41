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


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact dedup: distinct on cols (or all columns). One shuffle."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


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
    # (transform over a seed sequence) looks cheaper but Catalyst's
    # CollapseProject re-inlines the shingle construction into every
    # hash lambda -> the shingling runs num_hashes times per row
    # (measured 100x slowdown at sf0.1). The explode structurally
    # guarantees single evaluation, and the groupBy(id) min-agg is
    # map-side combinable -> shuffle carries only k longs per doc.
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
    a, b = new_banded.alias("a"), new_banded.alias("b")
    within = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
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
    log_dropped: bool = False,
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
    identical ones first. ``log_dropped=True`` runs a small extra job to
    report how many buckets were capped (costs one aggregate; keep off
    in production pipelines).
    """
    banded = _band_rows(sigs, id_col, bands, rows_per_band)
    if max_bucket_size is not None:
        # Hot-bucket list is tiny (only buckets > cap) -> broadcast anti-join;
        # the count agg is map-side combinable so the extra pass is cheap
        # relative to the quadratic join it prevents.
        hot = (
            banded.groupBy("band", "band_hash")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
        )
        if log_dropped:
            import logging

            for r in hot.collect():
                logging.getLogger(__name__).warning(
                    "minhash LSH: dropping bucket band=%d hash=%d size=%d (> cap %d)",
                    r["band"], r["band_hash"], r["__n"], max_bucket_size,
                )
        banded = banded.join(
            F.broadcast(hot.select("band", "band_hash")), ["band", "band_hash"], "left_anti"
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


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
    # Materialize the candidate shingle sets ONCE: both sides of the pair
    # join reference this frame, and exchange reuse across the two rename
    # chains is not guaranteed. Candidates are orders of magnitude smaller
    # than the corpus, so the checkpoint is cheap at any scale.
    sets_df = (
        df.join(cand_ids, on=id_col, how="left_semi")
        .select(F.col(id_col), F.array_distinct(word_shingles(text_col, shingle_n)).alias("__set"))
        .persist()
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
    sigs = minhash_signature(df, text_col, id_col, num_hashes, shingle_n)
    pairs = minhash_candidate_pairs(
        sigs.filter(F.col("minhash_sig").isNotNull()), id_col, bands, rows,
        max_bucket_size=max_bucket_size,
    )
    # The verify stage references the candidate list three times (id
    # semi-join + both sides of the set join); materialize it once —
    # candidates are tiny relative to the corpus. EAGER is load-bearing
    # (r13 A/B): a lazy checkpoint leaves the three references sharing
    # only the distinct's shuffle files, not materialized blocks, and
    # measured q73 4.2->5.2s / q627 6.5->9.0s; the extra eager job is
    # cheaper than the triple reduce-side re-read.
    pairs = materialize(pairs)
    return jaccard_verify(df, pairs, text_col, id_col, shingle_n, threshold)


def minhash_pairs_ml(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """pyspark.ml-native MinHash near-dup pairs (SURVEY.md §2B's
    suggested mapping): shingles -> HashingTF binary vectors ->
    MinHashLSH.approxSimilarityJoin.

    Alternative backend to ``minhash_dedup_pairs`` — same blocking idea
    (OR-amplified hash tables), but candidate verification uses ml's
    exact Jaccard DISTANCE on the hashed feature space, so scores can
    differ from true shingle Jaccard under HashingTF collisions
    (collision probability ~ n_shingles / num_features). The custom
    pipeline remains the oracle-checked primary; this one exists for
    interop with pyspark.ml pipelines. Returns (id_a, id_b, jaccard).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = df.select(
        F.col(id_col).alias("__id"), word_shingles(text_col, shingle_n).alias("__sh")
    ).filter(F.size("__sh") > 0)
    tf = HashingTF(
        inputCol="__sh", outputCol="__features", numFeatures=num_features, binary=True
    )
    feat = tf.transform(sh)
    lsh = MinHashLSH(
        inputCol="__features", outputCol="__hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(feat)
    joined = model.approxSimilarityJoin(
        feat, feat, threshold=1.0 - threshold, distCol="__dist"
    )
    return (
        joined.filter(F.col("datasetA.__id") < F.col("datasetB.__id"))
        .select(
            F.col("datasetA.__id").alias("id_a"),
            F.col("datasetB.__id").alias("id_b"),
            (1.0 - F.col("__dist")).alias("jaccard"),
        )
    )


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
    """Near-dup pairs by SimHash Hamming distance.

    Blocking: split the 64-bit hash into (max_hamming+1) chunks — two
    hashes within distance d must agree on >=1 chunk (pigeonhole), so the
    join is an equi-join on chunk value, never O(n^2).
    """
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    chunks = F.posexplode(
        F.array(
            *[
                F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit((1 << width) - 1))
                for i in range(n_chunks)
            ]
        )
    )
    blocked = sim_df.select(id_col, "simhash", chunks.alias("chunk_idx", "chunk_val"))
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(F.col("hamming") <= max_hamming)


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    num_planes: int = 64,
    bands: int = 4,
    seed: int = 42,
    multi_probe: bool = True,
) -> DataFrame:
    """Embedding near-dup: banded random-hyperplane LSH + exact cosine.

    Candidate = pair agreeing on ANY band of sign bits (same banding
    trick as MinHash-LSH). With ``multi_probe``, one side additionally
    probes every single-bit-flipped band hash, so pairs within Hamming
    distance 1 of a band also become candidates — at 16-bit bands and
    cosine >= 0.99 that recovers per-band recall from 0.48 to 0.84, and
    4 independent bands push pair-level recall to ~0.9993, vs ~40%
    total for the single-bucket variant this replaced.

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
    if multi_probe:
        masks = F.array(*[F.lit(0)] + [F.lit(1 << j) for j in range(per_band)])
        probe = bucketed.select(
            F.col(id_col),
            "__band",
            F.explode(F.transform(masks, lambda m: F.col("__h").bitwiseXOR(m))).alias("__h"),
        )
    else:
        probe = bucketed
    a, b = probe.alias("a"), bucketed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__h") == F.col("b.__h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
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
    makes this 2-3 rounds in practice. ``max_iter`` caps the rounds and
    the loop stops there SILENTLY: a chain longer than ``max_iter``
    comes back split into several clusters, with no error. Each round
    is two shuffles on id; no driver-side graph materialization, so it
    scales with the pair list.

    Every round is materialized under the session's checkpoint policy
    (plans/checkpoints: reliable when the session was started with
    ``spark.checkpoint.dir``). The edge list and every superseded round
    are released before returning; the result is the last round's
    materialization.
    """
    from ..plans import checkpoints

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
    # fixpoint — sum unchanged <=> no label changed. One decimal-exact
    # aggregate over the just-checkpointed blocks replaces the old
    # two-sided join + limit probe (half the probe's input reads, no
    # join). Deterministic on any partitioning (order-free decimal
    # sum). A fully-lazy variant (ckpt(eager=False) materialized by
    # the probe) was measured and REVERTED: q219 4.28->4.99s,
    # q225 4.35->5.01s — the eager per-round ckpt is load-bearing.
    label_sum = F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
    prev_sum = None
    for _ in range(max_iter):
        # candidate labels: own label + min neighbor label
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.id, "inner")
            .select(F.col("src").alias("id"), F.col("cluster_id"))
        )
        new_labels = ckpt(
            labels.select("id", "cluster_id")
            .unionByName(neighbor_labels)
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        new_sum = new_labels.agg(label_sum).collect()[0][0]
        labels = new_labels
        # None = empty label set (no pairs): trivially converged. A
        # non-empty graph ALWAYS changes in round 1 (every edge's
        # greater endpoint takes the smaller id), so prev_sum=None
        # skipping round 1's comparison never adds a round.
        if new_sum is None or (prev_sum is not None and new_sum == prev_sum):
            break
        prev_sum = new_sum
    # zero rounds: the result is a projection of ``edges``
    checkpoints.release(*held, keep=[labels if max_iter else edges])
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
    max_shingle_freq: int = 1000,
    token_pattern: str | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """All-pairs n-gram Jaccard via shingle-inverted-index self-join.

    ``max_shingle_freq`` drops shingles appearing in more than N docs
    (stopword runs) — at corpus scale a single hot shingle would
    otherwise produce a quadratic candidate blowup.

    ``prefix_filter=True`` switches candidate generation to the AllPairs
    prefix filter (Bayardo et al.): under ANY fixed total order on
    shingles (here: xxhash64 rank), two sets with J >= t MUST share an
    element within their first |A| - ceil(t*|A|) + 1 elements — so only
    that prefix is indexed and joined, shrinking the candidate join
    quadratically in (1-t) while staying EXACT (the survivors are
    re-scored on the full sets; hash collisions can only ADD candidates,
    never lose one). Output is identical either way (asserted by
    test_prefix_filter_jaccard_parity across thresholds). WHEN to use
    it: high thresholds over Zipf-ish corpora, where prefixes prune
    most of the candidate mass. On this repo's dense-uniform-vocab
    fixture it measured 2.6x SLOWER than the count-join (8.1s vs 3.1s
    warm at sf0.1) — random docs share prefix shingles anyway and the
    full-set verify outweighs the pruning — so the default stays False
    and the corpus queries use the count-join path.
    """
    from ..functions.text import DEFAULT_TOKEN_PATTERN

    pat = token_pattern or DEFAULT_TOKEN_PATTERN
    if prefix_filter:
        return _ngram_jaccard_prefix(
            df, text_col, id_col, shingle_n, threshold, max_shingle_freq, pat
        )
    # Materialized once (inv + sizes both read it), and the inverted
    # index is EXPLICITLY hash-partitioned on the shingle: the pair
    # self-join's CPU cost is the fan-out of the equi-join output, far
    # larger than its input bytes, so AQE's size-based coalesce would
    # otherwise funnel the whole join through 1-2 tasks (measured 4x on
    # a 5k-doc corpus). A user-specified repartition is exempt from
    # coalescing and both join sides reuse it — no extra shuffle.
    sets_df = df.select(
        F.col(id_col),
        F.array_distinct(word_shingles(text_col, shingle_n, pat)).alias("__set"),
    ).filter(F.size("__set") > 0).persist()
    par = df.sparkSession.sparkContext.defaultParallelism
    inv = sets_df.select(F.col(id_col), F.explode("__set").alias("__sh"))
    # drop hot shingles by anti-joining the OVER-frequency blacklist
    # (few, broadcast-safe); broadcasting the surviving set would ship
    # the corpus vocabulary to every executor
    hot = inv.groupBy("__sh").agg(F.count("*").alias("__n")).filter(F.col("__n") > max_shingle_freq)
    inv = inv.join(F.broadcast(hot.select("__sh")), "__sh", "left_anti").repartition(par, "__sh")
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(b, (F.col("a.__sh") == F.col("b.__sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("__common"))
    )
    sizes = sets_df.select(F.col(id_col), F.size("__set").alias("__sz"))
    j = (
        common.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sz", "sz_b"), "id_b")
    )
    jac = F.col("__common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("__common")
    ).cast("double")
    return j.select("id_a", "id_b", jac.alias("jaccard")).filter(F.col("jaccard") >= threshold)


def _ngram_jaccard_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    threshold: float,
    max_shingle_freq: int,
    pat: str,
) -> DataFrame:
    """Prefix-filtered exact Jaccard pairs (see ngram_jaccard_pairs)."""
    import math

    sets_df = (
        df.select(
            F.col(id_col),
            F.array_distinct(word_shingles(text_col, shingle_n, pat)).alias("__set"),
        )
        .filter(F.size("__set") > 0)
        .withColumn(
            # canonical order = sorted DISTINCT 64-bit hashes; the prefix
            # property only needs a consistent total order, and hashing
            # keeps the sort key 8 bytes instead of the shingle string.
            # array_distinct matters for exactness: an in-document hash
            # collision between two distinct shingles would otherwise
            # shorten the effective distinct prefix and could drop a
            # qualifying pair. On the distinct hash-set the lemma holds
            # outright: J_hash >= J_string (collisions only merge
            # elements), so every pair with string-Jaccard >= t shares a
            # hash within the prefix, and the full-set re-score below is
            # exact on the original strings.
            "__hs",
            F.array_distinct(
                F.array_sort(F.transform("__set", lambda s: F.xxhash64(s)))
            ),
        )
        .persist()
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    # prefix length |A| - ceil(t*|A|) + 1
    plen = (
        F.size("__hs")
        - F.ceil(F.lit(float(threshold)) * F.size("__hs")).cast("int")
        + 1
    )
    pref = sets_df.select(
        F.col(id_col), F.explode(F.slice("__hs", F.lit(1), plen)).alias("__sh")
    )
    if max_shingle_freq < 2**62:
        hot = (
            pref.groupBy("__sh")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_shingle_freq)
        )
        pref = pref.join(F.broadcast(hot.select("__sh")), "__sh", "left_anti")
    pref = pref.repartition(par, "__sh")
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__sh") == F.col("b.__sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sets_a = sets_df.select(
        F.col(id_col).alias("id_a"), F.col("__set").alias("set_a")
    )
    sets_b = sets_df.select(
        F.col(id_col).alias("id_b"), F.col("__set").alias("set_b")
    )
    j = cand.join(sets_a, "id_a").join(sets_b, "id_b")
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = F.size(F.array_union("set_a", "set_b")).cast("double")
    return (
        j.select(
            "id_a", "id_b",
            (inter / F.greatest(union, F.lit(1.0))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 1,
    threshold: float = 0.8,
    max_shingle_freq: int = 1000,
    token_pattern: str | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)|. Jaccard (q44) misses
    subsumption — a paragraph quoted inside a much longer document has
    tiny Jaccard but containment ~1.0 — and subsumed fragments are
    exactly what corpus dedup wants to catch (quote farms, wrapper
    boilerplate, partial mirrors).

    Same inverted-index blocking as ngram_jaccard_pairs (hot-shingle
    frequency cap kills the quadratic stopword bucket); emits the pair
    when EITHER direction clears ``threshold``, with both directions
    reported. Each containment is one double division of exact counts.
    """
    from ..functions.text import DEFAULT_TOKEN_PATTERN

    pat = token_pattern or DEFAULT_TOKEN_PATTERN
    sets_df = df.select(
        F.col(id_col),
        F.array_distinct(word_shingles(text_col, shingle_n, pat)).alias("__set"),
    ).filter(F.size("__set") > 0)
    inv = sets_df.select(F.col(id_col), F.explode("__set").alias("__sh"))
    hot = (
        inv.groupBy("__sh")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > max_shingle_freq)
    )
    inv = inv.join(F.broadcast(hot.select("__sh")), "__sh", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.__sh") == F.col("b.__sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("__common"))
    )
    sizes = sets_df.select(F.col(id_col), F.size("__set").alias("__sz"))
    j = common.join(
        sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sz", "sz_a"),
        "id_a",
    ).join(
        sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sz", "sz_b"),
        "id_b",
    )
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
    whole-doc hashing (exact_dedup) misses, with zero tokenization cost
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
