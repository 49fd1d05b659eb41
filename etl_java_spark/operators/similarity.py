"""Similarity search over embedding columns (charter §2B).

Two paths:
- ``brute_force_topk``: exact cosine top-k. The query side is broadcast
  (queries are normally few); the corpus is scanned once, partial top-k
  per partition via the row_number window. Recall 1.0; cost O(|Q|*|C|)
  but fully distributed and JVM-side. This is the correctness baseline.
- ``lsh_topk``: random-hyperplane (sign) LSH with banded multi-probe:
  corpus vectors hash into buckets, queries probe matching buckets, exact
  cosine re-ranks candidates. Cost O(|Q| * bucket_size) — the 100 TB
  path. Recall < 1.0, tunable via planes/bands.

- ``ivf_topk``: IVF (inverted-file) index — a k-means coarse quantizer
  assigns each corpus vector to its nearest centroid; queries probe the
  ``nprobe`` nearest cells and re-rank exactly. The classic
  billion-vector layout: cells are the partition unit, recall is tuned
  by nprobe instead of planes.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import _cosine_normed, cosine, norm
from ..plans.checkpoints import make_checkpointer, materialize, release


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Result: (query_id, neighbor_id, cos_sim, rank), excluding self-match
    when ids collide. Ties broken by neighbor id for determinism.
    """
    from .dedup import _spread

    query_id_col = query_id_col or id_col
    # Each norm is computed once per row, on its own side of the cross
    # join (the query side inside the broadcast), so a scored pair costs
    # one dot product; the score is bitwise cosine(__qvec, __cvec).
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm(vec_col).alias("__qnorm"),
    )
    # _spread (r12): the broadcast crossJoin scores |queries| cosines
    # per corpus row BEFORE any shuffle — on a 1-2-split scan that pins
    # the whole scoring pass onto 1-2 cores (q260 measured a 3.2s
    # single-task stage at sf0.1). No-op at real scale (many splits).
    c = _spread(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
    ).withColumn("__cnorm", norm("__cvec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_normed("__qvec", "__cvec", "__qnorm", "__cnorm").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# Multipliers for the arithmetic plane hash (two classic spatial-hash
# primes; any pair of odd constants works — they only need to be THE SAME
# in every engine that must reproduce the buckets).
_PLANE_MULT_I = 73856093
_PLANE_MULT_J = 19349663


def arithmetic_plane_bands(vec_col, num_planes: int, bands: int):
    """Band hashes from DETERMINISTIC arithmetic hyperplanes, entirely
    JVM-side (whole-stage codegen, no Python/Arrow hop).

    plane(i, j) = ((xor(i*73856093, j*19349663) % 2001) - 1000) / 1000.0

    Every step is integer arithmetic plus one exactly-rounded IEEE
    division and a SEQUENTIAL double sum, so any engine reproduces the
    same sign bits bitwise — the q53 DuckDB oracle recomputes these
    buckets and hash-matches. Uniform (not Gaussian) planes are fine for
    sign-LSH: only the direction distribution matters and the symmetric
    cube is isotropic enough at these plane counts.

    Use this when bucket reproducibility across engines matters; the
    numpy seeded variant (``seeded_band_hashes_udf``) wins CPU-wise once
    num_planes is large enough for the matmul to dominate.
    """
    if num_planes % bands:
        raise ValueError("num_planes must be divisible by bands")
    per_band = num_planes // bands
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    idx = F.sequence(F.lit(0), F.size(v) - 1)

    def plane_val(i: int, j):
        h = F.lit(i * _PLANE_MULT_I).cast("long").bitwiseXOR(
            j.cast("long") * F.lit(_PLANE_MULT_J)
        )
        return ((h % 2001) - 1000) / F.lit(1000.0)

    def dot_with_plane(i: int):
        # factory closure: Spark inspects lambda arity, so a default-arg
        # capture (lambda x, j, i=i: ...) would read as a 3-arg lambda
        prod = F.zip_with(v, idx, lambda x, j: x.cast("double") * plane_val(i, j))
        return F.aggregate(prod, F.lit(0.0), lambda a, x: a + x)

    bits = [(dot_with_plane(i) >= 0).cast("long") for i in range(num_planes)]
    bands_cols = []
    for b in range(bands):
        h = F.lit(0).cast("long")
        for r in range(per_band):
            h = h + bits[b * per_band + r] * F.lit(1 << (per_band - 1 - r))
        bands_cols.append(h)
    return F.array(*bands_cols)


def fit_centroids_ml(
    corpus: DataFrame,
    vec_col: str,
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    cell_col: str = "cell",
) -> DataFrame:
    """Fit IVF coarse-quantizer centroids with pyspark.ml KMeans — the
    fully distributed index build for when the corpus sample itself
    must be distributed (the 100 TB path; the driver-side numpy fit in
    ``ivf_topk`` is bounded to a 10k sample).

    Returns a tiny (n_cells rows) DataFrame shaped for
    ``ivf_topk(centroids_df=...)``: (cell int, <vec_col> array<double>).
    KMeans'' cost is O(rows * cells * iters) map-side with only cluster
    sums shuffled per iteration — no all-pairs stage.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(feat)
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return corpus.sparkSession.createDataFrame(
        rows, f"{cell_col} int, {vec_col} array<double>"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 3,
    seed: int = 42,
    sample_size: int = 10000,
    query_id_col: str | None = None,
    centroids_df: DataFrame | None = None,
    centroid_id_col: str = "cell",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantizer cells + multi-probe exact
    re-rank.

    By default centroids are fit driver-side with k-means on a bounded
    sample (numpy Lloyd iterations, deterministic seed) — the index
    build is one sample + one assignment pass; a pyspark.ml KMeans
    drop-in works identically when the sample must itself be
    distributed. Assignment is an Arrow-vectorized matmul (argmin of
    distances); the probe join is an equi-join on cell id.

    ``centroids_df`` supplies a PREBUILT coarse quantizer instead — the
    production IVF pattern (index built offline, queries only probe).
    With explicit centroids, assignment runs JVM-side (broadcast
    centroids, sequential-sum squared distance, min-struct argmin with
    (distance, cell) tie-break), which any engine reproduces bitwise —
    the q74 oracle recomputes the same cells in DuckDB.
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    query_id_col = query_id_col or id_col

    if centroids_df is not None:
        cents = F.broadcast(
            centroids_df.select(
                F.col(centroid_id_col).alias("__cell"), F.col(vec_col).alias("__cent")
            )
        )

        def assign(df, idc, out_id, n_probe):
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
                F.col(idc).alias(out_id),
                F.col(vec_col).alias(f"__{out_id}_vec"),
                d2.alias("__d2"),
                F.col("__cell"),
            )
            w = Window.partitionBy(out_id).orderBy(F.col("__d2").asc(), F.col("__cell").asc())
            return (
                scored.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= n_probe)
                .select(out_id, f"__{out_id}_vec", F.col("__cell").alias("cell"))
            )

        cb = assign(corpus, id_col, "neighbor_id", 1).withColumnRenamed(
            "__neighbor_id_vec", "__cvec"
        )
        qb = assign(queries, query_id_col, "query_id", nprobe).withColumnRenamed(
            "__query_id_vec", "__qvec"
        )
        cand = (
            cb.join(qb, "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        scored = cand.select(
            "query_id", "neighbor_id", cosine(F.col("__qvec"), F.col("__cvec")).alias("cos_sim")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id").asc()
        )
        return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)

    sample = np.stack(
        [r[0] for r in corpus.select(vec_col).limit(sample_size).collect()]
    ).astype(np.float64)
    rng = np.random.RandomState(seed)
    centroids = sample[rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)]
    for _ in range(10):  # Lloyd iterations on the sample
        d2 = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    C = centroids  # cells x dim

    def cell_udf(n_probe: int):
        @pandas_udf("array<int>")
        def nearest_cells(s: pd.Series) -> pd.Series:
            M = np.stack(s.to_numpy()).astype(np.float64)
            d2 = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            order = np.argsort(d2, axis=1)[:, :n_probe].astype(np.int32)
            return pd.Series(list(order))

        return nearest_cells

    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.explode(cell_udf(1)(F.col(vec_col))).alias("cell"),
    )
    qb = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.explode(cell_udf(nprobe)(F.col(vec_col))).alias("cell"),
    )
    cand = (
        cb.join(qb, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id", "neighbor_id", cosine(F.col("__qvec"), F.col("__cvec")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    query_id_col: str | None = None,
    hasher=None,
) -> DataFrame:
    """Approximate top-k: banded sign-LSH candidates + exact cosine re-rank.

    A query and corpus vector become candidates when ANY band of sign
    bits matches (multi-probe via banding — same trick as MinHash-LSH).
    Equi-join on (band_idx, band_hash): shuffle-partitionable, no cross
    product. Rank/result schema matches brute_force_topk, so callers can
    swap paths by data size.

    ``hasher`` (vec column -> array<bigint> of band hashes) defaults to
    the numpy seeded-plane UDF; pass
    ``lambda c: arithmetic_plane_bands(c, n, b)`` for engine-reproducible
    buckets (the q53 oracle path).
    """
    from ..functions.vectors import seeded_band_hashes_udf

    query_id_col = query_id_col or id_col
    # Planes are derived executor-side from (seed, batch dim): no driver
    # .first() job just to learn the embedding dimension.
    if hasher is None:
        hasher = seeded_band_hashes_udf(seed, num_planes, bands)

    from .dedup import _spread

    def banded(df, idc, alias):
        return df.select(
            F.col(idc).alias(alias),
            F.posexplode(hasher(F.col(vec_col))).alias("band_idx", "band_hash"),
        )

    # _spread (r12): corpus banding is num_planes x dim work per row,
    # all BEFORE the first shuffle — single-split scans pin it on one
    # core (the q263/q260 map-skew fix); no-op at real scale.
    cb = banded(_spread(corpus), id_col, "neighbor_id")
    # The query side is small by contract (same assumption as
    # brute_force_topk's broadcast): broadcasting its banded form makes
    # candidate generation a map-only pass over the corpus — the corpus
    # banding output is never shuffled.
    qb = F.broadcast(banded(queries, query_id_col, "query_id"))
    # candidate generation moves ONLY ids through the pair dedupe;
    # vectors re-join afterwards (queries broadcast, corpus equi-join on
    # id) — shuffling 64-float arrays through the band join and
    # dropDuplicates measured ~2x slower at sf0.1
    cand_ids = (
        cb.join(qb, ["band_idx", "band_hash"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qvec = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    cvec = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
    # |candidates| <= |queries| * bucket width — broadcast them into the
    # corpus-vector fetch so the full corpus is streamed, not shuffled.
    scored = (
        cvec.join(
            F.broadcast(cand_ids.join(F.broadcast(qvec), "query_id")), "neighbor_id"
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qvec"), F.col("__cvec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Scalar int8 quantization of an embedding column — the standard
    4x compression before shipping vectors to an ANN index (100 TB of
    float32 embeddings -> 25 TB of uint8 codes).

    Per-dimension global [min, max] is one posexplode + grouped min/max
    (map-side combinable, #dims result rows); the ranges come back as a
    single broadcast array row and each vector quantizes map-only with
    ``zip_with``: code = clamp(floor((x - mn) * 255 / (mx - mn)), 0, 255),
    degenerate dimensions (mx == mn) code to 0. All math is IEEE double
    (+, -, *, /, floor), so any engine replays the codes bitwise.

    Returns (id, codes array<int>) with codes.size == input dim.
    """
    dims = (
        df.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
    )
    ranges = dims.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "mn", "mx"))
        ).alias("__ranges")
    )
    codes = F.zip_with(
        F.col(vec_col),
        F.col("__ranges"),
        lambda x, r: F.when(r["mx"] == r["mn"], F.lit(0)).otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(255),
                    F.floor(
                        (x.cast("double") - r["mn"]) * 255.0 / (r["mx"] - r["mn"])
                    ).cast("int"),
                ),
            )
        ).cast("int"),
    )
    return (
        df.join(F.broadcast(ranges))
        .select(F.col(id_col), codes.alias("codes"))
    )


def prefix_dim_recall(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    prefix_dims: int,
    k: int = 5,
    query_id_col: str | None = None,
) -> DataFrame:
    """Matryoshka-style truncation evaluation: how much of the exact
    full-dimension top-k survives when cosine runs on only the FIRST
    ``prefix_dims`` coordinates? MRL-trained embeddings front-load
    information precisely so a pipeline can search at a fraction of the
    dimension (cheaper index, 1/d the FLOPs and bytes) — this measures
    what that truncation costs on YOUR vectors before committing the
    index build to it.

    Both rankings are exact brute-force cosine (``brute_force_topk``;
    the prefix ranking just slices the arrays first), so the output is
    a property of the EMBEDDINGS, not of any ANN approximation. Returns
    one row per query: (query_id, k, prefix_dims, n_overlap, recall)
    where recall = |topk_full ∩ topk_prefix| / k, rounded to 12.

    Scale: two broadcast-query scans of the corpus (the q56 shape) and
    a per-query set intersection on k-row groups; corpus is streamed,
    never collected. At index-build scale you'd run this on a bounded
    query sample — the estimate converges like any recall measurement.
    """
    full = brute_force_topk(corpus, queries, vec_col, id_col, k, query_id_col)
    sliced_corpus = corpus.withColumn(vec_col, F.slice(F.col(vec_col), 1, prefix_dims))
    sliced_queries = queries.withColumn(
        vec_col, F.slice(F.col(vec_col), 1, prefix_dims)
    )
    pref = brute_force_topk(
        sliced_corpus, sliced_queries, vec_col, id_col, k, query_id_col
    )
    inter = (
        full.select("query_id", "neighbor_id")
        .join(pref.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    base = full.groupBy("query_id").agg(F.count("*").alias("__nk"))
    return (
        base.join(inter, "query_id", "left")
        .select(
            "query_id",
            F.lit(k).alias("k"),
            F.lit(prefix_dims).alias("prefix_dims"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double")
                / F.lit(float(k)),
                12,
            ).alias("recall"),
        )
    )


def sq_ann_recall(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    query_id_col: str | None = None,
) -> DataFrame:
    """Retrieval cost of int8 scalar quantization: recall@k of exact
    cosine top-k computed on RECONSTRUCTED vectors (the ``quantize_int8``
    code book decoded back to doubles) against the float originals —
    the companion measurement to q175's code builder, answering "can
    the ANN index run on 1/4 the bytes". Mirrors ``prefix_dim_recall``
    for the dimension-truncation axis.

    Reconstruction is the midpoint decode
    x̂ = mn + (code + 0.5) * (mx - mn) / 256 with the same per-dimension
    global [mn, mx] the coder used (one #dims-row aggregate, broadcast
    back); code and decode are fixed-order IEEE double arithmetic, so
    every engine replays x̂ — and therefore the approximate ranking —
    bitwise. Returns (query_id, k, n_overlap, recall).

    Scale: the range aggregate is map-side combinable; decode is
    map-only; both rankings are the broadcast-query corpus scan of
    ``brute_force_topk`` — at index scale you run this on a bounded
    query sample exactly like any recall estimate.
    """
    dims = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
    )
    ranges = dims.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("__ranges")
    )

    def decoded(vec):
        return F.zip_with(
            vec,
            F.col("__ranges"),
            lambda x, r: F.when(r["mx"] == r["mn"], r["mn"]).otherwise(
                r["mn"]
                + (
                    F.greatest(
                        F.lit(0),
                        F.least(
                            F.lit(255),
                            F.floor(
                                (x.cast("double") - r["mn"])
                                * 255.0
                                / (r["mx"] - r["mn"])
                            ).cast("int"),
                        ),
                    ).cast("double")
                    + 0.5
                )
                * (r["mx"] - r["mn"])
                / 256.0
            ),
        )

    query_id_col = query_id_col or id_col
    dec_corpus = corpus.join(F.broadcast(ranges)).select(
        F.col(id_col), decoded(F.col(vec_col)).alias(vec_col)
    )
    dec_queries = queries.join(F.broadcast(ranges)).select(
        F.col(query_id_col), decoded(F.col(vec_col)).alias(vec_col)
    )
    approx = brute_force_topk(dec_corpus, dec_queries, vec_col, id_col, k, query_id_col)
    exact = brute_force_topk(corpus, queries, vec_col, id_col, k, query_id_col)
    inter = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    base = exact.select("query_id").distinct()
    return base.join(inter, "query_id", "left").select(
        "query_id",
        F.lit(k).alias("k"),
        F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
        F.round(
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double") / F.lit(float(k)),
            12,
        ).alias("recall"),
    )


def knn_label_eval(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
    query_pred=None,
) -> DataFrame:
    """Embedding quality scored WITHOUT a model: leave-one-out kNN
    majority vote on a labeled vector table. Good embeddings cluster by
    label, so the vote recovers it; a collapsing embedding space shows
    up here before any downstream model is trained. Returns per label:
    (label, n_queries, n_correct, accuracy), accuracy rounded to 12.

    Vote = majority label among the k exact cosine neighbors (self
    excluded), ties broken toward the smaller label for determinism.
    ``query_pred`` bounds the evaluated query set (a sample at corpus
    scale — the estimate converges like any accuracy measurement); the
    corpus side streams via the broadcast-query scan of
    ``brute_force_topk``. At index scale swap the scan for the IVF
    probe (q74) — the vote and the report are unchanged.
    """
    queries = df.filter(query_pred) if query_pred is not None else df
    top = brute_force_topk(df, queries, vec_col, id_col, k)
    truth = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    nb = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nb_label")
    )
    votes = (
        top.join(nb, "neighbor_id")
        .groupBy("query_id", "nb_label")
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("nb_label").asc()
    )
    pred = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("query_id", F.col("nb_label").alias("pred_label"))
    )
    per_q = truth.join(pred, "query_id")
    return (
        per_q.groupBy("true_label")
        .agg(
            F.count("*").alias("n_queries"),
            F.count_if(F.col("pred_label") == F.col("true_label")).alias("n_correct"),
        )
        .select(
            F.col("true_label").alias("label"),
            "n_queries",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_queries").cast("double"),
                12,
            ).alias("accuracy"),
        )
    )


def _fixed_order_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
) -> DataFrame:
    """Per-label mean centroids with bit-reproducible dims: each
    (label, dim) mean folds its values in id order inside codegen
    (``F.aggregate`` over a sorted array — the ewma/holt fixed-order
    discipline), so the centroid doubles replay bitwise on any engine
    and any partitioning. One map-side-combinable explode; output is
    #labels rows of (``__lab``, ``__cvec``)."""
    flat = df.select(
        F.col(id_col), F.col(label_col).alias("__lab"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    cent = (
        flat.groupBy("__lab", "pos")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col(id_col), F.col("x").cast("double").alias("v")))
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["v"],
            ).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "__lab", "pos", (F.col("s") / F.col("n").cast("double")).alias("m")
        )
    )
    return cent.groupBy("__lab").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("__cvec")
    )


def simplified_silhouette(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: for each
    vector, a = Euclidean distance to its OWN label centroid, b = the
    nearest OTHER centroid, s = (b - a) / max(a, b); report each
    label's mean s and the witness counts. The linear-time clustering
    health check — the classic silhouette is O(n^2) pairwise and dead
    at corpus scale; against centroids it is one map-only pass over a
    broadcast #labels x #dims table (Hruschka et al.'s simplified
    silhouette), and correlates tightly with the exact statistic.

    Determinism: centroids come from the fixed-order per-dim fold
    (``_fixed_order_centroids``); each distance folds (x-m)^2 in dim
    order inside codegen; per-label mean s folds in id order. Every
    step replays bitwise in a SQL oracle (q261 discipline). s is in
    [-1, 1] so ROUND(., 12) is engine-safe.

    Returns per label: (label, n, n_negative, mean_silhouette).
    """
    cvec = _fixed_order_centroids(df, vec_col, id_col, label_col)
    sq = lambda v, c: F.aggregate(  # noqa: E731 — fold (x-m)^2 in dim order
        F.zip_with(
            v, c, lambda x, m: (x.cast("double") - m) * (x.cast("double") - m)
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    scored = (
        df.select(F.col(id_col).alias("__id"), F.col(label_col).alias("__t"), F.col(vec_col).alias("__v"))
        .crossJoin(F.broadcast(cvec))
        .select(
            "__id",
            "__t",
            "__lab",
            F.sqrt(sq(F.col("__v"), F.col("__cvec"))).alias("__d"),
        )
    )
    per_point = scored.groupBy("__id", "__t").agg(
        F.max(F.when(F.col("__lab") == F.col("__t"), F.col("__d"))).alias("__a"),
        F.min(F.when(F.col("__lab") != F.col("__t"), F.col("__d"))).alias("__b"),
    )
    s = F.when(
        F.greatest("__a", "__b") == F.lit(0.0), F.lit(0.0)
    ).otherwise((F.col("__b") - F.col("__a")) / F.greatest("__a", "__b"))
    pts = per_point.select("__id", "__t", s.alias("__s"))
    fold = F.aggregate(
        F.array_sort(F.collect_list(F.struct("__id", "__s"))),
        F.lit(0.0),
        lambda acc, x: acc + x["__s"],
    )
    return pts.groupBy(F.col("__t").alias("label")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("__s") < 0).cast("int")).cast("long").alias("n_negative"),
        F.round(fold / F.count("*").cast("double"), 12).alias("mean_silhouette"),
    )


def nearest_centroid_confusion(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
) -> DataFrame:
    """Nearest-centroid (Rocchio) confusion matrix over a labeled
    embedding table: per-label mean centroids, every vector assigned to
    its max-cosine centroid, counts grouped by (true_label,
    pred_label). The 10-minute linear probe that tells you which label
    pairs the embedding space actually separates — off-diagonal mass is
    the confusable pairs to fix with data, not architecture.

    Determinism: each per-(label, dim) mean folds the values in vec-id
    order inside codegen (``F.aggregate`` over a sorted array — the
    ewma/holt discipline) so the centroid doubles replay bitwise on any
    engine; assignment reuses the q56 sequential-sum cosine with
    max-cosine/min-label tie-break. Scale: centroids are #labels x
    #dims rows from one map-side-combinable explode; assignment is a
    map-only pass against the broadcast centroid table.
    """
    cvec = _fixed_order_centroids(df, vec_col, id_col, label_col)
    from ..functions.vectors import cosine

    scored = (
        df.select(F.col(id_col), F.col(label_col).alias("true_label"), F.col(vec_col))
        .crossJoin(F.broadcast(cvec))
        .select(
            id_col,
            "true_label",
            F.col("__lab").alias("pred_label"),
            cosine(F.col(vec_col), F.col("__cvec")).alias("__cos"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__cos").desc(), F.col("pred_label").asc())
    assigned = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return assigned.groupBy("true_label", "pred_label").agg(
        F.count("*").alias("n")
    )


def gram_power_pca(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    iterations: int = 12,
):
    """Top principal component of an embedding table by distributed
    Gram accumulation + power iteration — PCA at corpus scale without
    ever materializing the data matrix: the executors reduce the
    d x d Gram matrix C = X^T X (map-only per-vector outer products,
    one shuffle keyed on the (i, j) cell), and the O(d^2) iteration
    runs on that metadata-sized table. The standard first step before
    whitening, decorrelating, or ABSORBING a dominant "rogue dimension"
    (outlier-dominated axes are a known failure mode of learned
    embeddings).

    Returns (pos, component, eigenvalue, explained_share): the unit
    principal eigenvector, its Rayleigh eigenvalue, and
    eigenvalue / trace(C) — the variance share the first component
    explains (vectors are used uncentered; center first for classical
    PCA semantics).

    Determinism: every Gram cell sums its per-vector products as
    DECIMAL(38,15) — order-independent AND map-side combinable (the
    numeric.py discipline; an ordered fold would shuffle every product
    row, measured 3x slower at sf0.1 and unshippable at corpus scale).
    The iteration (matvec in j-order, norm in i-order, hardware-exact
    sqrt) is fixed-order IEEE double arithmetic, so the whole result
    replays bitwise on any engine — the oracle chains one CTE per
    iteration. The driver holds only the d x d cell table (d =
    embedding width, e.g. 64), the same bounded contract as a
    collected centroid sample.
    """
    import math

    from .dedup import _spread

    c = F.col(vec_col)
    outer = F.flatten(
        F.transform(
            c, lambda xi: F.transform(c, lambda xj: xi.cast("double") * xj.cast("double"))
        )
    )
    # _spread (r12): the d^2-per-row outer-product explode is the CPU
    # of this operator and runs BEFORE the first shuffle — on a small
    # parquet scan (1-2 splits) it pins all work onto 1-2 cores while
    # the rest idle (measured 5.0s -> ~2s at sf0.1). At real scale the
    # scan has thousands of splits and no shuffle is added.
    prods = _spread(df.select(c.alias(vec_col))).select(
        F.size(c).alias("__d"), F.posexplode(outer).alias("p", "v")
    )
    gram_df = (
        prods.select(
            F.expr("p div __d").cast("int").alias("i"),
            F.pmod(F.col("p"), F.col("__d")).cast("int").alias("j"),
            "v",
        )
        .groupBy("i", "j")
        # per-term rounding done with PORTABLE double ops (floor(v*1e15
        # + 0.5)) before the exact integer-decimal sum: a direct
        # double->decimal(38,15) cast rounds through BigDecimal on the
        # JVM but through double math in DuckDB, and the off-diagonal
        # cells came out one decimal ulp apart (measured). floor's
        # integer-valued result casts to decimal exactly on every
        # engine; the sum stays order-independent and map-side
        # combinable.
        .agg(
            (
                F.sum(
                    F.floor(F.col("v") * F.lit(1e15) + F.lit(0.5)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(1e15)
            ).alias("val")
        )
    )
    cells = gram_df.collect()  # d^2 rows — metadata-sized by contract
    d = max(r["i"] for r in cells) + 1
    C = [[0.0] * d for _ in range(d)]
    for r in cells:
        C[r["i"]][r["j"]] = r["val"]
    v = [1.0 / math.sqrt(float(d))] * d
    for _ in range(iterations):
        w = []
        for i in range(d):
            acc = 0.0
            for j in range(d):  # j-order fold, mirrored by the oracle
                acc += C[i][j] * v[j]
            w.append(acc)
        nrm_acc = 0.0
        for i in range(d):
            nrm_acc += w[i] * w[i]
        nrm = math.sqrt(nrm_acc)
        v = [w[i] / nrm for i in range(d)]
    w = []
    for i in range(d):
        acc = 0.0
        for j in range(d):
            acc += C[i][j] * v[j]
        w.append(acc)
    lam = 0.0
    for i in range(d):
        lam += v[i] * w[i]
    trace = 0.0
    for i in range(d):
        trace += C[i][i]
    spark = df.sparkSession
    rows = [(i, v[i], lam, lam / trace) for i in range(d)]
    return spark.createDataFrame(
        rows, "pos int, component double, eigenvalue double, explained_share double"
    )


def brute_force_topk_l2(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k EUCLIDEAN neighbors per query — the L2 twin of
    :func:`brute_force_topk` (cosine ranks by angle, L2 by magnitude-
    sensitive distance; RRF fusion of the two is the classic cheap
    ensemble). Distance folds (x-y)^2 in dim order inside codegen
    (bit-reproducible); ties break toward the smaller neighbor id.

    Result: (query_id, neighbor_id, l2_dist, rank), self-matches
    excluded. Same scale shape as the cosine variant: a broadcast
    query-side crossJoin, map-only scoring, per-query top-k — swap in
    the IVF probe when the query set stops fitting in a broadcast.
    """
    from .dedup import _spread

    query_id_col = query_id_col or id_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    # _spread (r12): same single-split map-skew fix as brute_force_topk
    c = _spread(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
    )
    sq = F.aggregate(
        F.zip_with(
            F.col("__qvec"),
            F.col("__cvec"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.sqrt(sq).alias("l2_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_drift(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    is_new: "F.Column",
) -> DataFrame:
    """Embedding-space drift monitor: centroid of the NEW slice vs the
    OLD slice — cosine, Euclidean distance, and the worst per-dimension
    shift. The scalar drift family (chi-square q180, KS q186, PSI q248)
    watches distributions of single columns; this is the vector-space
    analogue an embedding pipeline re-checks after each model or
    corpus refresh (a silent encoder change moves the centroid long
    before any scalar stat notices).

    Centroids use the fixed-order per-dim fold (q261 discipline), the
    comparison is a handful of dim-ordered folds over two #dims
    arrays, so the whole row replays bitwise. One explode-aggregate
    over the data + one tiny count aggregate; nothing pairwise.

    Returns one row: (n_old, n_new, cos_sim, l2_dist, max_dim_shift).
    """
    tagged = df.select(
        F.col(id_col), F.col(vec_col), is_new.cast("int").alias("__grp")
    )
    cvec = _fixed_order_centroids(tagged, vec_col, id_col, "__grp")
    co = cvec.filter(F.col("__lab") == 0).select(F.col("__cvec").alias("__co"))
    cn = cvec.filter(F.col("__lab") == 1).select(F.col("__cvec").alias("__cn"))
    counts = tagged.groupBy().agg(
        F.sum(F.lit(1) - F.col("__grp")).cast("long").alias("n_old"),
        F.sum("__grp").cast("long").alias("n_new"),
    )
    from ..functions.vectors import cosine

    a, b = F.col("__co"), F.col("__cn")
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    shift = F.array_max(F.zip_with(a, b, lambda x, y: F.abs(x - y)))
    return (
        counts.crossJoin(F.broadcast(co))
        .crossJoin(F.broadcast(cn))
        .select(
            "n_old",
            "n_new",
            F.round(cosine(a, b), 12).alias("cos_sim"),
            F.round(l2, 12).alias("l2_dist"),
            F.round(shift, 12).alias("max_dim_shift"),
        )
    )


def confident_label_noise(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
) -> DataFrame:
    """Confident-learning label-noise matrix (the Cleanlab counting
    rule, with nearest-centroid cosine standing in for model
    confidence): a document labeled g is confidently counted into cell
    (g, j) when its similarity to class j's centroid clears class j's
    OWN average self-similarity threshold

        t_j = mean over {docs labeled j} of cos(vec, centroid_j)

    and j is the argmax among the classes it clears. Off-diagonal mass
    C[g][j] is the estimated label-error count "labeled g, looks like
    j" — the ranked cleanup queue for a labeling pipeline. Docs
    clearing NO threshold land in suggested_label = NULL (abstain).

    Determinism: centroids fold in id order (_fixed_order_centroids),
    cosine is the q56 sequential-sum form, thresholds are
    decimal-summed means of cosine doubles, argmax ties break on the
    smaller label — every branch replays bitwise in SQL.

    Scale: one centroid pass (#labels x #dims cells), one map-only
    scoring pass against the broadcast centroid table, one
    #labels-sized threshold broadcast. No pairwise work anywhere.

    Returns (given_label, suggested_label, n).
    """
    cvec = _fixed_order_centroids(df, vec_col, id_col, label_col)
    scored = materialize(
        df.select(
            F.col(id_col), F.col(label_col).alias("given_label"), F.col(vec_col)
        )
        .crossJoin(F.broadcast(cvec))
        .select(
            id_col,
            "given_label",
            F.col("__lab").alias("cand_label"),
            cosine(F.col(vec_col), F.col("__cvec")).alias("__cos"),
        )
    )
    thresholds = (
        scored.filter(F.col("given_label") == F.col("cand_label"))
        .groupBy("cand_label")
        .agg(
            (
                F.sum(F.col("__cos").cast("decimal(38,15)")).cast("double")
                / F.count("*").cast("double")
            ).alias("__t")
        )
    )
    confident = scored.join(F.broadcast(thresholds), "cand_label").filter(
        F.col("__cos") >= F.col("__t")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__cos").desc(), F.col("cand_label").asc()
    )
    best = confident.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    all_docs = df.select(
        F.col(id_col), F.col(label_col).alias("given_label")
    )
    assigned = all_docs.join(
        best.select(id_col, F.col("cand_label").alias("suggested_label")),
        on=id_col,
        how="left",
    )
    return assigned.groupBy("given_label", "suggested_label").agg(
        F.count("*").cast("long").alias("n")
    )


def product_quantize(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_blocks: int = 8,
    n_codes: int = 16,
    refine_iters: int = 1,
) -> DataFrame:
    """Product quantization (the IVF-PQ compression step — THE memory
    trick behind billion-vector ANN): split each d-dim vector into
    ``n_blocks`` subvectors, learn a ``n_codes``-entry codebook per
    block, and represent every vector by its per-block nearest-code
    ids — d floats become n_blocks small ints (64 dims -> 8 bytes at
    the defaults).

    Codebook training is deterministic end-to-end: seeds are the
    ``n_codes`` smallest-id vectors' subvectors, refined by
    ``refine_iters`` Lloyd rounds where each (block, code) centroid is
    the FIXED-ORDER mean of its assigned subvectors (fold in vec-id
    order — the _fixed_order_centroids discipline), and assignment is
    sequential-fold squared-L2 with ties to the smaller code. Every
    double therefore replays bitwise in SQL.

    Scale: codebooks are n_blocks x n_codes rows (broadcast);
    assignment is a map-only pass over the exploded (vec, block)
    table; each Lloyd round is one map-side-combinable centroid
    aggregate. No pairwise work between data vectors.

    Returns per (block, code): (block, code, n_assigned,
    distortion) — distortion = decimal-exact sum of per-row rounded
    squared errors, the compression-quality readout (rising distortion
    on refresh = drifted corpus needs codebook retraining).
    """
    # exploded (vec, block, subvec) table — reused by every round
    blocks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("block"),
        F.col(vec_col).alias("__v"),
    ).select(
        "__id",
        "block",
        F.expr(
            f"transform(slice(__v, block * (size(__v) div {n_blocks}) + 1, "
            f"size(__v) div {n_blocks}), x -> cast(x as double))"
        ).alias("__sub"),
    ).transform(materialize)

    seed_ids = df.select(F.col(id_col).alias("__id")).orderBy("__id").limit(n_codes)
    codebook = (
        blocks.join(F.broadcast(seed_ids), "__id")
        .withColumn(
            "code",
            F.row_number().over(
                Window.partitionBy("block").orderBy("__id")
            ) - 1,
        )
        .select("block", "code", F.col("__sub").alias("__cv"))
    )

    def dist_expr():
        return F.aggregate(
            F.zip_with(
                F.col("__sub"), F.col("__cv"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def assign(cb):
        scored = blocks.join(F.broadcast(cb), "block").select(
            "__id", "block", "__sub", "code", dist_expr().alias("__d")
        )
        best = scored.groupBy("__id", "block").agg(
            F.min(F.struct(F.col("__d"), F.col("code"))).alias("__best")
        )
        return best.select(
            "__id", "block",
            F.col("__best.code").alias("code"),
            F.col("__best.__d").alias("__d"),
        )

    for _ in range(refine_iters):
        assigned = assign(codebook)
        flat = (
            blocks.join(assigned.select("__id", "block", "code"), ["__id", "block"])
            .select(
                "block", "code", "__id",
                F.posexplode("__sub").alias("pos", "x"),
            )
        )
        cent = (
            flat.groupBy("block", "code", "pos")
            .agg(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__id"), F.col("x").alias("v")))
                    ),
                    F.lit(0.0),
                    lambda acc, s: acc + s["v"],
                ).alias("s"),
                F.count("*").alias("n"),
            )
            .select(
                "block", "code", "pos", (F.col("s") / F.col("n").cast("double")).alias("m")
            )
        )
        codebook = cent.groupBy("block", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("__cv")
        )
        # a code that lost every member keeps its previous centroid? No:
        # seeds guarantee each code has >= 1 member (its own seed may
        # move, but empty codes simply vanish from the centroid table
        # and therefore from the next assignment round).

    final = assign(codebook)
    return final.groupBy("block", "code").agg(
        F.count("*").cast("long").alias("n_assigned"),
        F.sum(F.round(F.col("__d"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("distortion"),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
    query_id_col: str | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    each query vector, the top-k most-similar corpus items with a
    DIFFERENT label — the near-misses that teach a model the decision
    boundary (random negatives are trivially easy; same-label neighbors
    are positives, not negatives).

    Exact brute-force cosine over a BROADCAST-BOUNDED query set (the
    q260 contract: mine for a curated anchor sample, swap the scan for
    the IVF probe at index scale — ivf_topk + label anti-filter gives
    the same output shape). Ties broken by neighbor id.

    Returns (query_id, query_label, neighbor_id, neighbor_label,
    cos_sim, rank).
    """
    query_id_col = query_id_col or id_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.col(label_col).alias("query_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & ~F.col("neighbor_label").eqNullSafe(F.col("query_label"))
        )
        .select(
            "query_id", "query_label", "neighbor_id", "neighbor_label",
            cosine(F.col("__qvec"), F.col("__cvec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def mmr_topk(
    codes: DataFrame,
    query_codes: DataFrame,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    k: int = 5,
    pool: int = 16,
    lam_num: int = 7,
    lam_den: int = 10,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell/Goldstein) diversified
    top-k over QUANTIZED vectors — the RAG retrieval step that stops
    five near-identical chunks from filling the context window: greedy
    rounds pick argmax of

        lam * rel(d, q) - (1 - lam) * max_{s in selected} sim(d, s)

    ALL-INTEGER: similarities are int64 dot products of int8 codes
    (:func:`quantize_int8` upstream) and lambda is the rational
    lam_num/lam_den, so every round's score is
    ``lam_num * rel - (lam_den - lam_num) * maxsim`` exactly — the
    greedy argmax (ties -> smallest id) replays bit-for-bit on any
    engine, which float cosines cannot promise.

    Scalable shape: ONE distributed pass scores the corpus against the
    (broadcast, 1-row) query and keeps a ``pool``-sized candidate set
    (top-rel, the standard MMR re-rank window); the k greedy rounds
    then run over pool-sized tables (pool^2 pairwise sims, materialized
    once) — metadata-sized by construction, never the corpus. Returns
    (rank, id, rel, maxsim, score), rank 1..k.
    """
    if not 0 < k <= pool:
        raise ValueError("mmr_topk needs 0 < k <= pool")
    q = F.broadcast(
        query_codes.select(F.col(codes_col).alias("__qc")).limit(1)
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    scored = codes.crossJoin(q).select(
        F.col(id_col).alias("id"),
        F.col(codes_col).alias("__c"),
        dot(F.col(codes_col), F.col("__qc")).alias("rel"),
    )
    cand = (
        scored.orderBy(F.col("rel").desc(), F.col("id").asc())
        .limit(pool)
        .transform(materialize)
    )
    a = cand.select(F.col("id").alias("ia"), F.col("__c").alias("__ca"))
    b = cand.select(F.col("id").alias("ib"), F.col("__c").alias("__cb"))
    sims = (
        a.crossJoin(b)
        .filter(F.col("ia") != F.col("ib"))
        .select("ia", "ib", dot(F.col("__ca"), F.col("__cb")).alias("sim"))
        .transform(materialize)
    )
    base = cand.select("id", "rel")
    penalty = F.lit(lam_den - lam_num)
    picks: list[DataFrame] = []
    selected: DataFrame | None = None
    for r in range(1, k + 1):
        if selected is None:
            remaining = base
            maxsim = F.lit(0).cast("long")
            scored_r = remaining.select(
                "id", "rel", maxsim.alias("maxsim")
            )
        else:
            remaining = base.join(selected.select("id"), "id", "left_anti")
            ms = (
                sims.join(
                    selected.select(F.col("id").alias("ib")), "ib"
                )
                .groupBy(F.col("ia").alias("id"))
                .agg(F.max("sim").alias("maxsim"))
            )
            scored_r = remaining.join(ms, "id")
        pick = (
            scored_r.select(
                F.lit(r).alias("rank"),
                "id", "rel", "maxsim",
                (
                    F.lit(lam_num) * F.col("rel")
                    - penalty * F.col("maxsim")
                ).cast("long").alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(1)
            .transform(materialize)
        )
        picks.append(pick)
        selected = pick if selected is None else selected.unionByName(pick)
    release(cand, sims)  # the result reads only the picks
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("rank").cast("long"), "id",
        F.col("rel").cast("long"),
        F.col("maxsim").cast("long"),
        F.col("score").cast("long"),
    )


def kcenter_coreset(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 4,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez's farthest-first
    2-approximation) over an embedding column — pick k points such
    that every vector is close to some pick: the deterministic
    diversity-seeding primitive behind coverage sampling, IVF seeding,
    and "label these k most-different examples first" loops.

        s_0 = the smallest id (deterministic seed)
        s_r = argmax over remaining points of min_{s in S} ||x - s||^2
              (ties broken by id)

    Shape: k - 1 FIXED rounds (budgeted, like pagerank's sweeps); each
    round is one broadcast of the <= k selected vectors against the
    corpus — a map-side min + one global top-1, no quadratic pair
    table ever materializes. ``dist2`` folds per-dimension in array
    order (engine-exact doubles). The selected set is materialized per
    round so round r+1 does not replay rounds 1..r.

    Returns k rows: (sel_round, id, dist2) — dist2 is the point's
    min squared distance to the earlier picks at selection time (the
    nonincreasing coverage-radius sequence; 0.0 for the seed).
    """
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).filter(F.col("v").isNotNull())
    seed = (
        base.orderBy("id")
        .limit(1)
        .select(
            F.lit(0).alias("sel_round"), "id", "v",
            F.lit(0.0).alias("dist2"),
        )
    )
    held: list[DataFrame] = []
    ckpt = make_checkpointer(held)
    selected = ckpt(seed)
    for r in range(1, k):
        sel = selected.select(
            F.col("id").alias("sid"), F.col("v").alias("sv")
        )
        d2 = F.aggregate(
            F.zip_with(
                F.col("v"),
                F.col("sv"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        cand = (
            base.join(selected.select("id"), "id", "left_anti")
            .crossJoin(F.broadcast(sel))
            .select("id", "v", d2.alias("__d2"))
            .groupBy("id")
            .agg(F.min("__d2").alias("dist2"), F.first("v").alias("v"))
        )
        pick = (
            cand.orderBy(F.col("dist2").desc(), F.col("id"))
            .limit(1)
            .select(F.lit(r).alias("sel_round"), "id", "v", "dist2")
        )
        selected = ckpt(selected.unionByName(pick))
    release(*held, keep=[selected])
    return selected.select("sel_round", "id", "dist2").orderBy("sel_round")


def lloyd_deterministic(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iterations: int = 2,
    quant: int = 1000,
) -> DataFrame:
    """FIXED-iteration, fully deterministic Lloyd k-means — the
    oracle-replayable sibling of the pyspark.ml KMeans quantizer
    (default_quantizer): seeds are the ``k`` SMALLEST ids' vectors
    (no RNG), every distance is a fixed per-dimension fold over
    ``quant``-quantized integer coordinates, assignment ties break on
    the smallest centroid id, and each update is an exact integer
    per-dimension mean — so two runs (or two engines) produce
    IDENTICAL assignments, not just close inertia.

    Plan shape per iteration: one broadcast of the k centroid rows,
    one argmin-struct groupBy for assignments, one (cid, dim)
    grouped integer sum via posexplode for the update (shuffles on
    the cid/dim keys only — never on raw vectors). Budgeted rounds
    (the pagerank contract); inertia sums quantize per-term to
    decimal(38,6) — safe because the 1e-6 grid is COARSER than the
    double ulp at these magnitudes (the q540 conversion lesson,
    inverted).

    Returns one row per cluster: (cid, n_points, inertia,
    centroid_checksum).
    """
    if k < 1 or iterations < 1:
        raise ValueError("k and iterations must be >= 1")
    cents: list[DataFrame] = []
    ckpt = make_checkpointer(cents)
    pts = df.select(
        F.col(id_col).alias("pid"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * F.lit(float(quant)), 0)
            .cast("long"),
        ).alias("xq"),
    ).transform(materialize)
    w = Window.orderBy("pid")
    cent = (
        pts.orderBy("pid")
        .limit(int(k))
        .select(
            F.row_number().over(w).cast("long").alias("cid"),
            F.transform(F.col("xq"), lambda v: v.cast("double")).alias(
                "c"
            ),
        )
    )
    assigned = None
    for _ in range(int(iterations)):
        cand = pts.crossJoin(F.broadcast(cent))
        dist = F.aggregate(
            F.zip_with(
                F.col("xq"),
                F.col("c"),
                lambda x, c: (x.cast("double") - c)
                * (x.cast("double") - c),
            ),
            F.lit(0.0),
            lambda a, d: a + d,
        )
        assigned = (
            cand.select(
                "pid",
                "xq",
                F.struct(
                    dist.alias("d"), F.col("cid").alias("cid")
                ).alias("__s"),
            )
            .groupBy("pid", "xq")
            .agg(F.min("__s").alias("__b"))
            .select(
                "pid", "xq",
                F.col("__b.cid").alias("cid"),
                F.col("__b.d").alias("d"),
            )
        )
        dims = assigned.select(
            "cid", F.posexplode("xq").alias("dim", "v")
        )
        sums = dims.groupBy("cid", "dim").agg(
            F.sum("v").cast("long").alias("s"),
            F.count("*").cast("long").alias("n"),
        )
        cent = (
            sums.groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "dim",
                            (
                                F.col("s").cast("double")
                                / F.col("n").cast("double")
                            ).alias("m"),
                        )
                    )
                ).alias("__arr")
            )
            .select(
                "cid",
                F.transform(F.col("__arr"), lambda e: e["m"]).alias("c"),
            )
            .transform(ckpt)
        )
    # the result reads the last centroids and, through ``assigned``, the
    # ones before them
    release(*cents, keep=cents[-2:])
    per = assigned.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum(F.col("d").cast("decimal(38,6)"))
        .cast("double")
        .alias("inertia"),
    )
    chk = cent.select(
        "cid",
        F.aggregate(
            F.col("c"), F.lit(0.0), lambda a, x: a + x
        ).alias("centroid_checksum"),
    )
    return per.join(chk, "cid").select(
        "cid", "n_points", "inertia", "centroid_checksum"
    )
