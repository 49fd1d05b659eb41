"""Connected-components cluster resolution (operators/dedup.py:
dedup_clusters) — checkpoint-strategy coverage. The broader dedup
operator tests live in test_dedup_similarity.py."""

from __future__ import annotations


def test_dedup_clusters_reliable_checkpoint(spark, reliable_checkpoints):
    """A session started with spark.checkpoint.dir materializes every
    round with reliable df.checkpoint (survives executor loss on a
    cluster); results must be identical to the localCheckpoint default,
    and checkpoint files must appear."""
    from pathlib import Path

    from etl_java_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "id_a long, id_b long"
    )
    local = sorted(dedup_clusters(pairs).collect())
    with reliable_checkpoints() as ckdir:
        reliable = sorted(dedup_clusters(pairs).collect())
    assert local == reliable
    assert {r.cluster_id for r in reliable} == {1, 10, 20}
    assert any(Path(ckdir).rglob("rdd-*")), "no reliable checkpoint files written"


def test_dedup_clusters_holds_only_its_result(spark, held_rdds):
    """The edge list and every superseded round are released before
    dedup_clusters returns: a chain takes one round per hop, and only
    the result's blocks stay persisted."""
    from etl_java_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long"
    )
    labels = dedup_clusters(pairs)
    assert held_rdds() == {labels._jdf.queryExecution().logical().rdd().id()}
    assert {r.cluster_id for r in labels.collect()} == {1}


def test_lsh_band_sizing_tracks_threshold():
    """Banding must be sized so the s-curve midpoint sits below the
    verify threshold; hand-picked 8x4 under t=0.5 missed a true
    J=0.727 pair at sf0.001 (midpoint 0.595 > 0.5)."""
    from etl_java_spark.operators.dedup import lsh_band_sizing

    assert lsh_band_sizing(0.8, 32) == (8, 4)    # classic sizing kept
    assert lsh_band_sizing(0.5, 32) == (16, 2)   # looser bands at t=0.5
    for t in (0.3, 0.5, 0.7, 0.8, 0.9):
        bands, rows = lsh_band_sizing(t, 32)
        assert bands * rows == 32
        recall = 1 - (1 - t ** rows) ** bands
        assert recall >= 0.95, (t, bands, rows, recall)


def test_spread_gates_on_plan_shape(spark):
    """_spread (the single-split map-skew guard) must (a) round-robin
    a small scan-like input up to the cluster slot count, (b) return
    adaptive (exchange-bearing) inputs UNTOUCHED — probing .rdd on an
    AQE-wrapped plan finalizes it and eagerly executes every upstream
    shuffle stage at operator-construction time (r13, advisor item) —
    and (c) pass streaming inputs through."""
    from pyspark.sql import functions as F

    from etl_java_spark.operators.dedup import _spread

    par = spark.sparkContext.defaultParallelism

    # (a) narrow single-partition input -> spread to the slot count
    small = spark.range(0, 100).coalesce(1)
    out = _spread(small)
    assert out.rdd.getNumPartitions() == par

    # (b) aggregated input carries an Exchange -> AQE plan -> identity
    # (no repartition inserted, no eager stage execution)
    agg = spark.range(0, 100).groupBy((F.col("id") % 5).alias("k")).count()
    plan_cls = (
        agg._jdf.queryExecution().executedPlan().getClass().getSimpleName()
    )
    assert plan_cls == "AdaptiveSparkPlanExec", "fixture lost its AQE wrapper"
    assert _spread(agg) is agg

    # (c) streaming input -> identity (no .rdd access, which would raise)
    stream = spark.readStream.format("rate").load()
    assert _spread(stream) is stream


def test_dedup_clusters_rejects_non_integral_ids(spark):
    """The label-sum probe is exact only for integral ids: a double
    chain would round to equal sums and stop early with wrong labels,
    so non-integral ids raise before any job runs; a NULL sum over a
    non-empty label set raises instead of reading as converged."""
    import pytest

    from etl_java_spark.operators.dedup import dedup_clusters

    doubles = spark.createDataFrame(
        [(1.1, 1.2), (1.2, 1.3), (1.3, 1.4)], "id_a double, id_b double"
    )
    strings = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    for bad in (doubles, strings):
        with pytest.raises(TypeError, match="integral"):
            dedup_clusters(bad)
    nulls = spark.createDataFrame([(None, None)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="NULL"):
        dedup_clusters(nulls)
    ints = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1)], "id_a int, id_b int"
    )
    assert {r.cluster_id for r in dedup_clusters(ints).collect()} == {1}


def test_dedup_clusters_raises_past_max_iter(spark, held_rdds):
    """A chain that needs more rounds than ``max_iter`` raises instead of
    coming back split, and releases its rounds; ``max_iter < 1`` is
    rejected; the default bound resolves the same chain to one cluster."""
    import pytest

    from etl_java_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="max_iter=3"):
        dedup_clusters(chain, max_iter=3)
    assert held_rdds() == set()
    with pytest.raises(ValueError, match="max_iter must be >= 1"):
        dedup_clusters(chain, max_iter=0)
    assert sorted(tuple(r) for r in dedup_clusters(chain).collect()) == [
        (i, 1) for i in range(1, 7)
    ]


def test_hot_key_caps_keep_exactly_cap(spark):
    """Every hot-key cap keeps a key held by exactly ``cap`` rows and
    drops one held by ``cap + 1``; ``max_bucket_size=None`` keeps all."""
    from etl_java_spark.operators.corpus import winnow_dup_pairs
    from etl_java_spark.operators.dedup import (
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
    )

    cap = 3
    kept_ids, hot_ids = [1, 2, 3], [11, 12, 13, 14]
    kept_pairs = {(1, 2), (1, 3), (2, 3)}
    hot_pairs = {(a, b) for a in hot_ids for b in hot_ids if a < b}

    def pairs(df):
        return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}

    # one-row bands: band 0 is shared within each group, band 1 unique
    sigs = spark.createDataFrame(
        [(i, [100, i]) for i in kept_ids] + [(i, [200, i]) for i in hot_ids],
        "doc_id long, minhash_sig array<bigint>",
    )
    assert pairs(minhash_candidate_pairs(sigs, "doc_id", 2, 1, cap)) == kept_pairs
    assert pairs(minhash_candidate_pairs(sigs, "doc_id", 2, 1, None)) == kept_pairs | hot_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha uniq{i}") for i in kept_ids]
        + [(i, f"beta uniq{i}") for i in hot_ids],
        "doc_id long, text string",
    )
    assert pairs(ngram_jaccard_pairs(docs, "text", "doc_id", 1, 0.1, cap)) == kept_pairs
    assert pairs(winnow_dup_pairs(docs, "text", "doc_id", 1, 1, 1, cap)) == kept_pairs


def test_hamming_banding_matches_brute_force(spark):
    """simhash_near_pairs and phash_near_pairs share one pigeonhole
    banding; both must return exactly the all-pairs set within
    ``max_hamming`` bits, including negative longs and pairs that
    differ only in the top bits 60-63."""
    import random

    from etl_java_spark.operators.dedup import simhash_near_pairs
    from etl_java_spark.operators.multimodal import phash_near_pairs

    rng = random.Random(7)
    hashes = []
    for _ in range(12):
        base = rng.getrandbits(64)
        hashes.append(base)
        for k in range(1, 7):  # k random bit flips
            h = base
            for bit in rng.sample(range(64), k):
                h ^= 1 << bit
            hashes.append(h)
        for bits in ((60,), (61, 63), (60, 61, 62, 63)):  # top bits only
            hashes.append(base ^ sum(1 << b for b in bits))
    signed = [h - (1 << 64) if h >> 63 else h for h in hashes]
    assert any(h < 0 for h in signed)
    df = spark.createDataFrame(list(enumerate(signed)), "id long, simhash long")
    ph = df.select(df.id.cast("string").alias("path"), df.simhash.alias("phash"))
    for d in (3, 4, 5):
        want = {
            (i, j): bin(hashes[i] ^ hashes[j]).count("1")
            for i in range(len(hashes))
            for j in range(i + 1, len(hashes))
            if bin(hashes[i] ^ hashes[j]).count("1") <= d
        }
        got = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(df, "id", d).collect()}
        assert got == want, d
        got = {
            tuple(sorted((int(r.id_a), int(r.id_b)))): r.hamming
            for r in phash_near_pairs(ph, d).collect()
        }
        assert got == want, d


def test_minhash_dedup_pairs_null_ids_take_no_bucket_slot(spark, held_rdds):
    """A doc without an id can never be paired, and it does not count
    toward a bucket's size: three copies of one text, one of them
    without an id, fill a bucket capped at 2 with 2 docs, so their pair
    is found. The call holds no block beyond its result's own two (the
    candidate checkpoint and the verify stage's shingle sets)."""
    from etl_java_spark.operators.dedup import minhash_dedup_pairs

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (None, text), (3, "an unrelated document entirely")],
        "doc_id long, text string",
    )
    pairs = minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.8, max_bucket_size=2)
    assert [tuple(r) for r in pairs.collect()] == [(1, 2, 1.0)]
    assert len(held_rdds()) <= 2
