"""Round-5 wave 3: co-purchase lift, blocked entity matching,
digit-histogram quantile sketch."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_java_spark.operators.assoc import copurchase_lift
from etl_java_spark.operators.relational import blocked_match_pairs
from etl_java_spark.operators.sketch import digit_histogram, digit_quantiles


# ---------------------------------------------------------------------------
# copurchase_lift


def test_copurchase_lift_values(spark):
    # 4 baskets: {A,B} x3, {A,C} once -> (A,B) support 3, lift = 3*4/(4*3)=1.0
    rows = [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "A"), (3, "B"), (4, "A"), (4, "C")]
    df = spark.createDataFrame(rows, ["b", "i"])
    out = {(r["item_a"], r["item_b"]): r for r in
           copurchase_lift(df, "b", "i", min_support=1).collect()}
    ab = out[("A", "B")]
    assert ab["n_ab"] == 3 and ab["n_a"] == 4 and ab["n_b"] == 3
    assert abs(ab["lift"] - 1.0) < 1e-15
    ac = out[("A", "C")]
    assert ac["n_ab"] == 1 and abs(ac["lift"] - 1.0) < 1e-15


def test_copurchase_min_support_filters(spark):
    rows = [(1, "A"), (1, "B"), (2, "A"), (2, "C")]
    df = spark.createDataFrame(rows, ["b", "i"])
    out = copurchase_lift(df, "b", "i", min_support=2).collect()
    assert out == []


def test_copurchase_basket_cap_bounds_pairs(spark):
    # one giant basket with 100 items, cap 5 -> at most C(5,2)=10 pairs
    rows = [(1, f"i{j:03d}") for j in range(100)]
    df = spark.createDataFrame(rows, ["b", "i"])
    out = copurchase_lift(df, "b", "i", min_support=1, max_items_per_basket=5)
    assert out.count() == 10


def test_copurchase_duplicate_lines_collapse(spark):
    # the same (basket, item) line twice must not inflate support
    rows = [(1, "A"), (1, "A"), (1, "B")]
    df = spark.createDataFrame(rows, ["b", "i"])
    r = copurchase_lift(df, "b", "i", min_support=1).first()
    assert r["n_ab"] == 1 and r["n_a"] == 1


# ---------------------------------------------------------------------------
# blocked_match_pairs


def test_blocked_match_pairs_basic(spark):
    rows = [
        (1, "alice smith", "z1"),
        (2, "alice smyth", "z1"),   # dist 1, same block
        (3, "alice smith", "z2"),   # same name, different block -> no pair
        (4, "robert jones", "z1"),  # same block, far name -> filtered
    ]
    df = spark.createDataFrame(rows, ["id", "name", "zip"])
    out = blocked_match_pairs(df, "id", ["zip"], "name", max_dist=2).collect()
    assert [(r["id_a"], r["id_b"], r["dist"]) for r in out] == [(1, 2, 1)]


def test_blocked_match_pairs_multi_block_cols(spark):
    rows = [(1, "ann", "z", 10), (2, "anne", "z", 10), (3, "ann", "z", 99)]
    df = spark.createDataFrame(rows, ["id", "name", "zip", "region"])
    out = blocked_match_pairs(df, "id", ["zip", "region"], "name", max_dist=2).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]


# ---------------------------------------------------------------------------
# digit histogram sketch


def test_digit_histogram_cells(spark):
    df = spark.createDataFrame([(v,) for v in [1, 5, 9, 10, 57, 99, 100, 523]], ["v"])
    cells = {(r["digits"], r["first_digit"]): r["n"]
             for r in digit_histogram(df, "v").collect()}
    assert cells[(1, 1)] == 1 and cells[(1, 5)] == 1 and cells[(1, 9)] == 1
    assert cells[(2, 1)] == 1 and cells[(2, 5)] == 1 and cells[(2, 9)] == 1
    assert cells[(3, 1)] == 1 and cells[(3, 5)] == 1


def test_digit_histogram_rejects_nonpositive(spark):
    """Contract violations surface as errors instead of silently
    skewing quantile buckets: 0 would land in cell (1, 0), negatives
    in a NULL first_digit (ADVICE r5)."""
    import pytest

    for bad in (0, -7):
        df = spark.createDataFrame([(5,), (bad,)], ["v"])
        with pytest.raises(Exception, match="must be > 0"):
            digit_histogram(df, "v").collect()


def test_digit_quantiles_bounds(spark):
    # 100 values 1..100: p50 element is 50 (bucket digits=2 fd=5 -> [50,60))
    df = spark.createDataFrame([(v,) for v in range(1, 101)], ["v"])
    h = digit_histogram(df, "v")
    out = {r["q"]: r for r in digit_quantiles(h, [0.5, 0.99]).collect()}
    assert out[0.5]["est_lo"] == 50 and out[0.5]["est_hi"] == 60
    assert out[0.99]["est_lo"] == 90 and out[0.99]["est_hi"] == 100
    assert out[0.5]["n_total"] == 100


def test_digit_histogram_merge_linearity(spark):
    # sketch(A union B) == cellwise sum of sketch(A) and sketch(B)
    import random

    rng = random.Random(7)
    vals = [rng.randint(1, 10**6) for _ in range(500)]
    a = spark.createDataFrame([(v,) for v in vals[:200]], ["v"])
    b = spark.createDataFrame([(v,) for v in vals[200:]], ["v"])
    full = spark.createDataFrame([(v,) for v in vals], ["v"])
    merged = (
        digit_histogram(a, "v").unionByName(digit_histogram(b, "v"))
        .groupBy("digits", "first_digit").agg(F.sum("n").alias("n"))
    )
    got = {(r["digits"], r["first_digit"]): r["n"] for r in merged.collect()}
    want = {(r["digits"], r["first_digit"]): r["n"]
            for r in digit_histogram(full, "v").collect()}
    assert got == want


# ---------------------------------------------------------------------------
# image aHash / perceptual dedup


def test_image_ahash_brightness_invariant():
    import numpy as np

    from etl_java_spark.operators.codecs import encode_bmp, image_ahash

    rng = np.random.RandomState(3)
    img = rng.randint(0, 251, size=(10, 14, 3)).astype(np.uint8)
    twin = (img.astype(np.int64) + 2).astype(np.uint8)
    h1 = image_ahash(bytes(encode_bmp(img)), "image/bmp")
    h2 = image_ahash(bytes(encode_bmp(twin)), "image/bmp")
    assert h1 == h2
    # a genuinely different image should be far away
    other = rng.randint(0, 251, size=(10, 14, 3)).astype(np.uint8)
    h3 = image_ahash(bytes(encode_bmp(other)), "image/bmp")
    assert bin((h1 ^ h3) & ((1 << 64) - 1)).count("1") > 3


def test_image_ahash_signed_long_range():
    import numpy as np

    from etl_java_spark.operators.codecs import encode_bmp, image_ahash

    # an image with a bright bottom half sets high bits -> must still fit int64
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[4:, :, :] = 200
    h = image_ahash(bytes(encode_bmp(img)), "image/bmp")
    assert -(1 << 63) <= h < (1 << 63)


def test_perceptual_hashes_roundtrip(spark):
    from etl_java_spark.operators.multimodal import (
        perceptual_hashes,
        synthesize_image_pairs_table,
    )
    from etl_java_spark.operators.codecs import image_ahash
    from etl_java_spark.operators.multimodal import image_pair_rows

    media = synthesize_image_pairs_table(spark, n=3, seed=11)
    got = {r["path"]: r["phash"] for r in perceptual_hashes(media).collect()}
    want = {p: image_ahash(bytes(c), m) for p, m, c in image_pair_rows(3, 11)}
    assert got == want


# ---------------------------------------------------------------------------
# GDPR cascade + percent-of-parent invariants


def test_gdpr_cascade_consistency(spark):
    from etl_java_spark.queries import QUERIES

    rows = {r["table_name"]: r for r in
            QUERIES["q233_gdpr_cascade_delete"](spark, "/root/testdata/sf0.001").collect()}
    for r in rows.values():
        assert r["rows_after"] == r["rows_before"] - r["rows_deleted"]
    assert rows["customer"]["rows_deleted"] > 0
    # cascades only widen: every forgotten customer's orders went too
    assert rows["orders"]["rows_deleted"] >= rows["customer"]["rows_deleted"] * 0


def test_percent_of_parent_shares(spark):
    from etl_java_spark.queries import QUERIES

    out = QUERIES["q232_percent_of_parent"](spark, "/root/testdata/sf0.001").collect()
    nations = [r for r in out if r["nation"] != "ALL"]
    regions = [r for r in out if r["nation"] == "ALL" and r["region"] != "ALL"]
    total = [r for r in out if r["region"] == "ALL"]
    assert len(total) == 1 and total[0]["share_of_parent"] == 1.0
    # shares within each region sum to ~1
    from collections import defaultdict

    acc = defaultdict(float)
    for r in nations:
        acc[r["region"]] += r["share_of_parent"]
    for v in acc.values():
        assert abs(v - 1.0) < 1e-9
    assert abs(sum(r["share_of_parent"] for r in regions) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# ranking_metrics


def test_ranking_metrics_hit_and_miss(spark):
    from etl_java_spark.operators.retrieval import ranking_metrics

    ranked = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2)],
        ["query_id", "doc_id", "rank"],
    )
    relevant = spark.createDataFrame(
        [(1, 11), (2, 99)], ["query_id", "rel_id"]  # q2's relevant never ranked
    )
    out = {r["query_id"]: r for r in
           ranking_metrics(ranked, relevant, k=10).collect()}
    assert out[1]["rank_of_relevant"] == 2
    assert abs(out[1]["reciprocal_rank"] - 0.5) < 1e-12
    import math

    assert abs(out[1]["ndcg_at_10"] - 1.0 / math.log2(3.0)) < 1e-9
    assert out[2]["rank_of_relevant"] is None
    assert out[2]["reciprocal_rank"] == 0.0 and out[2]["ndcg_at_10"] == 0.0


def test_ranking_metrics_k_cutoff(spark):
    from etl_java_spark.operators.retrieval import ranking_metrics

    ranked = spark.createDataFrame([(1, 10, 7)], ["query_id", "doc_id", "rank"])
    relevant = spark.createDataFrame([(1, 10)], ["query_id", "rel_id"])
    r5 = ranking_metrics(ranked, relevant, k=5).first()
    r10 = ranking_metrics(ranked, relevant, k=10).first()
    assert r5["rank_of_relevant"] is None and r5["reciprocal_rank"] == 0.0
    assert r10["rank_of_relevant"] == 7
