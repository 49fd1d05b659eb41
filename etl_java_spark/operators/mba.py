"""Market-basket analysis — frequent-pair association rules,
item-item cosine neighbors, and Slope One rating prediction.

The classic retail/recommendation trio the corpus lacked: given
transactions (basket, item), (1) which item PAIRS co-occur beyond
chance (support / confidence / lift — the A-priori level-2 output),
(2) each item's nearest neighbors under binary cosine over baskets
(the item-item collaborative-filtering similarity), and (3) Slope One
(Lemire & Maclachlan 2005) — the deterministic, model-free rating
predictor built from average pairwise rating differences.

Determinism contract: every statistic here is a ratio of EXACT
integers (basket counts, co-occurrence counts, integer rating sums),
composed as decimal(38,0) products followed by ONE double division
(IEEE-correctly-rounded, bitwise-equal on any engine) — no libm, no
float accumulation, so no quantization grid is needed anywhere.
Cosine's sqrt is IEEE-correctly-rounded and therefore exempt from the
quantize-before-sum contract (SCALE.md libm audit). Rank windows
order by (cosine DESC, pair_n DESC, neighbor ASC): the float key is a
bitwise-identical tree on both engines and the integer tiebreaks make
ranks total.

Scale design (100 TB): the A-priori prune runs FIRST — items below
``min_item_n`` are dropped before any pair is formed, so the
within-basket self-join generates at most sum_b k_b^2/2 candidate
pairs where k_b is the PRUNED basket width (the knob that bounds the
quadratic term; log the prune rate). Pair generation shuffles once on
the basket key, pair counting once on the (item_a, item_b) key; item
marginals are a tiny second aggregate broadcast back onto the pair
table. Slope One joins the per-user rating table to the (items x
items) deviation table on the item key — the deviation table is
item-squared, NOT user-squared, and is the explicit memory knob
(prune with ``min_pair_n``). Nothing here is corpus-quadratic.

Reference: RoberWaters/ETL-Java has no analytics surface
(src/etl/ETLProcess.java:528-545 is the closest — row transforms);
Charter §2B extension (recommendation / basket family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.checkpoints import materialize

__all__ = [
    "association_rules",
    "item_cosine_neighbors",
    "slope_one_predict",
]

_D38 = "decimal(38,0)"


def _baskets(tx: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Distinct (basket, item) membership — presence, not quantity.

    Materialized (r12): three consumers (item counts, the pruned pair
    join, the basket total) each re-ran the caller's fact join +
    distinct — the per-job profile showed the same ~0.7s upstream job
    twice per query.
    """
    return materialize(
        tx.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        ).distinct()
    )


def _pair_counts(
    b: DataFrame, min_item_n: int
) -> tuple[DataFrame, DataFrame]:
    """A-priori-pruned co-occurrence: returns (pair counts with
    item_a < item_b, per-item basket counts). The support prune runs
    BEFORE the within-basket self-join (the level-1 A-priori cut)."""
    # metadata-sized; materialized because it feeds the prune semi-join
    # AND two marginal broadcasts (r12)
    item_n = materialize(
        b.groupBy("item").agg(F.count("*").cast("long").alias("item_n"))
    )
    frequent = b.join(
        F.broadcast(
            item_n.filter(F.col("item_n") >= int(min_item_n)).select("item")
        ),
        "item",
    )
    a = frequent.select("basket", F.col("item").alias("item_a"))
    c = frequent.select("basket", F.col("item").alias("item_b"))
    pairs = (
        a.join(c, "basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("pair_n"))
    )
    return pairs, item_n


def association_rules(
    tx: DataFrame,
    basket_col: str,
    item_col: str,
    min_item_n: int = 2,
    min_pair_n: int = 2,
) -> DataFrame:
    """Level-2 association rules over distinct-item baskets: for each
    qualifying unordered pair {a, b} (a < b), emit basket counts and
    support = pair_n/N, confidence(a->b) = pair_n/a_n,
    confidence(b->a) = pair_n/b_n, lift = pair_n*N/(a_n*b_n) — each a
    single division of exact integers (see module contract)."""
    b = _baskets(tx, basket_col, item_col)
    pairs, item_n = _pair_counts(b, min_item_n)
    n_b = b.agg(F.countDistinct("basket").cast("long").alias("n_baskets"))
    out = (
        pairs.filter(F.col("pair_n") >= int(min_pair_n))
        .join(
            F.broadcast(
                item_n.select(
                    F.col("item").alias("item_a"),
                    F.col("item_n").alias("a_n"),
                )
            ),
            "item_a",
        )
        .join(
            F.broadcast(
                item_n.select(
                    F.col("item").alias("item_b"),
                    F.col("item_n").alias("b_n"),
                )
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(n_b))
    )
    return out.select(
        "item_a",
        "item_b",
        "pair_n",
        "a_n",
        "b_n",
        "n_baskets",
        (
            F.col("pair_n").cast("double")
            / F.col("n_baskets").cast("double")
        ).alias("support"),
        (F.col("pair_n").cast("double") / F.col("a_n").cast("double")).alias(
            "conf_ab"
        ),
        (F.col("pair_n").cast("double") / F.col("b_n").cast("double")).alias(
            "conf_ba"
        ),
        (
            (F.col("pair_n").cast(_D38) * F.col("n_baskets"))
            .cast(_D38)
            .cast("double")
            / (F.col("a_n").cast(_D38) * F.col("b_n"))
            .cast(_D38)
            .cast("double")
        ).alias("lift"),
    )


def item_cosine_neighbors(
    tx: DataFrame,
    basket_col: str,
    item_col: str,
    k: int = 5,
    min_item_n: int = 2,
    min_pair_n: int = 2,
) -> DataFrame:
    """Top-k item-item neighbors under binary cosine over baskets:
    cosine(a,b) = pair_n / sqrt(a_n * b_n). Both directions of each
    pair are ranked; rank = ROW_NUMBER over (cosine DESC, pair_n DESC,
    neighbor ASC) per item (total order — see module contract)."""
    b = _baskets(tx, basket_col, item_col)
    pairs, item_n = _pair_counts(b, min_item_n)
    pairs = pairs.filter(F.col("pair_n") >= int(min_pair_n))
    both = pairs.select(
        F.col("item_a").alias("item"),
        F.col("item_b").alias("neighbor"),
        "pair_n",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("item"),
            F.col("item_a").alias("neighbor"),
            "pair_n",
        )
    )
    j = both.join(
        F.broadcast(item_n.select("item", F.col("item_n").alias("i_n"))),
        "item",
    ).join(
        F.broadcast(
            item_n.select(
                F.col("item").alias("neighbor"),
                F.col("item_n").alias("j_n"),
            )
        ),
        "neighbor",
    )
    scored = j.select(
        "item",
        "neighbor",
        "pair_n",
        (
            F.col("pair_n").cast("double")
            / F.sqrt(
                (F.col("i_n").cast(_D38) * F.col("j_n"))
                .cast(_D38)
                .cast("double")
            )
        ).alias("cosine"),
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cosine").desc(), F.col("pair_n").desc(), F.col("neighbor")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
    )


def slope_one_predict(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    min_pair_n: int = 1,
) -> DataFrame:
    """Slope One prediction for every OBSERVED (user, item) rating,
    from the user's OTHER items (leave-one-item-out — the standard
    eval setting): pred(u,j) = sum_i(diffsum_ij + n_ij*r_ui) /
    sum_i(n_ij) over items i != j the user rated, where diffsum_ij =
    sum over co-raters of (r_j - r_i) and n_ij its count. The
    numerator is an EXACT integer because n_ij*(dev_ij + r_ui) =
    diffsum_ij + n_ij*r_ui term-by-term — Slope One is one integer
    ratio per prediction (no float accumulation at all). Ratings must
    be integral (cast to long; pre-scale fractional ratings).

    Rows without any paired co-item (denominator 0) emit NULL pred.
    """
    r = ratings.select(
        F.col(user_col).alias("user"),
        F.col(item_col).alias("item"),
        F.col(rating_col).cast("long").alias("rating"),
    ).groupBy("user", "item").agg(F.max("rating").alias("rating"))
    a = r.select("user", F.col("item").alias("item_i"), F.col("rating").alias("r_i"))
    c = r.select("user", F.col("item").alias("item_j"), F.col("rating").alias("r_j"))
    dev = (
        a.join(c, "user")
        .filter(F.col("item_i") != F.col("item_j"))
        .groupBy("item_i", "item_j")
        .agg(
            F.count("*").cast("long").alias("n_ij"),
            F.sum(
                (F.col("r_j") - F.col("r_i")).cast(_D38)
            ).cast(_D38).alias("diffsum_ij"),
        )
        .filter(F.col("n_ij") >= int(min_pair_n))
    )
    # user's known item_i ratings x deviation rows targeting item_j
    contrib = r.select(
        "user", F.col("item").alias("item_i"), F.col("rating").alias("r_ui")
    ).join(dev, "item_i")
    agg = contrib.groupBy("user", F.col("item_j").alias("item")).agg(
        F.sum(
            (
                F.col("diffsum_ij")
                + F.col("n_ij").cast(_D38) * F.col("r_ui")
            ).cast(_D38)
        ).cast(_D38).alias("num"),
        F.sum("n_ij").cast("long").alias("den"),
    )
    return (
        r.join(agg, ["user", "item"], "left")
        .select(
            "user",
            "item",
            "rating",
            F.coalesce("den", F.lit(0).cast("long")).alias("n_weight"),
            F.when(
                F.col("den") > 0,
                F.col("num").cast("double") / F.col("den").cast("double"),
            ).alias("pred"),
        )
    )
