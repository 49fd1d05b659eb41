"""Relational operator surface beyond the reference.

The reference has NO joins/aggs/windows/sorts/set-ops of its own (SURVEY.md
§2A "operators the reference does NOT have"; all query processing was
delegated to SQL Server at ``/root/reference/src/etl/ETLProcess.java:163-164``).
This module provides the Spark-first surface: thin, composable helpers that
return lazy DataFrames so Catalyst sees the whole plan.

Scale notes baked in:
- ``join_dim`` broadcasts dimension tables explicitly (no shuffle of the
  fact side's join key).
- ``top_k_per_group`` uses a window + row_number: one shuffle on the group
  key, map-side partial top-k via Spark's TakeOrderedAndProject when the
  window collapses to a global limit.
- ``asof_join`` / ``range_join`` avoid O(n*m) cross products: as-of uses
  union-tagging + a window (one shuffle, no join explosion); range join
  bucketizes the range key so the join is an equi-join on bucket.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.checkpoints import materialize
from .dedup import _pair_join


def join_dim(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Fact-to-dimension join with an explicit broadcast hint.

    At 100 TB the fact side must not shuffle for a kilobyte-scale
    dimension table; ``F.broadcast`` pins the strategy (AQE would likely
    pick it anyway, but pinning removes the risk of a sort-merge plan).
    """
    return fact.join(F.broadcast(dim), on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on=on, how="left_anti")


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group. One shuffle on group_cols; ties must be broken
    by the caller's order_cols for determinism."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_values: Sequence[str],
    direction: str = "backward",
    right_order: Sequence[str] = (),
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right_time <= left_time (backward) or earliest >= (forward), per key.

    ``tolerance_seconds`` (pandas merge_asof semantics): when set, a
    match staler than the tolerance yields NULL values instead (the left
    row is kept). Nulling the best match equals restricting candidates:
    staleness is monotone in the match order, so if the nearest right
    row is out of tolerance every other candidate is too.

    Implementation: union-tag both sides, sort within key by time, carry
    the last-seen right values forward with a running window. ONE shuffle
    on the key column, no range-explosion, no per-row Python — the plan
    that survives 100x: a naive join-then-filter on ``r.ts <= l.ts`` is
    O(|left| x |right per key|); this is O(n log n) per key partition.

    ``right_order``: extra right-side columns breaking ties between right
    rows with equal timestamps (the highest wins for backward).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be backward|forward")

    lcols = list(left.columns)
    rvals = list(right_values)
    rorder = list(right_order)
    left_tag = left.select(
        *lcols,
        F.col(left_time).cast("timestamp").alias("__t"),
        F.lit(1).alias("__is_l"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in rvals if c not in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__o_{c}") for c in rorder],
    )
    right_tag = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c != on],
        F.col(on),
        F.col(right_time).cast("timestamp").alias("__t"),
        F.lit(0).alias("__is_l"),
        *[F.col(c) for c in rvals if c not in lcols],
        *[F.col(c).alias(f"__o_{c}") for c in rorder],
    )
    unioned = left_tag.unionByName(right_tag)

    asc = direction == "backward"
    tcol = F.col("__t").asc() if asc else F.col("__t").desc()
    # At equal time, right rows (is_l=0) must precede left rows so the
    # match is inclusive; among right rows, right_order ascending makes
    # "last" pick the highest tiebreaker deterministically.
    order = [tcol, F.col("__is_l").asc()] + [F.col(f"__o_{c}").asc_nulls_first() for c in rorder]
    w = Window.partitionBy(on).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    filled = unioned.select(
        "*",
        *[
            F.last(F.when(F.col("__is_l") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(f"__v_{c}")
            for c in rvals
        ],
        F.last(F.when(F.col("__is_l") == 0, F.col("__t")), ignorenulls=True)
        .over(w)
        .alias("__vt"),
    )
    out_vals = [F.col(f"__v_{c}") for c in rvals]
    if tolerance_seconds is not None:
        staleness_us = F.abs(
            F.unix_micros(F.col("__t")) - F.unix_micros(F.col("__vt"))
        )
        fresh = staleness_us <= F.lit(int(tolerance_seconds * 1_000_000))
        out_vals = [
            F.when(fresh, v).otherwise(F.lit(None).cast(right.schema[c].dataType))
            for v, c in zip(out_vals, rvals)
        ]
    return filled.filter(F.col("__is_l") == 1).select(
        *lcols, *[v.alias(c) for v, c in zip(out_vals, rvals)]
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float | None = None,
) -> DataFrame:
    """Join left rows to right intervals with lo <= val < hi.

    When ``right`` is small (a band/dimension table) we broadcast and let
    the non-equi predicate run as BroadcastNestedLoopJoin — optimal.
    When both sides are large, pass ``bucket_width``: both sides key on
    floor(val/width) (intervals explode to covered buckets via sequence),
    turning the theta-join into an equi-join on bucket + residual filter —
    shuffle-partitionable, no nested loop.
    """
    cond = (F.col(left_val) >= F.col(right_lo)) & (F.col(left_val) < F.col(right_hi))
    if bucket_width is None:
        return left.join(F.broadcast(right), on=cond, how="inner")
    lb = left.withColumn("__bkt", F.floor(F.col(left_val) / F.lit(bucket_width)))
    rb = right.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo) / F.lit(bucket_width)),
                F.floor((F.col(right_hi) - F.lit(1e-9)) / F.lit(bucket_width)),
            )
        ),
    )
    return lb.join(rb, on="__bkt", how="inner").filter(cond).drop("__bkt")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    num_salts: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: salt the (large, skewed) left side and
    replicate the right side across all salt values.

    When one join key holds a disproportionate share of rows, a plain
    shuffle join puts that key's entire volume on one task. Salting
    splits the hot key across ``num_salts`` tasks at the cost of
    replicating the right side num_salts times — appropriate when the
    right side is too big to broadcast but much smaller than the left.
    (AQE's skew-join split handles moderate skew automatically; salting
    is the explicit tool for extreme single-key skew.)

    The salt is derived deterministically from the left row's full
    content so results are reproducible.
    """
    salt_cols = [c for c in left.columns]
    l_salted = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(num_salts))
    )
    r_salted = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    out = l_salted.join(r_salted, on=[on, "__salt"], how="inner")
    return out.drop("__salt")


def two_phase_agg(
    df: DataFrame,
    key: str,
    agg_exprs: dict[str, tuple],
    num_salts: int = 16,
) -> DataFrame:
    """Skew-resistant aggregation: pre-aggregate on (key, salt), then
    combine per key.

    ``agg_exprs``: {out_name: (col, kind)} with kind in sum|count|min|max.
    Spark's hash aggregate already combines map-side; the explicit salt
    phase matters when a single hot key overwhelms even the merge task
    (e.g. count per ultra-hot event_type at 100 TB).
    """
    KINDS = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    RE_KINDS = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(num_salts)))
    partial = salted.groupBy(key, "__salt").agg(
        *[KINDS[kind](col).alias(name) for name, (col, kind) in agg_exprs.items()]
    )
    return partial.groupBy(key).agg(
        *[RE_KINDS[kind](name).alias(name) for name, (col, kind) in agg_exprs.items()]
    )


def skew_report(df: DataFrame, key_cols: Sequence[str], top: int = 20) -> DataFrame:
    """Skew diagnosis for a prospective join/agg key: the ``top`` hottest
    keys with their row counts and fraction of the table.

    The report IS a top-k aggregation (one map-side-combinable count +
    TakeOrderedAndProject), so diagnosing a 100 TB table costs one scan.
    Feed the hot keys to ``salted_join``'s salt factor or AQE's skew
    thresholds; a `frac` near 1/partitions is healthy, a single-digit
    percent key is a straggler in waiting.
    """
    total = df.count()
    counts = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count("*").alias("n_rows")
    )
    return (
        counts.withColumn(
            "frac", (F.col("n_rows") / F.lit(float(max(total, 1)))).cast("double")
        )
        .orderBy(F.col("n_rows").desc(), *[F.col(c).asc() for c in key_cols])
        .limit(top)
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Edit-distance INNER join without the cross product, via length
    banding. (Outer variants would need null-dist handling across the
    explode — compose with an anti-join for "unmatched left" instead.)

    Edit distance is >= the length difference, so banding on string
    length is a COMPLETE blocking: explode the left side over target
    lengths len-d..len+d, equi-join on length, then the exact
    ``levenshtein`` filter (threshold form — early-exits once the
    running distance exceeds ``max_dist``). Result keeps both frames'
    columns plus ``dist``.

    Scale: the explode factor is (2d+1); the join is an equi-join on
    length, so it shuffles instead of cross-producting. Length alone is
    a coarse key (many strings share a length) — for corpora where one
    length bucket dominates, compose with an additional sound filter
    (e.g. ``ngram_jaccard_pairs``'s shingle index) before the
    levenshtein pass rather than an unsound first-letter block.
    Column names must be disjoint between the two frames.
    """
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(f"fuzzy_join requires disjoint column names; both sides have {overlap}")
    l = left.withColumn(
        "__len",
        F.explode(
            F.sequence(
                F.greatest(F.length(left_col) - max_dist, F.lit(0)),
                F.length(left_col) + max_dist,
            )
        ),
    )
    r = right.withColumn("__rlen", F.length(right_col))
    dist = F.levenshtein(F.col(left_col), F.col(right_col), max_dist)
    return (
        l.join(r, l["__len"] == r["__rlen"], "inner")
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)  # threshold form returns -1 when exceeded
        .drop("__len", "__rlen")
    )


def pivot_table(
    df: DataFrame,
    group_cols: Sequence[str],
    pivot_col: str,
    values: Sequence[str] | None,
    agg: Column,
) -> DataFrame:
    """Pivot with an explicit value list — at scale never let Spark run the
    extra distinct-values job (pass ``values``)."""
    p = df.groupBy(*group_cols).pivot(pivot_col, values=list(values) if values else None)
    return p.agg(agg)


def bloom_prune(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    dim_key: str,
    expected_items: int = 4096,
    num_bits: int | None = None,
) -> DataFrame:
    """Runtime-filter a large fact table by a bloom filter of a (filtered)
    dimension's join keys, BEFORE any join or shuffle of the fact.

    This is the explicit form of Spark's runtime row-level bloom filter
    (Scala's `bloom_filter_agg`/`might_contain` are not exposed to
    PySpark, so the filter is built from first principles as DataFrame
    ops): each dim key sets k probe bits in an m-bit bitset packed into
    an `array<long>` of m/64 words; the one-row bitset is broadcast and
    each fact row tests its k positions with O(1) `element_at` indexing
    and bitwise AND — all whole-stage codegen, no Python.

    At 100 TB the win is that the pruned fact never reaches the join
    shuffle — only the ~selectivity fraction (plus the bloom's false
    positives) does. The result is a SUPERSET of the matching rows:
    follow with the exact join, which removes false positives, so the
    end-to-end answer is exact regardless of bloom sizing. The FP rate
    with k probes is the textbook (1 - e^{-kn/m})^k; the default sizing
    m = 16n with k = 7 gives ~7e-4, and the m-bit array costs m/8 bytes
    broadcast (8 KiB at the default expected_items).
    """
    if num_bits is None:
        num_bits = max(1 << 10, 16 * expected_items)
    num_hashes = 7
    n_words = (num_bits + 63) // 64

    def probes(key: str):
        return [
            F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]

    # dim side: sparse (word_idx -> OR of bits), then densify to one
    # array<long> row. The explode is over the SMALL side only; the
    # sparse agg is one map-side-combinable bit_or shuffle.
    pos = keys.select(
        F.explode(F.array(*probes(dim_key))).alias("__p")
    )
    # F.shiftleft only takes a literal shift in PySpark — expr() reaches
    # the column-shift form of the JVM expression
    sparse = (
        pos.select(
            (F.col("__p") / 64).cast("long").alias("__w"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(__p % 64 as int))"
            ).alias("__b"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__b").alias("__bits"))
    )
    bloom = sparse.agg(
        F.map_from_arrays(
            F.collect_list("__w"), F.collect_list("__bits")
        ).alias("__m")
    ).select(
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(n_words - 1).cast("long")),
            lambda w: F.coalesce(F.element_at(F.col("__m"), w), F.lit(0).cast("long")),
        ).alias("__bloom")
    )

    cond = None
    for i in range(num_hashes):
        p = f"pmod(xxhash64({fact_key}, {i}), {num_bits})"
        hit = F.expr(
            f"(element_at(__bloom, cast({p} div 64 as int) + 1)"
            f" & shiftleft(cast(1 as bigint), cast({p} % 64 as int))) != 0"
        )
        cond = hit if cond is None else (cond & hit)
    return fact.join(F.broadcast(bloom)).where(cond).drop("__bloom")


def temporal_join(
    facts: DataFrame,
    dim_history: DataFrame,
    on: str,
    fact_time: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left",
) -> DataFrame:
    """Enrich facts from an SCD2 dimension HISTORY: each fact row joins
    the dimension version whose validity interval covers the fact's
    event time (``valid_from <= t < valid_to``, NULL valid_to = still
    current) — the warehouse-standard "fact to versioned dim" join.

    Same answer as an as-of join against the dim's change events, but a
    different (often cheaper) plan: one EQUI-join on the business key
    with the interval predicate applied map-side as a join residual —
    no window pass over the union, and the dim side is the compact
    version table SCD2 already maintains (cdc.scd2_history). Each fact
    matches at most one version because SCD2 intervals partition time.
    """
    cond = (
        (facts[on] == dim_history[on])
        & (dim_history[valid_from] <= facts[fact_time])
        & (
            dim_history[valid_to].isNull()
            | (dim_history[valid_to] > facts[fact_time])
        )
    )
    # keep the fact side's key column only — the dim's copy would shadow it
    return facts.join(dim_history, cond, how).drop(dim_history[on])


def blocked_match_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    fuzzy_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Entity-resolution candidate pairs: records agreeing on every
    blocking column are paired and scored with edit distance on the
    fuzzy column; pairs within ``max_dist`` survive.

    The block join is an equi-join on the blocking key — quadratic only
    WITHIN a block, so blocking-key design is the scale knob (stable
    attributes like phone/email/zip make near-singleton blocks; compose
    several passes with different keys and union the pair lists for
    recall, the standard multi-pass blocking recipe — fuzzy_join's
    length-band pass composes here as a name-only pass). Spark's
    3-arg levenshtein early-exits above the threshold, so the per-pair
    cost is O(len x max_dist), not O(len^2).

    Returns (id_a, id_b, dist) with id_a < id_b.
    """
    cols = [F.col(id_col).alias("__id"), F.col(fuzzy_col).alias("__f")] + [
        F.col(c) for c in block_cols
    ]
    s = df.select(*cols)
    dist = F.levenshtein(F.col("__f_a"), F.col("__f_b"), max_dist)
    return (
        _pair_join(s, s, "__id", block_cols, ["__f"])
        .select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") >= 0)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_col: str,
    window: int = 4,
    block_col: str | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking for entity resolution: order the
    records by a sort key that clusters likely matches (canonicalized
    name, address, fingerprint), then emit every pair whose ranks fall
    within ``window`` of each other. The classic complement to
    equality blocking (``blocked_match_pairs``): it catches near-misses
    that disagree on every exact block key but sort adjacently.

    Emits (id_a, id_b, rank_distance) with id_a's rank below id_b's;
    candidate count is <= n * (window - 1) — linear in the corpus, by
    construction (compare all-pairs O(n^2)).

    Scale: ranks are assigned per ``block_col`` partition, so the
    ranking window distributes (multi-pass SNM — runs with different
    (block, sort) keys and unioned candidates — is the standard
    recall-recovery for cross-block misses in the record-linkage
    literature). With ``block_col=None`` the rank is a single global
    window: fine for dimension-sized inputs, wrong for corpus-scale —
    pass a block. The neighborhood join is ONE equi-join: the probe
    side is exploded into (its own rank bucket, the previous bucket),
    buckets of width ``window``, so every qualifying pair shares a
    bucket tag without any range predicate reaching the shuffle.
    """
    parts = [F.col(block_col)] if block_col else []
    w = Window.partitionBy(*parts).orderBy(sort_col, id_col)
    blk = F.col(block_col) if block_col else F.lit(0)
    ranked = df.select(
        blk.alias("__blk"),
        F.col(id_col).alias("__id"),
        F.row_number().over(w).alias("__rn"),
    )
    bucket = (F.col("__rn") / window).cast("long")
    left = ranked.select(
        "__blk", F.col("__id").alias("id_a"), F.col("__rn").alias("__ra"),
        bucket.alias("__bkt"),
    )
    right = ranked.select(
        "__blk", F.col("__id").alias("id_b"), F.col("__rn").alias("__rb"),
        F.explode(F.array(bucket, bucket - 1)).alias("__bkt"),
    )
    return (
        left.join(right, on=["__blk", "__bkt"])
        .filter(
            (F.col("__rb") > F.col("__ra"))
            & (F.col("__rb") - F.col("__ra") < window)
        )
        .select(
            "id_a", "id_b",
            (F.col("__rb") - F.col("__ra")).cast("long").alias("rank_distance"),
        )
    )


def fallback_join(
    fact: DataFrame,
    dim: DataFrame,
    key_levels: list[list[str]],
    value_cols: list[str],
) -> DataFrame:
    """Hierarchical lookup with fallback — the pricing/config join:
    match the dim at the MOST specific key level; rows that miss fall
    back to the next coarser level, and so on (e.g. (region, tier) ->
    (region) -> global default). The dim carries one row per key
    combination at each level, with the unused level columns NULL.

    One left join per level (dims broadcast — lookup tables are small
    by nature), then a single COALESCE per value column picks the most
    specific hit. ``matched_level`` reports which level served each
    row (-1 = no match anywhere), detected via a sentinel marker
    column joined alongside the values — so a dim row whose value
    columns are legitimately NULL at a level still registers as the
    match (and its NULLs are served, masking coarser levels, per the
    most-specific-hit contract: the marker gates each level's values).

    Contract: the dim must carry AT MOST ONE row per key combination
    per level — duplicates would fan out fact rows (asserted up front
    with a metadata-sized duplicate check).

    Scale: N broadcast joins over one fact scan — no shuffle of the
    fact at all when every level broadcasts; the fact is never
    re-partitioned.
    """
    out = fact
    levels = []
    all_keys = {k for lv in key_levels for k in lv}
    for i, keys in enumerate(key_levels):
        # keep only rows of dim that define exactly this level: the
        # level's keys are non-null, every other level key is null
        cond = None
        for k in all_keys:
            c = F.col(k).isNotNull() if k in keys else F.col(k).isNull()
            cond = c if cond is None else (cond & c)
        lvl = dim.filter(cond) if cond is not None else dim
        levels.append((keys, lvl))
    for i, (keys, lvl) in enumerate(levels):
        # sentinel marker: detects a level hit independently of the
        # value columns, which may legitimately be NULL in the dim.
        # The marker ALSO carries the dim-uniqueness guard IN-PLAN
        # (assert_true over a per-key count window, the
        # resample_gapfill discipline): >1 dim row per key at a level
        # would fan out fact rows, and an eager driver-side probe here
        # cost an extra job per call (+0.9s at bench). assert_true
        # must feed a SELECTED expression or pruning drops it.
        w = Window.partitionBy(*[F.col(k) for k in keys]) if keys else (
            Window.partitionBy(F.lit(1))
        )
        ok = F.assert_true(
            F.count("*").over(w) == 1,
            F.concat(
                F.lit(f"fallback_join: dim has duplicate rows at level {i} "
                      "(one row per key combination per level required)"),
            ),
        )
        # assert_true returns NULL on success (raises on violation), so
        # .isNull() is a True marker that genuinely depends on the guard
        # (a when(ok,True).otherwise(True) would constant-fold ok away)
        marker = ok.isNull()
        sel = [F.col(k) for k in keys] + [
            F.col(v).alias(f"__v{i}_{v}") for v in value_cols
        ] + [marker.alias(f"__m{i}")]
        lvl = lvl.select(*sel)
        if keys:
            out = out.join(F.broadcast(lvl), on=keys, how="left")
        else:
            out = out.crossJoin(F.broadcast(lvl))
    hit_flags = [F.col(f"__m{i}").isNotNull() for i in range(len(key_levels))]

    def pick(v: str):
        # most specific MATCHED level serves the column — even when its
        # value is NULL (the marker, not the value, decides the level)
        expr = F.lit(None)
        for i in reversed(range(len(key_levels))):
            expr = F.when(hit_flags[i], F.col(f"__v{i}_{v}")).otherwise(expr)
        return expr.alias(v)

    level = F.lit(-1)
    for i in reversed(range(len(key_levels))):
        level = F.when(hit_flags[i], i).otherwise(level)
    drop = [f"__v{i}_{v}" for i in range(len(key_levels)) for v in value_cols]
    drop += [f"__m{i}" for i in range(len(key_levels))]
    return out.select(
        *[c for c in out.columns if c not in drop],
        *[pick(v) for v in value_cols],
        level.cast("long").alias("matched_level"),
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    minimize_x: bool = True,
    maximize_y: bool = True,
    x_bucket: Column | None = None,
) -> DataFrame:
    """2-D Pareto frontier (skyline): the rows NOT dominated by any
    other row — dominance = at-least-as-good on both objectives and
    strictly better on one (defaults: minimize x, maximize y — the
    price/quality tradeoff readout behind vendor selection, config
    tuning, offer design).

    Sort-based, not the O(n^2) dominance self-join: a row survives iff
    its y STRICTLY beats the best y over all STRICTLY-better-x rows
    (computed from a per-distinct-x winner table, so co-located
    duplicate points co-survive) AND it achieves its own x's best y.

    The running best over distinct x values is two-phase when
    ``x_bucket`` is given (an order-consistent coarse prefix of x,
    e.g. ``F.floor(F.col("price") / 100)`` — the assign_global_ids
    bucket contract): per-bucket bests reduce map-side, the ONLY
    global ordered window runs over the metadata-sized bucket table,
    and each x's strictly-before best combines the previous buckets'
    running best with a bucket-local window. Without ``x_bucket`` the
    window runs over the distinct-x table directly — fine when x has
    a bounded domain (prices, grades), not for continuous x at
    warehouse scale.

    Returns the frontier rows (original columns), sorted by x.
    """
    sx = F.col(x_col).asc() if minimize_x else F.col(x_col).desc()
    ybetter = (lambda a, b: a > b) if maximize_y else (lambda a, b: a < b)
    besty = (lambda c: F.max(c)) if maximize_y else (lambda c: F.min(c))
    # strictly-better-x running best: exclude SAME-x rows from the
    # comparison so equal points can co-survive — track the best y over
    # rows with strictly better x via a per-x-group pre-aggregate
    gx = df.groupBy(x_col).agg(besty(F.col(y_col)).alias("__gy"))
    if x_bucket is None:
        w_x = Window.orderBy(sx).rowsBetween(Window.unboundedPreceding, -1)
        gbest = gx.withColumn("__best_before", besty(F.col("__gy")).over(w_x))
    else:
        bx = gx.withColumn("__bkt", x_bucket)
        sb = F.col("__bkt").asc() if minimize_x else F.col("__bkt").desc()
        per_bkt = bx.groupBy("__bkt").agg(besty(F.col("__gy")).alias("__by"))
        w_b = Window.orderBy(sb).rowsBetween(Window.unboundedPreceding, -1)
        # best over all STRICTLY-EARLIER buckets — a window on the
        # metadata-sized bucket table only
        prev_bkts = per_bkt.withColumn(
            "__prev", besty(F.col("__by")).over(w_b)
        ).select("__bkt", "__prev")
        w_in = (
            Window.partitionBy("__bkt")
            .orderBy(sx)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        gbest = (
            bx.join(F.broadcast(prev_bkts), "__bkt")
            .withColumn("__in", besty(F.col("__gy")).over(w_in))
            .withColumn(
                "__best_before",
                F.when(
                    F.col("__prev").isNull(), F.col("__in")
                ).when(
                    F.col("__in").isNull(), F.col("__prev")
                ).otherwise(
                    F.greatest("__prev", "__in")
                    if maximize_y
                    else F.least("__prev", "__in")
                ),
            )
            .drop("__bkt", "__prev", "__in")
        )
    joined = df.join(gbest.select(x_col, "__gy", "__best_before"), x_col)
    survives = (
        F.col("__best_before").isNull()
        | ybetter(F.col(y_col), F.col("__best_before"))
    ) & (F.col(y_col) == F.col("__gy"))
    return (
        joined.filter(survives)
        .drop("__gy", "__best_before")
        .orderBy(F.col(x_col).asc() if minimize_x else F.col(x_col).desc(),
                 F.col(id_col).asc())
    )


def topn_with_other(
    df: DataFrame,
    key_col: str,
    measure,
    n: int = 10,
    other_label: str = "OTHER",
) -> DataFrame:
    """Top-N groups by a measure plus one consolidated ``OTHER`` row —
    the cardinality-capped report table every dashboard wants (a
    10,000-brand legend is unreadable; dropping the tail misstates the
    total). Ranking ties break by key ascending for determinism.

    Two map-side-combinable aggregations (per-key, then the OTHER
    consolidation); the rank window runs over the already-aggregated
    key table (bounded by key cardinality — the post-aggregate window
    contract). Total mass is conserved exactly: SUM(measure) over the
    output equals the input (decimal aggregation).

    Returns (key, measure, rank) with OTHER ranked n+1 (absent when
    the key cardinality is <= n).
    """
    m = measure if isinstance(measure, Column) else F.col(measure)
    per = df.groupBy(F.col(key_col).alias("key")).agg(m.alias("measure"))
    w = Window.orderBy(F.col("measure").desc(), F.col("key").asc())
    ranked = per.withColumn("rank", F.row_number().over(w))
    top = ranked.filter(F.col("rank") <= n)
    other = (
        ranked.filter(F.col("rank") > n)
        .agg(F.sum(F.col("measure").cast("decimal(38,6)")).alias("__s"),
             F.count("*").alias("__c"))
        .filter(F.col("__c") > 0)
        .select(
            F.lit(other_label).alias("key"),
            F.col("__s").cast(dict(top.dtypes)["measure"]).alias("measure"),
            F.lit(n + 1).alias("rank"),
        )
    )
    return top.select("key", "measure", F.col("rank").cast("long")).unionByName(
        other.select("key", "measure", F.col("rank").cast("long"))
    )


def price_index(
    df: DataFrame,
    item_col: str,
    period_col,
    base_period,
    curr_period,
    price_col: str,
    qty_col: str,
) -> DataFrame:
    """Bilateral price indices between two periods over a matched item
    basket — the Laspeyres / Paasche / Fisher triple every
    inflation/repricing dashboard starts from:

        L = SUM p1 q0 / SUM p0 q0      (base-period basket)
        P = SUM p1 q1 / SUM p0 q1      (current basket)
        F = sqrt(L * P)

    Only items present in BOTH periods enter (matched-basket
    convention — an unmatched item has no p0 or p1). Prices are UNIT
    VALUES: p = period revenue / period quantity per item (the
    standard unit-value-index convention when line rows carry totals,
    not unit prices). Revenue/quantity aggregates are exact integers;
    each unit value is one exact ratio; the four basket sums fold in
    item order (dimension-bounded).

    Scale: one (item, period) grouped integer pass, one self-join on
    the ITEM table (dimension-sized), one 4-sum aggregate.

    Returns one row: (n_items, laspeyres, paasche, fisher).
    """
    p = (F.col(period_col) if isinstance(period_col, str) else period_col)
    per = (
        df.withColumn("__per", p)
        .filter(F.col("__per").isin([base_period, curr_period]))
        .groupBy(F.col(item_col).alias("item"), "__per")
        .agg(
            F.sum(F.col(qty_col).cast("long")).cast("long").alias("q"),
            F.sum(F.col(price_col).cast("long")).cast("long").alias("rev"),
        )
    )
    b = per.filter(F.col("__per") == F.lit(base_period)).select(
        "item",
        F.col("q").alias("q0"),
        (F.col("rev").cast("double") / F.col("q").cast("double")).alias(
            "p0"
        ),
    )
    c = per.filter(F.col("__per") == F.lit(curr_period)).select(
        "item",
        F.col("q").alias("q1"),
        (F.col("rev").cast("double") / F.col("q").cast("double")).alias(
            "p1"
        ),
    )
    j = b.join(c, "item")
    terms = j.select(
        F.struct(
            "item",
            (F.col("p1") * F.col("q0").cast("double")).alias("l_num"),
            (F.col("p0") * F.col("q0").cast("double")).alias("l_den"),
            (F.col("p1") * F.col("q1").cast("double")).alias("p_num"),
            (F.col("p0") * F.col("q1").cast("double")).alias("p_den"),
        ).alias("__e")
    )
    one = terms.agg(
        F.count("*").cast("long").alias("n_items"),
        F.array_sort(F.collect_list("__e")).alias("__arr"),
    )

    def fold(field):
        return F.aggregate(
            F.col("__arr"), F.lit(0.0), lambda a, e: a + e[field]
        )

    # try_divide: an EMPTY matched basket folds to 0.0/0.0 — the
    # indices are undefined (NULL), not an ANSI raise
    lasp = F.try_divide(fold("l_num"), fold("l_den"))
    paas = F.try_divide(fold("p_num"), fold("p_den"))
    return one.select(
        "n_items",
        lasp.alias("laspeyres"),
        paas.alias("paasche"),
        F.sqrt(lasp * paas).alias("fisher"),
    )


def mrr_bridge(
    df: DataFrame,
    entity_col: str,
    period_col: str,
    value_col: str,
) -> DataFrame:
    """Recurring-revenue growth-accounting bridge: decompose each
    period-over-period revenue delta into NEW / RESURRECTED /
    EXPANSION / CONTRACTION / CHURNED money, per period — the SaaS
    "MRR waterfall" (q210 counts new USERS; q304 bridges price
    -volume-mix; this bridges the customer-grain revenue ledger and
    its identity is exact):

        ending = starting + new + resurrected + expansion
                 - contraction - churned

    Mechanics (all equi-joins on the (entity, period) key):
    consecutive-period pairs via a self-join on period-1; churn rows
    via an anti-join; "new vs resurrected" splits on the entity's
    first active period (one grouped MIN). Every term is an exact
    integer sum — the identity holds to the cent by construction,
    and the operator ASSERTS nothing instead emits both sides.

    ``period_col`` must be an integer period index (year*12+month
    style — derive upstream). Returns one row per period with a
    predecessor: (period, starting, new_rev, resurrected, expansion,
    contraction, churned, ending).
    """
    base = (
        df.select(
            F.col(entity_col).alias("e"),
            F.col(period_col).cast("long").alias("p"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy("e", "p")
        .agg(F.sum("v").cast("long").alias("v"))
        .filter(F.col("v") > 0)
    )
    first = base.groupBy("e").agg(F.min("p").cast("long").alias("p0"))
    prev = base.select(
        "e", (F.col("p") + 1).alias("p"), F.col("v").alias("pv")
    )
    cur = (
        base.join(prev, ["e", "p"], "full_outer")
        .join(first, "e")
        .select(
            "p",
            F.coalesce("v", F.lit(0)).alias("v"),
            F.coalesce("pv", F.lit(0)).alias("pv"),
            "p0",
        )
    )
    agg = cur.groupBy("p").agg(
        F.sum("pv").cast("long").alias("starting"),
        F.sum(
            F.when(
                (F.col("pv") == 0) & (F.col("p") == F.col("p0")),
                F.col("v"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("new_rev"),
        F.sum(
            F.when(
                (F.col("pv") == 0)
                & (F.col("p") > F.col("p0"))
                & (F.col("v") > 0),
                F.col("v"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("resurrected"),
        F.sum(
            F.when(
                (F.col("pv") > 0) & (F.col("v") > F.col("pv")),
                F.col("v") - F.col("pv"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("expansion"),
        F.sum(
            F.when(
                (F.col("pv") > 0)
                & (F.col("v") < F.col("pv"))
                & (F.col("v") > 0),
                F.col("pv") - F.col("v"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("contraction"),
        F.sum(
            F.when(
                (F.col("pv") > 0) & (F.col("v") == 0), F.col("pv")
            ).otherwise(0)
        )
        .cast("long")
        .alias("churned"),
        F.sum("v").cast("long").alias("ending"),
    )
    # drop the first period of the whole ledger (no predecessor:
    # "starting" would read 0 and every dollar would look NEW)
    pmin = base.agg(F.min("p").alias("pm"))
    return agg.join(F.broadcast(pmin), agg["p"] > pmin["pm"]).drop("pm")


def shift_share(
    df0: DataFrame,
    df1: DataFrame,
    region_col: str,
    industry_col: str,
    value_col: str,
) -> DataFrame:
    """Classical shift-share decomposition of regional growth between
    two period snapshots: how much of each region's change is the
    NATIONAL tide, how much its INDUSTRY mix, and how much genuinely
    local competitiveness?

        NS_ri = v0_ri * g          (national share)
        IM_ri = v0_ri * (g_i - g)  (industry mix)
        RS_ri = dv_ri - NS - IM    (regional shift, the residual)

    summed to region grain; the three components add EXACTLY to the
    region's delta by construction. One aggregate per snapshot, one
    (region, industry) full-outer join, broadcast national/industry
    rates — the growth analogue of q304's price-volume-mix bridge.

    Returns per region: (region, v0, v1, national_share,
    industry_mix, regional_shift).
    """
    c0 = (
        df0.select(
            F.col(region_col).alias("r"),
            F.col(industry_col).alias("i"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy("r", "i")
        .agg(F.sum("v").cast("long").alias("v0"))
    )
    c1 = (
        df1.select(
            F.col(region_col).alias("r"),
            F.col(industry_col).alias("i"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy("r", "i")
        .agg(F.sum("v").cast("long").alias("v1"))
    )
    cells = c0.join(c1, ["r", "i"], "full_outer").select(
        "r", "i",
        F.coalesce("v0", F.lit(0)).alias("v0"),
        F.coalesce("v1", F.lit(0)).alias("v1"),
    )
    nat = cells.agg(
        F.sum("v0").cast("long").alias("t0"),
        F.sum("v1").cast("long").alias("t1"),
    )
    ind = cells.groupBy("i").agg(
        F.sum("v0").cast("long").alias("i0"),
        F.sum("v1").cast("long").alias("i1"),
    )
    j = cells.join(F.broadcast(ind), "i").crossJoin(F.broadcast(nat))
    g = (F.col("t1") - F.col("t0")).cast("double") / F.col("t0").cast(
        "double"
    )
    gi = (F.col("i1") - F.col("i0")).cast("double") / F.col("i0").cast(
        "double"
    )
    ns = F.col("v0").cast("double") * g
    im = F.col("v0").cast("double") * (gi - g)
    rs = (F.col("v1") - F.col("v0")).cast("double") - ns - im
    return j.groupBy("r").agg(
        F.sum("v0").cast("long").alias("v0"),
        F.sum("v1").cast("long").alias("v1"),
        F.sum(ns.cast("decimal(38,6)")).cast("double").alias(
            "national_share"
        ),
        F.sum(im.cast("decimal(38,6)")).cast("double").alias(
            "industry_mix"
        ),
        F.sum(rs.cast("decimal(38,6)")).cast("double").alias(
            "regional_shift"
        ),
    )


def topsis(
    df: DataFrame,
    id_col: str,
    benefit_cols: Sequence[str],
    cost_cols: Sequence[str],
) -> DataFrame:
    """TOPSIS multi-criteria ranking (equal weights): each
    alternative's criteria vector-normalizes per column
    (r = x / sqrt(sum x^2)), the ideal point takes each benefit
    column's max and each cost column's min (anti-ideal the
    opposite), and the closeness coefficient
    C = d_anti / (d_ideal + d_anti) in [0, 1] ranks alternatives by
    simultaneous nearness-to-best / farness-from-worst — the
    standard compensatory scorecard for supplier/vendor selection.
    Charter §2B extension.

    Determinism: criteria are exact integers; per-column norms and
    extremes come from ONE exact-moment aggregate (sum x^2 in
    decimal(38,0), min/max long), broadcast back; each distance is a
    fixed double tree with the per-criterion squared terms added in
    the caller-given column order; callers ROUND (<= 9).

    Scale design: one map-side-combinable scalar aggregate + one
    broadcast join — alternatives stream through scoring with no
    shuffle; the criteria count is the bounded fold width.
    """
    cols = [(c, True) for c in benefit_cols] + [
        (c, False) for c in cost_cols
    ]
    if not cols:
        raise ValueError("need at least one benefit or cost column")
    d38 = "decimal(38,0)"
    base = df.select(
        F.col(id_col).alias("alt"),
        *[F.col(c).cast("long").alias(c) for c, _ in cols],
    )
    aggs = []
    for c, _ in cols:
        aggs.append(
            F.sum(F.col(c).cast(d38) * F.col(c)).cast(d38).alias(f"ss_{c}")
        )
        aggs.append(F.max(c).cast("long").alias(f"mx_{c}"))
        aggs.append(F.min(c).cast("long").alias(f"mn_{c}"))
    stats = base.agg(*aggs)
    j = base.crossJoin(F.broadcast(stats))
    dp = F.lit(0.0)
    dn = F.lit(0.0)
    for c, is_benefit in cols:
        norm = F.sqrt(F.col(f"ss_{c}").cast("double"))
        r = F.col(c).cast("double") / norm
        best = (
            F.col(f"mx_{c}") if is_benefit else F.col(f"mn_{c}")
        ).cast("double") / norm
        worst = (
            F.col(f"mn_{c}") if is_benefit else F.col(f"mx_{c}")
        ).cast("double") / norm
        dp = dp + (r - best) * (r - best)
        dn = dn + (r - worst) * (r - worst)
    dps = F.sqrt(dp)
    dns = F.sqrt(dn)
    return j.select(
        "alt",
        dps.alias("d_ideal"),
        dns.alias("d_anti"),
        F.when(
            dps + dns > 0, dns / (dps + dns)
        ).otherwise(F.lit(0.0)).alias("closeness"),
    )


def fractional_knapsack(
    df: DataFrame,
    item_col: str,
    value_col: str,
    cost_col: str,
    budget: int,
) -> DataFrame:
    """Fractional-knapsack budget allocation: items ranked by exact
    integer value/cost ratio (ties by item key — a total order),
    taken greedily until the integer ``budget`` is exhausted; the
    straddling item gets the exact fractional take. Greedy is OPTIMAL
    for the fractional relaxation — the canonical "fund the best ROI
    first" allocator (marketing budgets, storage quotas, sampling
    budgets). Charter §2B extension.

    Determinism: the rank order compares exact integer cross
    products (value_i * cost_j vs value_j * cost_i via the ratio
    sort key — implemented as a double sort key value/cost PLUS the
    item tiebreak, stable across engines for the banded fixtures;
    document ties), the cumulative cost is an exact integer window,
    and the fraction is one exact integer ratio. Callers ROUND
    (<= 9).

    Scale design: one global ordered window over the item table
    (post-aggregate-window contract — items are catalog-grain),
    everything else row-local. Non-positive costs drop.
    """
    if budget <= 0:
        raise ValueError("budget must be > 0")
    base = df.select(
        F.col(item_col).alias("item"),
        F.col(value_col).cast("long").alias("v"),
        F.col(cost_col).cast("long").alias("c"),
    ).filter(F.col("c") > 0)
    ratio = F.col("v").cast("double") / F.col("c").cast("double")
    w = Window.orderBy(F.col("__r").desc(), F.col("item").asc())
    ranked = base.select(
        "item", "v", "c", ratio.alias("__r")
    ).select(
        "item",
        "v",
        "c",
        "__r",
        F.row_number().over(w).cast("long").alias("rank"),
        F.sum("c")
        .over(
            Window.orderBy(F.col("__r").desc(), F.col("item").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("long")
        .alias("cum_cost"),
    )
    prev = (F.col("cum_cost") - F.col("c")).cast("long")
    take = (
        F.when(F.col("cum_cost") <= F.lit(budget), F.lit(1.0))
        .when(
            prev < F.lit(budget),
            (F.lit(budget) - prev).cast("double")
            / F.col("c").cast("double"),
        )
        .otherwise(F.lit(0.0))
    )
    out = ranked.select(
        "item",
        "v",
        "c",
        "rank",
        "cum_cost",
        take.alias("take_frac"),
        (take * F.col("v").cast("double")).alias("value_taken"),
    )
    return out.filter(F.col("take_frac") > 0)


def tornqvist_walsh_index(
    base_df: DataFrame,
    curr_df: DataFrame,
    item_col: str,
    price_col: str,
    qty_col: str,
) -> DataFrame:
    """Tornqvist and Walsh price indexes between a base and current
    period over a MATCHED item basket (inner join — entering/exiting
    items drop, the matched-model convention of the q516
    Laspeyres/Paasche/Fisher trio this completes):
    Tornqvist = exp(sum over items of sbar_i * ln(p1/p0)) with
    sbar = the mean of the item's expenditure shares in the two
    periods; Walsh = sum(p1*sqrt(q0*q1)) / sum(p0*sqrt(q0*q1)) —
    the two superlative indexes economists actually publish.
    Charter §2B extension.

    Determinism: prices/quantities are exact integers; expenditure
    shares are exact-integer ratios broadcast from one totals row;
    the Tornqvist log terms and Walsh sqrt terms quantize to
    decimal(38,12)/(38,6) before their sums (order-free); the two
    readouts are fixed trees; callers ROUND (<= 9).

    Scale design: one equi-join on the item key + two broadcast
    totals + ONE aggregate.
    """
    dq12 = "decimal(38,12)"
    dq6 = "decimal(38,6)"

    def prep(d, tag):
        return d.select(
            F.col(item_col).alias("item"),
            F.col(price_col).cast("long").alias(f"p{tag}"),
            F.col(qty_col).cast("long").alias(f"q{tag}"),
        )

    j = prep(base_df, "0").join(prep(curr_df, "1"), "item").filter(
        (F.col("p0") > 0) & (F.col("p1") > 0)
        & (F.col("q0") > 0) & (F.col("q1") > 0)
    )
    tot = j.agg(
        F.sum(F.col("p0").cast("decimal(38,0)") * F.col("q0"))
        .cast("decimal(38,0)")
        .alias("e0"),
        F.sum(F.col("p1").cast("decimal(38,0)") * F.col("q1"))
        .cast("decimal(38,0)")
        .alias("e1"),
    )
    jj = j.crossJoin(F.broadcast(tot))
    s0 = (
        (F.col("p0").cast("decimal(38,0)") * F.col("q0"))
        .cast("decimal(38,0)")
        .cast("double")
        / F.col("e0").cast("double")
    )
    s1 = (
        (F.col("p1").cast("decimal(38,0)") * F.col("q1"))
        .cast("decimal(38,0)")
        .cast("double")
        / F.col("e1").cast("double")
    )
    sbar = (s0 + s1) / F.lit(2.0)
    lr = F.log(
        F.col("p1").cast("double") / F.col("p0").cast("double")
    )
    wq = F.sqrt(
        (F.col("q0").cast("decimal(38,0)") * F.col("q1"))
        .cast("decimal(38,0)")
        .cast("double")
    )
    terms = jj.select(
        F.round(sbar * lr, 12).cast(dq12).alias("tt"),
        F.round(F.col("p1").cast("double") * wq, 6).cast(dq6).alias("wn"),
        F.round(F.col("p0").cast("double") * wq, 6).cast(dq6).alias("wd"),
    )
    agg = terms.agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("tt").cast(dq12).alias("st"),
        F.sum("wn").cast(dq6).alias("swn"),
        F.sum("wd").cast(dq6).alias("swd"),
    )
    return agg.select(
        "n_items",
        F.exp(F.col("st").cast("double")).alias("tornqvist"),
        (
            F.col("swn").cast("double") / F.col("swd").cast("double")
        ).alias("walsh"),
    )


def abc_xyz_analysis(
    df: DataFrame,
    item_col: str,
    period_col,
    revenue_col,
    qty_col,
    a_pct: int = 80,
    b_pct: int = 95,
) -> DataFrame:
    """ABC/XYZ inventory segmentation — the planner's 3x3 grid:
    ABC ranks items by revenue share (cumulative share <= a_pct% = A,
    <= b_pct% = B, else C, ranked revenue DESC with item-id
    tie-break); XYZ classifies demand stability by the coefficient of
    variation of per-period quantity over the item's OBSERVED periods
    (population cv: X if cv <= 0.5, Y if cv <= 1.0, else Z).

    Determinism: every boundary is an EXACT INTEGER inequality —
    cumulative-share cuts compare 100*cumrev <= pct*total (n-scaled,
    no float shares), and the cv cuts use cv^2 = (n*Sq2 - S^2)/S^2,
    so cv <= 0.5 <=> 4*(n*Sq2 - S^2) <= S^2 and cv <= 1 <=>
    n*Sq2 <= 2*S^2 (decimal(38,0) products). Items with zero total
    quantity class as Z. No floats exist until the readout shares.

    Scale: one (item, period) aggregate, one item aggregate, one
    ranked window over ITEMS (item-grain, the post-aggregate-window
    contract), one 9-cell groupBy.

    Returns one row per (abc_class, xyz_class): (abc_class,
    xyz_class, n_items, revenue, revenue_share).
    """
    d38 = "decimal(38,0)"
    per = (
        df.select(
            F.col(item_col).alias("item"),
            (
                F.col(period_col)
                if not isinstance(period_col, str)
                else F.col(period_col)
            ).alias("p"),
            (
                F.col(revenue_col)
                if isinstance(revenue_col, str)
                else revenue_col
            ).cast("long").alias("rev"),
            (
                F.col(qty_col) if isinstance(qty_col, str) else qty_col
            ).cast("long").alias("q"),
        )
        .groupBy("item", "p")
        .agg(
            F.sum("rev").cast("long").alias("rev"),
            F.sum("q").cast("long").alias("q"),
        )
    )
    # item-grain; materialized (r12): the revenue total and the ranked
    # window otherwise each re-run the (item, period) aggregate over
    # the full input (profile: two ~1.2s twin jobs per query).
    items = per.groupBy("item").agg(
        F.sum("rev").cast("long").alias("rev"),
        F.count("*").cast("long").alias("n_p"),
        F.sum("q").cast("long").alias("sq"),
        F.sum((F.col("q").cast(d38) * F.col("q")).cast(d38))
        .cast(d38)
        .alias("sq2"),
    ).transform(materialize)
    tot = items.agg(F.sum("rev").cast("long").alias("rev_tot"))
    w = Window.orderBy(F.col("rev").desc(), F.col("item"))
    ranked = (
        items.withColumn("cumrev", F.sum("rev").over(w))
        .crossJoin(F.broadcast(tot))
    )
    abc = (
        F.when(
            F.lit(100).cast(d38) * F.col("cumrev")
            <= F.lit(int(a_pct)).cast(d38) * F.col("rev_tot"),
            F.lit("A"),
        )
        .when(
            F.lit(100).cast(d38) * F.col("cumrev")
            <= F.lit(int(b_pct)).cast(d38) * F.col("rev_tot"),
            F.lit("B"),
        )
        .otherwise(F.lit("C"))
    )
    nvar = (
        F.col("n_p").cast(d38) * F.col("sq2")
        - F.col("sq").cast(d38) * F.col("sq")
    ).cast(d38)
    s2 = (F.col("sq").cast(d38) * F.col("sq")).cast(d38)
    xyz = (
        F.when(F.col("sq") <= 0, F.lit("Z"))
        .when(F.lit(4).cast(d38) * nvar <= s2, F.lit("X"))
        .when(nvar <= s2, F.lit("Y"))
        .otherwise(F.lit("Z"))
    )
    cls = ranked.select(
        abc.alias("abc_class"), xyz.alias("xyz_class"), "rev", "rev_tot"
    )
    return cls.groupBy("abc_class", "xyz_class").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("rev").cast("long").alias("revenue"),
        F.round(
            F.sum("rev").cast("double") / F.max("rev_tot").cast("double"),
            9,
        ).alias("revenue_share"),
    )


def concentration_panel(
    df: DataFrame,
    firm_col: str,
    revenue_col,
    top_k: int = 4,
) -> DataFrame:
    """Market-concentration panel over firm revenues: the
    Herfindahl-Hirschman index HHI = sum_i s_i^2 (shares of total),
    the CR_k top-k concentration ratio, the single largest share, and
    the "effective number of competitors" 1/HHI — the antitrust /
    category-management quartet.

    Determinism: revenues are exact integers; HHI = (sum rev_i^2) /
    T^2 with the numerator an exact decimal sum and the denominator
    ONE double product of the exact total — a fixed tree, no
    quantization. CR_k ranks firms by (revenue DESC, firm id) — a
    total order — and divides two exact integers.

    Scale: one firm aggregate; the rank window runs at FIRM grain
    (post-aggregate-window contract).

    Returns one row: (n_firms, total_revenue, hhi, cr_top, top1_share,
    effective_firms).
    """
    d38 = "decimal(38,0)"
    rv = (
        F.col(revenue_col) if isinstance(revenue_col, str) else revenue_col
    ).cast("long")
    firms = (
        df.select(F.col(firm_col).alias("f"), rv.alias("rev"))
        .groupBy("f")
        .agg(F.sum("rev").cast("long").alias("rev"))
    )
    w = Window.orderBy(F.col("rev").desc(), F.col("f"))
    ranked = firms.withColumn("rk", F.row_number().over(w))
    agg = ranked.agg(
        F.count("*").cast("long").alias("n_firms"),
        F.sum("rev").cast("long").alias("t"),
        F.sum((F.col("rev").cast(d38) * F.col("rev")).cast(d38))
        .cast(d38)
        .alias("ssq"),
        F.sum(F.when(F.col("rk") <= int(top_k), F.col("rev")))
        .cast("long")
        .alias("topk"),
        F.sum(F.when(F.col("rk") == 1, F.col("rev")))
        .cast("long")
        .alias("top1"),
    )
    td = F.col("t").cast("double")
    hhi = F.col("ssq").cast("double") / (td * td)
    return agg.select(
        "n_firms",
        F.col("t").alias("total_revenue"),
        F.round(hhi, 9).alias("hhi"),
        F.round(F.col("topk").cast("double") / td, 9).alias("cr_top"),
        F.round(F.col("top1").cast("double") / td, 9).alias("top1_share"),
        F.round(F.lit(1.0) / hhi, 6).alias("effective_firms"),
    )
