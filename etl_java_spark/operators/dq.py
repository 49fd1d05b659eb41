"""Declarative data-quality checks (charter §2B; generalizes the
reference's only validation — PK coverage abort, ETLProcess.java:336-342
— into the constraint kinds a warehouse load actually needs).

A check is data, not code: build them with the ``check_*`` helpers and
run the whole suite with ``run_checks``, which returns one row per
check: (check_name, kind, n_violations). Violation ROWS (for
quarantine/repair flows) come from ``violations``.

Scale shape:
- not_null / accepted_range / custom predicate checks collapse into ONE
  conditional aggregation over a single scan — adding checks adds
  columns, not passes;
- unique is a groupBy on the key (one shuffle) counting groups with >1;
- foreign_key is a left-anti join against the (usually broadcastable)
  reference keys.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Literal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.checkpoints import materialize


@dataclass(frozen=True)
class Check:
    name: str
    kind: Literal["not_null", "range", "predicate", "unique", "foreign_key"]
    # predicate-style checks: Column that is True when the row VIOLATES
    violation: Column | None = None
    cols: tuple[str, ...] = ()
    ref: DataFrame | None = None
    ref_col: str | None = None


def check_not_null(col: str, name: str | None = None) -> Check:
    return Check(name or f"{col}_not_null", "not_null", F.col(col).isNull())


def check_accepted_range(col: str, lo, hi, name: str | None = None) -> Check:
    c = F.col(col)
    return Check(
        name or f"{col}_in_range", "range", c.isNotNull() & ~c.between(lo, hi)
    )


def check_predicate(name: str, violated_when: Column) -> Check:
    """Arbitrary row-level constraint; ``violated_when`` is True on bad rows."""
    return Check(name, "predicate", violated_when)


def check_unique(*cols: str, name: str | None = None) -> Check:
    return Check(name or "_".join(cols) + "_unique", "unique", None, tuple(cols))


def check_foreign_key(
    col: str, ref: DataFrame, ref_col: str, name: str | None = None
) -> Check:
    return Check(
        name or f"{col}_fk_{ref_col}", "foreign_key", None, (col,), ref, ref_col
    )


def run_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Evaluate every check; returns (check_name, kind, n_violations).

    All predicate-style checks share one scan; each unique/foreign_key
    check adds its own (shuffled/anti-joined) branch, unioned in."""
    spark = df.sparkSession
    parts: list[DataFrame] = []

    row_checks = [c for c in checks if c.violation is not None]
    if row_checks:
        agg = df.agg(
            *[
                F.sum(F.when(c.violation, 1).otherwise(0)).cast("long").alias(c.name)
                for c in row_checks
            ]
        )
        kinds = {c.name: c.kind for c in row_checks}
        stacked = agg.unpivot([], [c.name for c in row_checks], "check_name", "n_violations")
        kind_col = reduce(
            lambda acc, kv: acc.when(F.col("check_name") == kv[0], kv[1]),
            kinds.items(),
            F.when(F.lit(False), ""),
        ).otherwise("")
        parts.append(
            stacked.select("check_name", kind_col.alias("kind"), "n_violations")
        )

    for c in checks:
        if c.kind == "unique":
            dupes = (
                df.groupBy(*[F.col(x) for x in c.cols])
                .count()
                .filter(F.col("count") > 1)
                .agg(
                    F.coalesce(F.sum(F.col("count") - 1), F.lit(0))
                    .cast("long")
                    .alias("n_violations")
                )
            )
            parts.append(
                dupes.select(
                    F.lit(c.name).alias("check_name"),
                    F.lit("unique").alias("kind"),
                    "n_violations",
                )
            )
        elif c.kind == "foreign_key":
            refk = c.ref.select(F.col(c.ref_col).alias(c.cols[0])).distinct()
            orphans = (
                df.filter(F.col(c.cols[0]).isNotNull())
                .join(F.broadcast(refk), c.cols[0], "left_anti")
                .agg(F.count("*").cast("long").alias("n_violations"))
            )
            parts.append(
                orphans.select(
                    F.lit(c.name).alias("check_name"),
                    F.lit("foreign_key").alias("kind"),
                    "n_violations",
                )
            )

    if not parts:
        return spark.createDataFrame(
            [], "check_name string, kind string, n_violations long"
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def violations(df: DataFrame, check: Check) -> DataFrame:
    """The violating rows themselves (quarantine/repair input)."""
    if check.violation is not None:
        return df.filter(check.violation)
    if check.kind == "unique":
        from pyspark.sql import Window

        w = Window.partitionBy(*[F.col(c) for c in check.cols])
        return (
            df.withColumn("__n", F.count("*").over(w))
            .filter(F.col("__n") > 1)
            .drop("__n")
        )
    if check.kind == "foreign_key":
        refk = check.ref.select(
            F.col(check.ref_col).alias(check.cols[0])
        ).distinct()
        return df.filter(F.col(check.cols[0]).isNotNull()).join(
            F.broadcast(refk), check.cols[0], "left_anti"
        )
    raise ValueError(f"unknown check kind {check.kind}")


def profile_numeric(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-scan numeric profile: per column, row count, null count,
    distinct count, and min/max as doubles — the describe-pass a
    pipeline runs before choosing partition bounds, clustering keys, or
    DQ thresholds.

    Single aggregation over the table (all metrics for all columns in
    one pass), unpivoted to one row per column with ``stack``. The
    multiple COUNT(DISTINCT) resolve through Spark's expand — fine for
    a handful of profiled columns; at very wide profiles switch the
    distinct counts to approx_count_distinct and mark them as such.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count("*").alias(f"__n_{c}"),
            (F.count("*") - F.count(c)).alias(f"__null_{c}"),
            F.countDistinct(c).alias(f"__dist_{c}"),
            F.min(c).cast("double").alias(f"__min_{c}"),
            F.max(c).cast("double").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __n_{c}, __null_{c}, __dist_{c}, __min_{c}, __max_{c}"
        for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n, n_null, n_distinct, min_v, max_v)"
    )


def impute_median(
    df: DataFrame, group_col: str, value_col: str, out_col: str | None = None
) -> DataFrame:
    """Per-group exact-median imputation: NULLs in ``value_col`` are
    replaced by their group's median of the non-null values.

    The per-group median table is one aggregation (exact interpolated
    median — deterministic), broadcast back onto the data: the big side
    never shuffles. This is the DQ-repair counterpart of `run_checks` —
    fail-fast policies quarantine, imputation repairs.
    """
    out_col = out_col or value_col
    med = df.groupBy(group_col).agg(F.median(value_col).alias("__med"))
    return (
        df.join(F.broadcast(med), group_col, "left")
        .withColumn(out_col, F.coalesce(F.col(value_col), F.col("__med")))
        .drop("__med")
    )


def dataset_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    """Order-independent content checksum of a projection: one row of
    (n_rows, checksum) where checksum = SUM over rows of the first 48
    bits of md5(columns joined with a 0x1f separator), summed exactly in
    decimal.

    Because the sum is commutative the checksum is independent of
    partitioning and row order — two datasets with equal checksums and
    counts are content-equal up to md5 collisions. This is the integrity
    primitive for export manifests and copy verification at 100 TB: one
    map-side hash + one scalar aggregation, no sort, no shuffle of data
    rows. Callers pass explicitly string-cast columns when cross-engine
    string formatting matters (floats/timestamps format differently
    across engines; ints and strings are safe).
    """
    payload = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])
    h = F.conv(F.substring(F.md5(payload), 1, 12), 16, 10).cast("decimal(38,0)")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h).cast("string").alias("checksum"),
    )


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    nbins: int,
    tiebreak_cols: list[str],
    bucket: Column,
) -> DataFrame:
    """Exact equi-depth (equal-frequency) histogram of ``value_col`` —
    the profiling twin of the equi-width histogram (q127): bin edges
    adapt to the distribution, so every bin holds the same row count
    (+/-1), which is what optimizers, quantile monitors, and drift
    detectors actually want on skewed data.

    Bin assignment is NTILE(nbins) over (value, tiebreaks), computed
    scalably: global ranks come from transforms.assign_global_ids
    (bucketed two-phase numbering — no single-partition window over the
    data; ``bucket`` must be order-consistent with ``value_col``, e.g.
    ``F.floor(F.col(v) / width)``), and the rank -> bin map is SQL
    NTILE's exact arithmetic (first n % k bins get one extra row), so
    any engine's NTILE reproduces the bins bitwise.

    Returns one row per bin: (bin, n_rows, lo, hi), ordered by ``bin``.
    """
    from .transforms import assign_global_ids

    ids = assign_global_ids(
        df.select(value_col, *tiebreak_cols),
        [value_col, *tiebreak_cols],
        bucket,
        id_col="__rank",
    )
    total = ids.agg(F.count("*").alias("__total"))
    # NTILE arithmetic in pure integer ops (DIV, %) — no doubles, so the
    # bin id is exact at any row count. First n % k bins get one extra row.
    k = int(nbins)
    bin_expr = F.expr(
        f"""CAST(CASE
              WHEN (__rank - 1) < (__total % {k}) * ((__total DIV {k}) + 1)
              THEN (__rank - 1) DIV ((__total DIV {k}) + 1)
              ELSE (__total % {k})
                   + ((__rank - 1) - (__total % {k}) * ((__total DIV {k}) + 1))
                     DIV GREATEST(__total DIV {k}, 1)
            END + 1 AS INT)"""
    )
    return (
        ids.join(F.broadcast(total))
        .withColumn("bin", bin_expr)
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_rows"),
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
        )
        .orderBy("bin")
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 3,
    cents_scale: int = 100,
) -> DataFrame:
    """Median/MAD robust outlier detection per group — the
    heavy-tail-safe alternative to z-scores (q128): a single far point
    moves a mean and inflates a stddev, but not a median or a MAD.

    Flags rows where |x - median| > k * MAD (MAD = median of absolute
    deviations). All arithmetic runs in integer "cents"
    (``value * cents_scale`` as long), so both medians are either an
    integer or a .5 midpoint — exactly representable — and the flag
    threshold compares in exact integers scaled by 2 (|2(x-med)| vs
    2k*MAD), never in floats: any engine reproduces the flags bitwise.

    Plan: two grouped exact-median aggregations (medians broadcast
    back), one map-only flag pass — the value table shuffles once.
    Returns (group, n_rows, median_cents2, mad_cents2, n_outliers)
    where *_cents2 are doubled-cents integers (exact).
    """
    flagged = mad_flag(df, group_col, value_col, k=k, cents_scale=cents_scale)
    return (
        flagged.groupBy(group_col, "med2", "mad4")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("is_outlier").cast("int")).alias("n_outliers"),
        )
        .select(group_col, "n_rows", "med2", "mad4", "n_outliers")
    )


def drift_chisq(
    before: DataFrame,
    after: DataFrame,
    bin_expr: Column,
) -> DataFrame:
    """Distribution-drift report between two dataset snapshots: bin both
    sides with the SAME ``bin_expr`` (integer bin id), scale the before
    counts to the after total, and report each bin's Pearson chi-square
    contribution (after - expected)^2 / expected — the standard
    monitoring statistic for "did this batch's distribution move?",
    log-free so every arithmetic step is engine-exact.

    Two grouped counts (map-side combinable, #bins result rows) + a
    broadcast-sized join — the raw tables shuffle nothing but their bin
    counts. Bins present on only one side surface with a NULL partner
    count (fail-fast signal for brand-new mass) rather than a silent
    drop. Returns (bin, n_before, n_after, expected_after, chisq).
    """
    nb = before.select(bin_expr.alias("bin")).groupBy("bin").agg(
        F.count("*").alias("n_before")
    )
    na = after.select(bin_expr.alias("bin")).groupBy("bin").agg(
        F.count("*").alias("n_after")
    )
    tb = nb.agg(F.sum("n_before").alias("__tb"))
    ta = na.agg(F.sum("n_after").alias("__ta"))
    j = (
        nb.join(na, "bin", "full_outer")
        .crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(ta))
    )
    expected = (
        F.col("n_before").cast("double")
        * F.col("__ta").cast("double")
        / F.col("__tb").cast("double")
    )
    chisq = (
        (F.col("n_after").cast("double") - expected)
        * (F.col("n_after").cast("double") - expected)
        / expected
    )
    return j.select(
        "bin",
        "n_before",
        "n_after",
        expected.alias("expected_after"),
        chisq.alias("chisq"),
    )


def ks_statistic(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    bucket: Column,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic — the binning-free drift
    test (complement of drift_chisq: no bin-width choice, sensitive to
    any CDF shift): D = max over x of |F_a(x) - F_b(x)|.

    Computed exactly and scalably: collapse both samples to distinct
    values with per-sample counts (one shuffle), then build the two
    cumulative counts with the same bucketed two-phase prefix-sum as
    transforms.assign_global_ids — per-bucket subtotals (metadata-
    sized), cumulative offsets over buckets, partition-local running
    sums — never a single-partition window over the data. ``bucket``
    must be order-consistent with ``value_col``.

    D is maximized in EXACT integers: D = max|i*n_b - j*n_a| / (n_a*n_b),
    one double division at the end — bit-identical on any engine.
    Returns one row: (n_a, n_b, d_num, ks). Values must be non-null
    (a NULL has no place in a CDF; filter first) and BOTH samples
    non-empty (an empty side makes ks 0/0 -> NULL, the correct
    "undefined" answer but probably not what the caller wants).
    """
    va = a.select(F.col(value_col).alias("v")).withColumn("__s", F.lit(0))
    vb = b.select(F.col(value_col).alias("v")).withColumn("__s", F.lit(1))
    vals = (
        va.unionByName(vb)
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("__s") == 0, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("__s") == 1, 1).otherwise(0)).alias("cb"),
        )
        .withColumn("__bucket", bucket.cast("long"))
    )
    per_bucket = vals.groupBy("__bucket").agg(
        F.sum("ca").alias("ba"), F.sum("cb").alias("bb")
    )
    wb = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "__bucket",
        F.coalesce(F.sum("ba").over(wb), F.lit(0)).alias("oa"),
        F.coalesce(F.sum("bb").over(wb), F.lit(0)).alias("ob"),
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        vals.join(F.broadcast(offsets), "__bucket")
        .withColumn("i", F.sum("ca").over(w) + F.col("oa"))
        .withColumn("j", F.sum("cb").over(w) + F.col("ob"))
    )
    na = va.agg(F.count("*").alias("n_a"))
    nb = vb.agg(F.count("*").alias("n_b"))
    return (
        cum.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max(F.abs(F.col("i") * F.col("n_b") - F.col("j") * F.col("n_a")))
            .alias("d_num"),
        )
        .select(
            "n_a",
            "n_b",
            "d_num",
            (
                F.col("d_num").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("ks"),
        )
    )


def mad_flag(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 3,
    cents_scale: int = 100,
) -> DataFrame:
    """Row-level sibling of :func:`mad_outliers`: returns the input rows
    (all columns preserved) plus (med2, mad4, is_outlier) in the same
    exact doubled/quadrupled integer units — the quarantine/alerting
    form (which rows ARE the anomalies), where mad_outliers is the
    summary form. Same plan shape: two grouped exact medians broadcast
    back, one map-only flag pass."""
    cents = F.round(F.col(value_col) * cents_scale).cast("long")
    src = df.withColumn("__c", cents)
    # exact median in doubled units: 2*median of ints is always an int
    med = src.groupBy(group_col).agg(
        (F.median("__c") * 2).cast("long").alias("med2")
    )
    j = src.join(F.broadcast(med), group_col)
    absdev2 = F.abs(F.col("__c") * 2 - F.col("med2"))  # |2(x - med)| exact
    mad = (
        j.withColumn("__d2", absdev2)
        .groupBy(group_col)
        .agg((F.median("__d2") * 2).cast("long").alias("mad4"))
    )
    # outlier iff |x - med| > k * MAD, compared in exact quadrupled
    # units: 2*|2(x-med)| > k * mad4
    return (
        j.join(F.broadcast(mad), group_col)
        .withColumn("is_outlier", (absdev2 * 2 > F.lit(int(k)) * F.col("mad4")))
        .drop("__c")
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a set of quasi-identifier columns — the
    privacy gate a dataset release runs before publishing: a row is
    at risk when its quasi-identifier combination is shared by fewer
    than ``k`` rows (the combination singles people out).

    One grouped count on the quasi-identifier tuple (map-side
    combinable) + one aggregate over the group sizes. Returns one row:
    (n_rows, n_groups, n_violating_groups, n_rows_at_risk, k_anonymous)
    — ``k_anonymous`` is TRUE iff every group has >= k members.
    """
    groups = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count("*").alias("__n")
    )
    return groups.agg(
        F.sum("__n").alias("n_rows"),
        F.count("*").alias("n_groups"),
        F.sum((F.col("__n") < k).cast("int")).alias("n_violating_groups"),
        F.sum(F.when(F.col("__n") < k, F.col("__n")).otherwise(0)).alias(
            "n_rows_at_risk"
        ),
        (F.min("__n") >= k).alias("k_anonymous"),
    )


def suppress_small_groups(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """The repair for a failed k-anonymity audit: drop every row whose
    quasi-identifier group has fewer than ``k`` members (record
    suppression — the blunt, always-sound fix; generalization ladders
    are schema-specific and out of scope). Group sizes come from one
    window over the quasi tuple, reusing the same shuffle the audit
    needs."""
    w = Window.partitionBy(*[F.col(c) for c in quasi_cols])
    return (
        df.withColumn("__n", F.count("*").over(w))
        .filter(F.col("__n") >= k)
        .drop("__n")
    )


def profile_strings(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-scan string-column profile: per column, row count, null
    count, distinct count, min/max LENGTH, and blank count — the
    text-side twin of profile_numeric (same single-aggregation +
    stack-unpivot shape)."""
    aggs = []
    for c in cols:
        aggs += [
            F.count("*").alias(f"__n_{c}"),
            (F.count("*") - F.count(c)).alias(f"__null_{c}"),
            F.countDistinct(c).alias(f"__dist_{c}"),
            F.min(F.length(c)).cast("long").alias(f"__minl_{c}"),
            F.max(F.length(c)).cast("long").alias(f"__maxl_{c}"),
            F.sum((F.trim(F.col(c)) == "").cast("int")).alias(f"__blank_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __n_{c}, __null_{c}, __dist_{c}, __minl_{c}, __maxl_{c}, __blank_{c}"
        for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n, n_null, n_distinct, min_len, max_len, n_blank)"
    )


def discover_keys(df: DataFrame, cols: list[str]) -> DataFrame:
    """Candidate-key discovery profile: per column, row count, distinct
    count, null count, and an is_candidate_key flag (distinct == rows,
    zero nulls). Schema archaeology for undocumented tables — the step
    before declaring the dq.check_unique / check_foreign_key contracts.

    One aggregation pass over the table (all count-distincts in one
    agg; Spark expands multi-distinct aggregates into a single
    partial-agg expand, not one scan per column) + a stack unpivot.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count("*").alias(f"__n_{c}"),
            F.countDistinct(c).alias(f"__dist_{c}"),
            (F.count("*") - F.count(c)).alias(f"__null_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', __n_{c}, __dist_{c}, __null_{c}" for c in cols)
    prof = one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col_name, n_rows, n_distinct, n_null)"
    )
    return prof.withColumn(
        "is_candidate_key",
        (F.col("n_distinct") == F.col("n_rows")) & (F.col("n_null") == 0),
    )


def fk_containment(
    child: DataFrame, child_col: str, parent: DataFrame, parent_col: str
) -> DataFrame:
    """Foreign-key containment measurement: what fraction of the child
    column's DISTINCT non-null values exist in the parent column?
    1.0 = a clean FK candidate; below 1.0 quantifies orphan keys.

    Distinct-reduce both sides first (map-side combinable), then a
    left join on the key — when the parent key set is dimension-sized
    it broadcasts; two fact-sized key sets fall back to one shuffle
    each on the join key. The division is one double op over exact
    counts.
    """
    ckeys = child.select(F.col(child_col).alias("__k")).filter(
        F.col("__k").isNotNull()
    ).distinct()
    pkeys = parent.select(F.col(parent_col).alias("__k")).distinct()
    flags = ckeys.join(
        pkeys.withColumn("__hit", F.lit(1)), "__k", "left"
    )
    return flags.agg(
        F.count("*").alias("n_child_distinct"),
        F.sum(F.coalesce("__hit", F.lit(0))).cast("bigint").alias("n_matched"),
        (
            F.sum(F.coalesce("__hit", F.lit(0))).cast("double")
            / F.count("*").cast("double")
        ).alias("containment"),
    )


#: First-significant-digit expected shares log10(1+1/d), d=1..9, as
#: fixed 15-decimal literals (public constants) — hardcoded rather than
#: computed so the operator and any replaying engine agree bitwise
#: without trusting two libm log10 implementations to round alike.
BENFORD_SHARES = {
    1: "0.301029995663981",
    2: "0.176091259055681",
    3: "0.124938736608300",
    4: "0.096910013008056",
    5: "0.079181246047625",
    6: "0.066946789630613",
    7: "0.057991946977687",
    8: "0.051152522447381",
    9: "0.045757490560675",
}


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic fabricated/synthetic-numbers screen for a money-like column
    (amounts spanning several orders of magnitude should follow it;
    uniform or hand-entered data won't). Values <= 0 are excluded (no
    first significant digit).

    Returns one row per digit 1..9: (digit, n, obs_share, exp_share,
    chi_term) where chi_term = (obs_share - exp_share)^2 / exp_share —
    sum it for the chi-square-style divergence statistic, or read the
    per-digit rows directly to see WHICH digits deviate.

    The first digit is read from the INTEGER part (floor) — values in
    (0, 1) are excluded along with <= 0, so callers with sub-unit data
    must pre-scale (e.g. dollars -> cents), exactly like
    ``sketch.digit_histogram``. floor is used instead of a rounding
    decimal cast because engines disagree on .5 rounding modes.

    Determinism: obs_share is one double division of exact longs;
    exp_share is a fixed decimal literal (see BENFORD_SHARES);
    chi_term is a fixed-order double expression of the two. Scale: one
    9-cell grouped count (map-side combinable) — same 100 TB shape as
    digit_histogram; everything after the count is arithmetic on 9 rows.
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    digit = F.substring(F.floor(v).cast("long").cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(v >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("tot"))
    exp_share = F.element_at(
        F.array(*[F.lit(BENFORD_SHARES[d]).cast("decimal(18,15)") for d in range(1, 10)]),
        F.col("digit"),
    ).cast("double")
    obs = F.col("n").cast("double") / F.col("tot").cast("double")
    chi = (obs - exp_share) * (obs - exp_share) / exp_share
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(obs, 12).alias("obs_share"),
            exp_share.alias("exp_share"),
            F.round(chi, 12).alias("chi_term"),
        )
        .orderBy("digit")
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """l-diversity audit — the follow-up k-anonymity misses: a group
    can be large (k-anonymous) yet still leak the sensitive attribute
    if every member shares the same value (homogeneity attack). A
    quasi-identifier group is l-diverse when it contains >= l DISTINCT
    sensitive values.

    Per-group table, one row per quasi combination: group size,
    distinct sensitive count, the group's dominant sensitive value and
    its share (the homogeneity witness), and the violation flag. Two
    map-side-combinable aggregations over the (quasi, sensitive) tuple
    — the same shuffle key both times, so Catalyst reuses one exchange;
    nothing row-quadratic.
    """
    qs = [F.col(c) for c in quasi_cols]
    per_val = df.groupBy(*qs, F.col(sensitive_col).alias("__sv")).agg(
        F.count("*").alias("__nv")
    )
    w = Window.partitionBy(*[c for c in quasi_cols]).orderBy(
        F.col("__nv").desc(), F.col("__sv").asc()
    )
    ranked = per_val.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.groupBy(*[c for c in quasi_cols])
        .agg(
            F.sum("__nv").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_distinct_sensitive"),
            F.max(F.when(F.col("__rn") == 1, F.col("__sv"))).alias("top_value"),
            F.max(F.when(F.col("__rn") == 1, F.col("__nv"))).cast("long").alias(
                "top_count"
            ),
        )
        .select(
            *quasi_cols,
            "n_rows",
            "n_distinct_sensitive",
            "top_value",
            F.round(
                F.col("top_count").cast("double") / F.col("n_rows").cast("double"),
                12,
            ).alias("top_share"),
            (F.col("n_distinct_sensitive") < l).alias("violates_l"),
        )
    )


def weighted_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    ps: list[float],
) -> DataFrame:
    """Exact weighted percentiles per group: the smallest value whose
    cumulative weight reaches p of the group's total weight — the
    "token-weighted" quantile a corpus report needs (an unweighted doc
    median answers "the median DOCUMENT"; the token-weighted median
    answers "the median TOKEN lives in how long a document?", a very
    different number under skew).

    Exactness without floats: each p is taken to 4 decimal digits and
    the defining inequality is evaluated in integers —
    ``cum_weight * 10000 >= p_ten_thousandths * total_weight`` — so
    there is no float threshold to disagree on. Rows reduce to
    per-distinct-value weight sums first (map-side combinable); the
    cumulative window runs over distinct values per group.

    Returns per group: (group..., total_weight, p_<label> for each p),
    values reported as the original (long) value type.
    """
    labels = []
    for p in ps:
        pi = int(round(p * 10000))
        if not 0 < pi <= 10000:
            raise ValueError(f"p out of (0, 1]: {p}")
        labels.append((pi, f"p{pi // 100 if pi % 100 == 0 else pi}"))
    per = df.groupBy(
        *[F.col(c) for c in group_cols], F.col(value_col).alias("__v")
    ).agg(F.sum(F.col(weight_col).cast("long")).alias("__w"))
    wc = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*[F.col(c) for c in group_cols]).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        *group_cols,
        "__v",
        F.sum("__w").over(wc).alias("__cw"),
        F.sum("__w").over(wall).alias("__tw"),
    )
    aggs = [F.max("__tw").alias("total_weight")]
    for pi, lab in labels:
        aggs.append(
            F.min(
                F.when(
                    F.col("__cw") * 10000 >= F.lit(pi) * F.col("__tw"),
                    F.col("__v"),
                )
            ).alias(lab)
        )
    return cum.groupBy(*[F.col(c) for c in group_cols]).agg(*aggs)


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """t-closeness audit over an ORDINAL sensitive attribute — the third
    rung of the release ladder (k-anonymity: groups are big;
    l-diversity: groups are varied; t-closeness: each group's sensitive
    DISTRIBUTION stays within distance t of the global one, closing the
    skewness attack l-diversity misses).

    Distance is the standard ordered-EMD:
    EMD = sum_j |cum_j(p - q)| / (m - 1). The engine computes it with
    ZERO float accumulation: the per-category deviation rationalizes to
    (c_gj * n - c_j * n_g) / (n_g * n), so the cumulative and its
    absolute sum are exact INTEGERS and only the final normalization
    divides — no float-ordering hazard, no window-sum-of-doubles
    (engines disagree on windowed double summation order; integers
    commute).

    Shapes: categories are an m-row broadcast; the group x category
    grid is n_groups * m rows (categorical-bounded). Returns per
    group: (quasi..., n_rows, emd, violates_t).
    """
    qs = [F.col(c) for c in quasi_cols]
    sv = F.col(sensitive_col)
    # ONE raw-data aggregation; every margin (categories, global counts,
    # total, group sizes) reduces from the categorical-bounded cell table
    cells = df.groupBy(*qs, sv.alias("__sv")).agg(F.count("*").alias("__cgj"))
    catg = (
        cells.groupBy("__sv")
        .agg(F.sum("__cgj").alias("__cj"))
        .select(
            "__sv",
            "__cj",
            F.row_number().over(Window.orderBy("__sv")).alias("__j"),
        )
    )
    n_tot = cells.agg(F.sum("__cgj").alias("__n"))
    groups = cells.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.sum("__cgj").alias("__ng")
    )
    grid = (
        groups.crossJoin(F.broadcast(catg))
        .join(cells, [*quasi_cols, "__sv"], "left")
        .crossJoin(F.broadcast(n_tot))
        .select(
            *quasi_cols,
            "__j",
            "__ng",
            "__n",
            (
                F.coalesce(F.col("__cgj"), F.lit(0)) * F.col("__n")
                - F.col("__cj") * F.col("__ng")
            ).alias("__num"),
        )
    )
    wcum = (
        Window.partitionBy(*[F.col(c) for c in quasi_cols])
        .orderBy("__j")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        *quasi_cols,
        "__ng",
        "__n",
        "__j",
        F.sum("__num").over(wcum).alias("__cum"),
    )
    m = cum.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.max("__ng").alias("n_rows"),
        F.max("__n").alias("__nn"),
        F.max("__j").alias("__m"),
        F.sum(F.abs(F.col("__cum"))).alias("__s"),
    )
    emd = F.col("__s").cast("double") / (
        (F.col("__m") - 1).cast("double")
        * F.col("n_rows").cast("double")
        * F.col("__nn").cast("double")
    )
    return m.select(
        *quasi_cols,
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(emd, 12).alias("emd"),
        (emd > F.lit(t)).alias("violates_t"),
    )


def embedding_health(
    df: DataFrame,
    vec_col: str,
    expected_dim: int | None = None,
) -> DataFrame:
    """Embedding-column QA gate: the one-row health report a vector
    corpus needs BEFORE any ANN/dedup/clustering run trusts it —
    null vectors, dimension drift, all-zero rows (cosine is undefined),
    non-finite values (NaN/Inf poison every distance), and the L2-norm
    envelope (a collapsed or exploding norm distribution is the
    classic sign of a bad encoder batch).

    All counts are exact integers from ONE conditional aggregate over a
    single scan. Per-row norms fold the squares in array index order
    (double), are rounded to 6 decimals, and aggregate as exact
    decimals — min/max/avg are engine-bitwise (the q285 fold + round
    discipline). ``dim_ok`` is NULL when no ``expected_dim`` is given.

    Scale: map-only + one global aggregate; nothing shuffles but the
    final combine.
    """
    v = F.col(vec_col)
    dim = F.size(v)
    sq = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norm = F.round(F.sqrt(sq), 6).cast("decimal(18,6)")
    is_null = v.isNull()
    nonfinite = F.exists(
        v, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    zero = F.forall(v, lambda x: x == 0)
    rows = df.select(
        is_null.alias("__nul"),
        F.when(~is_null, dim).alias("__dim"),
        F.when(~is_null, nonfinite).alias("__bad"),
        F.when(~is_null & ~nonfinite, zero).alias("__zero"),
        F.when(~is_null & ~nonfinite, norm).alias("__norm"),
    )
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    out = rows.agg(
        F.count("*").cast("long").alias("n_vecs"),
        one_if(F.col("__nul")).alias("n_null_vec"),
        F.countDistinct("__dim").cast("long").alias("n_dims_distinct"),
        F.min("__dim").cast("long").alias("min_dim"),
        F.max("__dim").cast("long").alias("max_dim"),
        one_if(F.col("__bad")).alias("n_nonfinite_vec"),
        one_if(F.col("__zero")).alias("n_zero_vec"),
        F.min("__norm").cast("double").alias("norm_min"),
        F.max("__norm").cast("double").alias("norm_max"),
        (
            F.sum("__norm").cast("double")
            / F.sum(F.when(F.col("__norm").isNotNull(), 1).otherwise(0)).cast(
                "double"
            )
        ).alias("norm_avg"),
    )
    if expected_dim is not None:
        out = out.withColumn(
            "dim_ok",
            (F.col("n_dims_distinct") == 1)
            & (F.col("min_dim") == F.lit(expected_dim)),
        )
    else:
        out = out.withColumn("dim_ok", F.lit(None).cast("boolean"))
    return out


def pit_drift(
    df: DataFrame,
    value_col: str,
    cohort_col,
    ref_cohort,
    cur_cohort,
    bucket: Column,
    bins: int = 10,
) -> DataFrame:
    """Probability-integral-transform drift check: push the CURRENT
    cohort's values through the REFERENCE cohort's empirical CDF and
    histogram the resulting percentiles. If the distribution hasn't
    moved, the mapped percentiles are uniform; mass piling into the top
    (bottom) bins means the metric drifted up (down) — strictly more
    informative than a scalar KS statistic (``ks_statistic``) because
    it shows WHERE the distribution moved.

    Exact and engine-bitwise: both cohorts collapse to distinct values
    with per-cohort counts (one shuffle); the reference cumulative
    count is built with the same bucketed two-phase prefix sum as
    ``ks_statistic`` (per-bucket subtotals -> metadata-sized offsets ->
    partition-local running sums — NEVER a single-partition window over
    the data; ``bucket`` must be order-consistent with the value). A
    current value at v maps to the count of reference values <= v
    (ties inclusive); its bin is floor(bins * cum / (n_ref + 1))
    clamped to bins-1 — values below the reference minimum land in
    bin 0.

    Returns one row per non-empty bin: (bin, n, share), share the
    exact double n / n_cur.
    """
    coh = F.col(cohort_col) if isinstance(cohort_col, str) else cohort_col
    base = df.select(F.col(value_col).alias("v"), coh.alias("__c")).filter(
        F.col("v").isNotNull()
    )
    vals = base.groupBy("v").agg(
        F.sum(F.when(F.col("__c") == ref_cohort, 1).otherwise(0))
        .cast("long")
        .alias("cr"),
        F.sum(F.when(F.col("__c") == cur_cohort, 1).otherwise(0))
        .cast("long")
        .alias("cc"),
    ).withColumn("__bucket", bucket.cast("long"))
    per_bucket = vals.groupBy("__bucket").agg(F.sum("cr").alias("br"))
    wb = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "__bucket", F.coalesce(F.sum("br").over(wb), F.lit(0)).alias("orf")
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        vals.join(F.broadcast(offsets), "__bucket")
        .withColumn("__cum", F.sum("cr").over(w) + F.col("orf"))
        .filter(F.col("cc") > 0)
    )
    n_ref = base.filter(F.col("__c") == ref_cohort).agg(
        F.count("*").cast("long").alias("__nr")
    )
    n_cur = base.filter(F.col("__c") == cur_cohort).agg(
        F.count("*").cast("long").alias("__nc")
    )
    # exact integer floor-division: (a - a % b) is divisible by b, so
    # the double division is exact — no float floor ties on any engine
    num = F.lit(bins) * F.col("__cum")
    den = F.col("__nr") + 1
    bin_exact = ((num - num % den) / den).cast("long")
    binned = (
        cum.crossJoin(F.broadcast(n_ref))
        .select(
            F.least(F.lit(bins - 1).cast("long"), bin_exact).alias("bin"),
            "cc",
        )
        .groupBy("bin")
        .agg(F.sum("cc").cast("long").alias("n"))
    )
    return binned.crossJoin(F.broadcast(n_cur)).select(
        F.col("bin").cast("long").alias("bin"),
        "n",
        (F.col("n").cast("double") / F.col("__nc").cast("double")).alias(
            "share"
        ),
    )


def consensus_reconcile(
    sources: list[tuple[str, DataFrame]],
    key_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Multi-source consensus reconciliation: the same table replicated
    from N systems (N >= 2), reconciled per key and column by MAJORITY
    vote — the MDM/replication audit that answers "which copy is
    right, and where do the copies disagree?".

    Per (key, column): the consensus value is the one a strict
    majority of VOTING sources agree on, where a source votes iff it
    has the key AND a non-null value for that column — so a value
    present in 1 of 1 voting sources IS the consensus even when two
    other sources lack the key or carry NULL there. Ties/pluralities
    below the bar -> NULL consensus + conflict; a column with ZERO
    voters for a key -> NULL consensus but NOT a conflict (nobody
    disagreed). Output per key: each column's consensus plus
    ``n_conflicts`` and ``missing_from`` (comma-joined source names
    lacking the key — deterministic name order).

    Mechanics: union the tagged sources (one scan each), ONE shuffle
    on the key, then per-key array folds over the collected
    (source, values) structs — counts computed by expression, no
    second shuffle, no UDFs.
    """
    tagged = None
    for name, df in sources:
        t = df.select(
            F.col(key_col),
            F.lit(name).alias("__src"),
            *[F.col(v) for v in value_cols],
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    rows = tagged.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("__src"), *[F.col(v) for v in value_cols])
            )
        ).alias("__rows")
    )

    def votes(v: str):
        """(consensus_expr, has_voters_expr) for column v: majority is
        over the key's VOTING sources (non-null entries), not the
        configured source count — absent sources don't vote."""
        vals = F.transform(F.col("__rows"), lambda r: r[v])
        nonnull = F.filter(vals, lambda y: y.isNotNull())

        def count_of(x):
            return F.size(F.filter(vals, lambda y: y == x))

        winner = F.filter(
            F.array_distinct(nonnull),
            lambda x: count_of(x) * 2 > F.size(nonnull),
        )
        cons = F.element_at(F.concat(winner, F.array(F.lit(None))), 1)
        return cons, F.size(nonnull) > 0

    def consensus(v: str):
        return votes(v)[0]

    present = F.transform(F.col("__rows"), lambda r: r["__src"])
    all_names = F.array(*[F.lit(name) for name, _ in sources])
    missing = F.array_join(
        F.array_sort(F.array_except(all_names, present)), ","
    )
    cons = [consensus(v).alias(f"{v}_consensus") for v in value_cols]
    conflicts = None
    for v in value_cols:
        w, has_voters = votes(v)
        # conflict = voters exist but none reached a majority; a
        # zero-voter column is merely missing, not disputed
        c = (w.isNull() & has_voters).cast("int")
        conflicts = c if conflicts is None else conflicts + c
    return rows.select(
        key_col,
        *cons,
        conflicts.cast("long").alias("n_conflicts"),
        missing.alias("missing_from"),
    )


def quantile_map(
    df: DataFrame,
    value_col: str,
    cohort_col,
    ref_cohort,
    cur_cohort,
) -> DataFrame:
    """Quantile normalization: map every CURRENT-cohort value onto the
    REFERENCE cohort's distribution by rank — the score-alignment
    transform that makes two graders/encoders/vintages comparable
    ("your 0.83 is their 0.77"). Exact order-statistic arithmetic, no
    interpolation:

        for a current value v with CDF count cb (current values <= v),
        k = ceil(cb * n_ref / n_cur), mapped(v) = the k-th smallest
        reference value.

    Both CDFs collapse to distinct values + cumulative counts first
    (integer, engine-exact); the k -> order-statistic lookup is a band
    join against the reference's (cum_prev, cum] ranges. The lookup
    table is DISTINCT-VALUE-sized — a CDF is metadata relative to the
    data — so it broadcasts; quantize values upstream if a continuous
    column's cardinality threatens that.

    Returns one row per distinct current value: (value, n, mapped).
    """
    coh = F.col(cohort_col) if isinstance(cohort_col, str) else cohort_col
    base = df.select(F.col(value_col).alias("v"), coh.alias("__c")).filter(
        F.col("v").isNotNull()
    )

    def cdf(cohort):
        vals = (
            base.filter(F.col("__c") == cohort)
            .groupBy("v")
            .agg(F.count("*").cast("long").alias("n"))
        )
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        return vals.withColumn("cum", F.sum("n").over(w))

    ref = cdf(ref_cohort).select(
        F.col("v").alias("ref_v"),
        (F.col("cum") - F.col("n")).alias("lo"),
        F.col("cum").alias("hi"),
    )
    cur = cdf(cur_cohort)
    n_ref = base.filter(F.col("__c") == ref_cohort).agg(
        F.count("*").cast("long").alias("__nr")
    )
    n_cur = base.filter(F.col("__c") == cur_cohort).agg(
        F.count("*").cast("long").alias("__nc")
    )
    with_k = cur.crossJoin(F.broadcast(n_ref)).crossJoin(
        F.broadcast(n_cur)
    ).withColumn(
        "__k",
        # ceil(cum * nr / nc) via the exact mod trick
        (
            (
                F.col("cum") * F.col("__nr")
                + F.col("__nc")
                - 1
                - (F.col("cum") * F.col("__nr") + F.col("__nc") - 1)
                % F.col("__nc")
            )
            / F.col("__nc")
        ).cast("long"),
    )
    return (
        with_k.join(
            F.broadcast(ref),
            (F.col("__k") > F.col("lo")) & (F.col("__k") <= F.col("hi")),
        )
        .select(
            F.col("v").alias("value"),
            F.col("n"),
            F.col("ref_v").alias("mapped"),
        )
    )


def embedding_dim_stats(
    df: DataFrame,
    vec_col: str,
    z_threshold: float = 4.0,
) -> DataFrame:
    """Per-DIMENSION embedding statistics — the feature-wise companion
    of ``embedding_health`` (which audits whole vectors): each
    dimension's mean, standard deviation, and extreme-z-score count.
    A dimension whose std collapses toward zero is dead weight; one
    spraying |z| > 4 outliers is an encoder defect or data poisoning.

    Exactness: dimensions explode to (pos, x) rows; values round to 6
    decimals and aggregate as exact decimals (the q285/q289
    discipline), squares to 12; mean/std derive in fixed double
    expressions. The outlier pass re-scans with the per-dim stats
    broadcast back — two scans total, no window.

    Returns one row per dimension: (pos, n, mean, std, n_outliers).
    """
    flat = df.select(
        F.posexplode(F.col(vec_col)).alias("pos", "x")
    ).select("pos", F.col("x").cast("double").alias("x"))
    stats = flat.groupBy("pos").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.round(F.col("x"), 6).cast("decimal(28,6)")).alias("__s"),
        F.sum(
            F.round(F.col("x") * F.col("x"), 12).cast("decimal(38,12)")
        ).alias("__ss"),
    )
    mean = F.col("__s").cast("double") / F.col("n").cast("double")
    var = F.col("__ss").cast("double") / F.col("n").cast("double") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    with_stats = stats.select(
        "pos", "n", mean.alias("mean"), std.alias("std")
    )
    outliers = (
        flat.join(F.broadcast(with_stats), on="pos")
        .filter(
            (F.col("std") > 0)
            & (F.abs(F.col("x") - F.col("mean")) > z_threshold * F.col("std"))
        )
        .groupBy("pos")
        .agg(F.count("*").cast("long").alias("n_outliers"))
    )
    return (
        with_stats.join(outliers, on="pos", how="left")
        .select(
            F.col("pos").cast("long").alias("pos"),
            "n",
            F.round("mean", 12).alias("mean"),
            F.round("std", 12).alias("std"),
            F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"),
        )
    )


def functional_dependency_audit(
    df: DataFrame,
    fds: list[tuple[list[str], str]],
) -> DataFrame:
    """Approximate functional-dependency audit: for each candidate
    FD ``lhs -> rhs``, the violation count is the minimum number of
    rows you would have to delete to make the dependency hold exactly
    (per LHS group: rows outside the group's plurality RHS value — the
    g3 measure of Kivinen/Mannila). The profiler behind "is this
    column DERIVED from those?" — sub-1% rates flag denormalized copies
    and stale backfills; the violating rows are the repair queue.

    Per FD: one (lhs, rhs) count aggregate (map-side combinable), one
    max-per-lhs reduce — both metadata-bounded by domain cardinality,
    never row-bounded. NULL handling: NULL rhs values form their own
    value class (a NULL copy of a non-null source IS a violation);
    NULL lhs keys group together like any other key.

    Returns one row per FD: (fd, n_groups, n_rows, n_violations,
    violation_rate).
    """
    out = None
    for lhs, rhs in fds:
        name = ",".join(lhs) + "->" + rhs
        pair = df.groupBy(
            *[F.col(c) for c in lhs], F.col(rhs).alias("__rhs")
        ).agg(F.count("*").alias("__n"))
        per_lhs = pair.groupBy(*[F.col(c) for c in lhs]).agg(
            F.sum("__n").alias("__tot"), F.max("__n").alias("__keep")
        )
        row = per_lhs.agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum("__tot").cast("long").alias("n_rows"),
            (F.sum("__tot") - F.sum("__keep")).cast("long").alias("n_violations"),
        ).select(
            F.lit(name).alias("fd"),
            "n_groups",
            "n_rows",
            "n_violations",
            F.round(
                F.col("n_violations").cast("double") / F.col("n_rows").cast("double"),
                12,
            ).alias("violation_rate"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def dp_noisy_counts(
    df: DataFrame,
    group_col: str,
    group_key_col: str,
    epsilon: float = 1.0,
    salt: int = 0,
) -> DataFrame:
    """Differentially-private group counts via the Laplace mechanism —
    the release-side companion to the audit trio (k-anonymity,
    l-diversity, t-closeness): true counts get Laplace(1/epsilon)
    noise, satisfying epsilon-DP for the COUNT query (sensitivity 1
    per individual-per-group).

    The noise is PSEUDO-random: a uniform is derived from the
    arithmetic key hash of (group key + salt), then inverse-CDF'd —
    so a retried job, a different partitioning, or the SQL oracle all
    reproduce the identical release (auditability beats secrecy here;
    for a hostile-party release swap in a sealed seed — the mechanism
    and calibration are what this operator contracts, and epsilon
    accounting is unchanged).

        u     = (hash(key + salt) % 10^6 + 0.5) / 10^6      in (0, 1)
        noise = -(1/eps) * sign(u - 1/2) * ln(1 - 2|u - 1/2|)

    ln is the one non-correctly-rounded libm op in the engine; callers
    round the released value (the query layer does ROUND 6), which
    absorbs the <= few-ulp cross-engine drift — the q180/PSI precedent.

    ``group_key_col`` must be 1:1 with ``group_col`` (it seeds the
    per-group noise; a many:1 key would split one group's count into
    duplicate rows) — signed keys are fine: the seed is floor-modded
    into the hash's non-negative domain first (a sign-following input
    would push the inverse CDF out of ln's domain and ship NULL
    counts; found by review).

    Returns (group, n_true, n_noisy). Ship only n_noisy downstream;
    n_true is returned for calibration tests and must not leave the
    trust boundary.
    """
    from .sampling import key_bucket

    per = df.groupBy(
        F.col(group_col).alias("grp"),
        F.col(group_key_col).cast("long").alias("__k"),
    ).agg(F.count("*").cast("long").alias("n_true"))
    p = 1_000_000_007
    seed = ((F.col("__k") + F.lit(salt)) % p + p) % p
    u = (
        (key_bucket(seed, 1_000_000).cast("double") + F.lit(0.5))
        / F.lit(1_000_000.0)
    )
    centered = u - F.lit(0.5)
    sign = F.when(centered >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    noise = (
        F.lit(-1.0 / epsilon)
        * sign
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return per.select(
        F.col("grp").alias(group_col),
        "n_true",
        (F.col("n_true").cast("double") + noise).alias("n_noisy"),
    )


def duplicate_transactions(
    df: DataFrame,
    key_cols: list[str],
    amount,
    ts_col: str,
    id_col: str,
    window_days: int = 30,
) -> DataFrame:
    """Duplicate-transaction audit: pairs of records with the SAME
    match key (entity + amount — pass a banded/rounded ``amount``
    expression for near-amount matching) whose timestamps fall within
    ``window_days`` of each other — the finance-controls classic
    behind duplicate-invoice/double-charge detection, where an exact
    PK dedup finds nothing because the ids legitimately differ.

    Sorted-neighborhood in time, expressed as one LAG window per match
    key: each record is paired with its immediate predecessor in
    (ts, id) order within the (key, amount) group — duplicates are
    overwhelmingly time-adjacent, and a chain of k duplicates emits
    its k-1 adjacent pairs (enough to flag the chain; the full
    transitive set is a groupBy away). One shuffle on the match key;
    no self-join, no time-range explosion. Deterministic: total
    (ts, id) order.

    Returns (key_cols..., match_amount, id_a, id_b, ts_a, ts_b,
    gap_days) with id_a the earlier record.
    """
    amt = amount if isinstance(amount, Column) else F.col(amount)
    # NULL keys/amounts are EXCLUDED: PARTITION BY groups NULLs
    # together (both engines), which would pair unrelated NULL-amount
    # rows as false duplicates — the same null-key contract as
    # misra_gries_summary / inferred_dim_members. Coalesce upstream if
    # NULL should mean something.
    nn = amt.isNotNull()
    for c in key_cols:
        nn = nn & F.col(c).isNotNull()
    df = df.filter(nn)
    grp = [F.col(c) for c in key_cols] + [amt.alias("match_amount")]
    # the window runs over the RENAMED projection below
    w = Window.partitionBy(*key_cols, "match_amount").orderBy(
        F.col("ts_b").asc(), F.col("id_b").asc()
    )
    staged = df.select(
        *grp,
        F.col(ts_col).alias("ts_b"),
        F.col(id_col).alias("id_b"),
    ).withColumn("id_a", F.lag("id_b").over(w)).withColumn(
        "ts_a", F.lag("ts_b").over(w)
    )
    return staged.filter(
        F.col("id_a").isNotNull()
        & (F.datediff(F.col("ts_b"), F.col("ts_a")) <= window_days)
    ).select(
        *key_cols, "match_amount", "id_a", "id_b", "ts_a", "ts_b",
        F.datediff(F.col("ts_b"), F.col("ts_a")).cast("long").alias(
            "gap_days"
        ),
    )


def winsorized_stats(
    df: DataFrame,
    group_col,
    value_col,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    scale: int = 100,
) -> DataFrame:
    """Winsorized robust location/scale per group: clamp the metric at
    the group's interpolated [p_lo, p_hi] percentiles, then report
    exact moments of the clamped values — the outlier-resistant mean a
    revenue/latency dashboard should show instead of the raw mean one
    fat-finger order can move, while (unlike trimming) keeping n
    constant.

    Shape: one grouped percentile pass (both engines share the same
    linear-interpolation definition — the q66 contract), a broadcast
    join of the per-group bounds back onto the rows, and one grouped
    exact-integer moment aggregate of the clamped, ``scale``-scaled
    values (clamp bounds are rounded to the same integer grid first, so
    the clamped sum is pure int64-decimal). Returns per group:
    (grp, n, lo_bound, hi_bound, winsorized_mean, winsorized_var),
    mean/var as exact-decimal-derived doubles rounded to 12.
    """
    if not isinstance(value_col, str):
        raise TypeError("winsorized_stats needs a column NAME for value_col")
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    v = F.col(value_col)
    # drop NULL metric rows up front: least/greatest skip NULLs, so an
    # unfiltered NULL would silently clamp to the HIGH bound and count
    # in n — an imputation nobody asked for
    df = df.filter(v.isNotNull())
    # F.percentile (not an F.expr f-string): the column name stays a
    # resolved identifier — backtick-needing names work and the
    # writers' _check_idents discipline isn't bypassed by SQL-string
    # interpolation
    bounds = df.groupBy(g.alias("grp")).agg(
        F.percentile(v, F.lit(p_lo)).alias("lo_bound"),
        F.percentile(v, F.lit(p_hi)).alias("hi_bound"),
    )
    d38 = "decimal(38,0)"
    u = F.round(v * scale).cast("long")
    lo_u = F.round(F.col("lo_bound") * scale).cast("long")
    hi_u = F.round(F.col("hi_bound") * scale).cast("long")
    clamped = (
        df.select(g.alias("grp"), u.alias("__u"))
        .join(F.broadcast(bounds), "grp")
        .select(
            "grp", "lo_bound", "hi_bound",
            F.greatest(lo_u, F.least(hi_u, F.col("__u"))).alias("__w"),
        )
    )
    per = clamped.groupBy("grp", "lo_bound", "hi_bound").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("__w").cast(d38)).alias("s"),
        F.sum((F.col("__w").cast(d38) * F.col("__w")).cast(d38)).alias("ss"),
    )
    n = F.col("n").cast("double")
    sc = float(scale)
    mean = F.col("s").cast("double") / n / F.lit(sc)
    # try_divide: a single-row group has no sample variance — NULL,
    # matching SQL x/0 semantics, not an ANSI raise
    var = (
        F.try_divide(
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / n,
            n - F.lit(1.0),
        )
        / F.lit(sc * sc)
    )
    # UNROUNDED: the caller picks a rounding that fits the metric's
    # magnitude (ROUND(x, 12) on a ~1e5-magnitude mean asks for more
    # significant digits than a double holds, and engines disagree in
    # the last ulp of that no-op rounding — measured on q378)
    return per.select(
        "grp", "n", "lo_bound", "hi_bound",
        mean.alias("winsorized_mean"),
        var.alias("winsorized_var"),
    )


def repair_foreign_keys(
    fact: DataFrame,
    dim: DataFrame,
    fk_col: str,
    pk_col: str,
    sentinel=-1,
) -> DataFrame:
    """Foreign-key orphan repair: fact rows whose ``fk_col`` has no
    match in the dimension are remapped to the ``sentinel`` member (the
    Kimball "unknown member" row) instead of being dropped or left to
    break downstream joins — the load-side REPAIR companion to the
    read-side audit (:func:`referential_audit`) and the late-arriving
    inferred members (:func:`~..sinks.writers.inferred_dim_members`,
    which is the other policy: manufacture the member instead of
    remapping). NULL FKs also map to the sentinel (a NULL key matches
    nothing in any equi-join).

    One broadcast-able left-semi-shaped join against the DISTINCT
    dimension keys (metadata-vs-fact sized), no second fact pass: the
    repair column and the per-row status flag derive from the same
    join. Returns the fact with ``fk_col`` repaired in place plus a
    ``__fk_status`` column ('ok' | 'orphan' | 'null') for the audit
    aggregate the caller runs.
    """
    keys = dim.select(F.col(pk_col).alias("__pk")).distinct()
    j = fact.join(keys, fact[fk_col] == F.col("__pk"), "left")
    status = (
        F.when(fact[fk_col].isNull(), F.lit("null"))
        .when(F.col("__pk").isNull(), F.lit("orphan"))
        .otherwise(F.lit("ok"))
    )
    repaired = F.when(
        F.col("__pk").isNull(), F.lit(sentinel).cast(j.schema[fk_col].dataType)
    ).otherwise(fact[fk_col])
    others = [c for c in fact.columns if c != fk_col]
    return j.select(
        *[fact[c] for c in others],
        repaired.alias(fk_col),
        status.alias("__fk_status"),
    )


def randomized_response_counts(
    df: DataFrame,
    key_col,
    flag_col,
    group_col,
    f_num: int = 250,
    f_den: int = 1000,
    salt: int = 0,
) -> DataFrame:
    """Local-DP randomized response with REPLAYABLE perturbation — the
    collection-side privacy mechanism next to the release-side Laplace
    counts (:func:`dp_noisy_counts`): each unit reports its true binary
    flag with probability 1-f, otherwise a fair coin, and the server
    debiases the aggregate:

        estimate = (reported - n * f/2) / (1 - f)

    Both "randomize?" and the coin come from the arithmetic key hash
    (key_bucket's family) — no RNG state, so retries/engines reproduce
    every report bit-for-bit and the whole mechanism replays in SQL
    (the q365 DP discipline; a production rollout swaps the hash for a
    client-side RNG — the estimator is unchanged). f is the rational
    f_num/f_den so the perturbation decision is an exact integer
    comparison. Returns per group: (grp, n, n_reported, estimate,
    n_true) — n_true included for the calibration readout this
    operator exists to demonstrate; a real deployment never sees it.
    """
    from .sampling import key_draw

    k = (F.col(key_col) if isinstance(key_col, str) else key_col).cast("long")
    y = (F.col(flag_col) if isinstance(flag_col, str) else flag_col).cast("int")
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    # quadratic-mixed draws: raw key_bucket is affine, so the coin would
    # alternate with key parity instead of looking independent
    randomize = key_draw(k * 2 + F.lit(salt), f_den) < f_num
    coin = key_draw(k * 2 + 1 + F.lit(salt), 2)
    reported = F.when(randomize, coin).otherwise(y)
    per = df.select(
        g.alias("grp"), y.alias("__y"), reported.alias("__r")
    ).groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__r").cast("long").alias("n_reported"),
        F.sum("__y").cast("long").alias("n_true"),
    )
    f = float(f_num) / float(f_den)
    est = (
        F.col("n_reported").cast("double")
        - F.col("n").cast("double") * F.lit(f / 2.0)
    ) / F.lit(1.0 - f)
    return per.select("grp", "n", "n_reported", est.alias("estimate"), "n_true")


def skew_kurtosis(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group skewness and excess kurtosis from EXACT integer power
    sums — the distribution-shape profile beside the location/spread
    stats (numeric_profile, winsorized_stats): "is this metric
    right-tailed, and how heavy?" drives binning and outlier-threshold
    choices before any model sees it.

        g1 = m3 / m2^1.5,   g2 = m4 / m2^2 - 3      (population moments)

    Central moments come from the raw power sums via the standard
    identities — S1..S4 accumulate in decimal(38,0) (order-independent,
    overflow-safe: a 6-digit metric's 4th power is ~1e23, and 1e15 rows
    of those still fit 38 digits), and the m2..m4 / g1 / g2 tree is
    fixed doubles. ONE grouped aggregate over the scan; quantize the
    metric upstream (floor/cents) per the exact-moment contract.
    Returns one row per group:
    (grp, n, mean, m2, skewness, kurtosis_excess).
    """
    d38 = "decimal(38,0)"
    v = F.col(value_col).cast(d38)
    per = (
        df.filter(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(v).cast(d38).alias("s1"),
            F.sum((v * v).cast(d38)).cast(d38).alias("s2"),
            F.sum(((v * v).cast(d38) * v).cast(d38)).cast(d38).alias("s3"),
            F.sum(((v * v).cast(d38) * (v * v).cast(d38)).cast(d38))
            .cast(d38)
            .alias("s4"),
        )
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    m2 = F.col("s2").cast("double") / nd - mean * mean
    m3 = (
        F.col("s3").cast("double") / nd
        - F.lit(3.0) * mean * (F.col("s2").cast("double") / nd)
        + F.lit(2.0) * mean * mean * mean
    )
    m4 = (
        F.col("s4").cast("double") / nd
        - F.lit(4.0) * mean * (F.col("s3").cast("double") / nd)
        + F.lit(6.0) * mean * mean * (F.col("s2").cast("double") / nd)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    return per.select(
        "grp", "n",
        mean.alias("mean"),
        m2.alias("m2"),
        F.try_divide(m3, F.sqrt(m2 * m2 * m2)).alias("skewness"),
        (F.try_divide(m4, m2 * m2) - F.lit(3.0)).alias("kurtosis_excess"),
    )


def topk_stability(
    df: DataFrame,
    period_col: str,
    key_col: str,
    k: int = 10,
) -> DataFrame:
    """Top-k membership churn between CONSECUTIVE periods — "is the
    head of this distribution stable month to month?", the
    rank-stability drift monitor (PSI and chi-square see mass move;
    this sees the LEADERBOARD move, which is what breaks cached
    assumptions and hot-key optimizations):

        jaccard = |A n B| / (|A| + |B| - |A n B|)
        overlap = |A n B| / min(|A|, |B|)

    One (period, key) grouped count; per-period top-k by one
    partitioned rank window (count desc, key tiebreak); consecutive
    periods pair via one LEAD over the period table (metadata-sized);
    the membership join touches only 2k rows per pair. Returns one row
    per consecutive pair:
    (period, next_period, n_a, n_b, n_common, jaccard, overlap_coef).
    """
    per = (
        df.filter(F.col(period_col).isNotNull() & F.col(key_col).isNotNull())
        .groupBy(F.col(period_col).alias("p"), F.col(key_col).alias("key"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    wr = Window.partitionBy("p").orderBy(
        F.col("c").desc(), F.col("key").asc()
    )
    tk = (
        per.withColumn("__r", F.row_number().over(wr))
        .filter(F.col("__r") <= k)
        .select("p", "key")
        .transform(materialize)
    )
    periods = (
        tk.select("p")
        .distinct()
        .select(
            "p", F.lead("p").over(Window.orderBy("p")).alias("np")
        )
        .filter(F.col("np").isNotNull())
    )
    sizes = tk.groupBy("p").agg(F.count("*").cast("long").alias("sz"))
    common = (
        periods.join(tk.select(F.col("p"), F.col("key")), "p")
        .join(
            tk.select(F.col("p").alias("np"), F.col("key")),
            ["np", "key"],
        )
        .groupBy("p", "np")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    j = (
        periods.join(common, ["p", "np"], "left")
        .join(sizes.select(F.col("p"), F.col("sz").alias("n_a")), "p")
        .join(
            sizes.select(F.col("p").alias("np"), F.col("sz").alias("n_b")),
            "np",
        )
        .select(
            F.col("p").alias("period"),
            F.col("np").alias("next_period"),
            "n_a", "n_b",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        )
    )
    com = F.col("n_common").cast("double")
    return j.select(
        "period", "next_period", "n_a", "n_b", "n_common",
        (
            com
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                "double"
            )
        ).alias("jaccard"),
        (com / F.least("n_a", "n_b").cast("double")).alias("overlap_coef"),
    ).orderBy("period")


def group_central_means(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Arithmetic, geometric, and harmonic means per group — the
    profiling trio for strictly-positive metrics (latencies, prices,
    rates), where the arithmetic mean alone overstates the center the
    moment the tail is heavy (AM >= GM >= HM, gaps = skew signal).

    Zero/negative/NULL values are EXCLUDED (GM/HM are undefined
    there); n reports the kept count so the exclusion is visible.
    Determinism: the arithmetic sum is exact decimal; each log term
    quantizes ROUND(ln, 9)::decimal(12,9) before its exact order-free
    sum (r12 hardening, the q434 lesson — a raw decimal(38,18) cast
    preserved 1-ulp libm/JIT ln latitude); the reciprocal is
    exact-input IEEE arithmetic (no libm), so its decimal(38,18)
    cast stays. GM rounds per the log contract. ONE grouped pass.
    Returns one row per group: (grp, n, mean_arith, mean_geo,
    mean_harm).
    """
    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    base = df.filter(g.isNotNull() & (F.col(value_col) > 0)).select(
        g.alias("grp"),
        F.col(value_col).cast("decimal(38,0)").alias("vi"),
        F.round(F.log(v), 9).cast("decimal(12,9)").alias("lv"),
        (F.lit(1.0) / v).cast("decimal(38,18)").alias("rv"),
    )
    per = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("vi").cast("decimal(38,0)").alias("s1"),
        F.sum("lv").cast("decimal(38,9)").alias("sl"),
        F.sum("rv").cast("decimal(38,18)").alias("sr"),
    )
    nd = F.col("n").cast("double")
    return per.select(
        "grp", "n",
        (F.col("s1").cast("double") / nd).alias("mean_arith"),
        F.exp(F.col("sl").cast("double") / nd).alias("mean_geo"),
        (nd / F.col("sr").cast("double")).alias("mean_harm"),
    )


def mahalanobis_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    chi2_q: float = 7.377758908227871,
) -> DataFrame:
    """Bivariate Mahalanobis outlier count — multivariate outliers the
    per-column z-score/MAD screens (q128/q173) CANNOT see: a point can
    be unremarkable on each axis yet wildly off the joint correlation
    ellipse. The 2-d case closes the covariance inverse by hand:

        d^2 = (dx^2 v_y - 2 dx dy c_xy + dy^2 v_x) / det,
        det = v_x v_y - c_xy^2

    flagged when d^2 > ``chi2_q`` (default the chi-square(2) 0.975
    quantile, which is exactly -2 ln 0.025 — closed form, no table).
    ONE exact-decimal moment pass sets the ellipse; one second scan
    scores rows against broadcast constants (no shuffle). Returns one
    row: (n_rows, n_outliers, outlier_share).
    """
    d38 = "decimal(38,0)"
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        x.alias("x"), y.alias("y")
    )
    xd, yd = F.col("x").cast(d38), F.col("y").cast(d38)
    mom = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(xd).cast(d38).alias("sx"),
        F.sum(yd).cast(d38).alias("sy"),
        F.sum((xd * xd).cast(d38)).cast(d38).alias("sxx"),
        F.sum((yd * yd).cast(d38)).cast(d38).alias("syy"),
        F.sum((xd * yd).cast(d38)).cast(d38).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    vx = F.col("sxx").cast("double") / nd - mx * mx
    vy = F.col("syy").cast("double") / nd - my * my
    cxy = F.col("sxy").cast("double") / nd - mx * my
    ell = mom.select(
        "n", mx.alias("mx"), my.alias("my"),
        vx.alias("vx"), vy.alias("vy"), cxy.alias("cxy"),
        (vx * vy - cxy * cxy).alias("det"),
    )
    j = base.crossJoin(F.broadcast(ell))
    dx = F.col("x").cast("double") - F.col("mx")
    dy = F.col("y").cast("double") - F.col("my")
    d2 = (
        dx * dx * F.col("vy")
        - F.lit(2.0) * dx * dy * F.col("cxy")
        + dy * dy * F.col("vx")
    ) / F.col("det")
    out = j.agg(
        F.first("n").alias("n_rows"),
        F.sum((d2 > F.lit(float(chi2_q))).cast("int"))
        .cast("long")
        .alias("n_outliers"),
    )
    return out.select(
        "n_rows", "n_outliers",
        (
            F.col("n_outliers").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("outlier_share"),
    )


def bin_width_rules(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Histogram bin-count recommendations — Freedman-Diaconis (IQR),
    Sturges (log2 n), and Doane (Sturges + a skewness correction) from
    one profile pass: the principled answer to "how many buckets?"
    before q127-style histograms get built with a magic 20.

        FD bins      = ceil(range / (2 IQR / n^(1/3)))
        Sturges bins = ceil(log2 n) + 1
        Doane bins   = 1 + ceil(log2 n + log2(1 + |g1| / sigma_g1))

    Quartiles are exact LOWER order statistics from the distinct-value
    cumulative table (rank ceil(q n) — the q66 discipline, quantized-
    input contract); g1 reuses the exact power sums of skew_kurtosis.
    Returns one row:
    (n, x_min, x_max, iqr, fd_bins, sturges_bins, doane_bins).
    """
    d38 = "decimal(38,0)"
    per = (
        df.select(F.col(value_col).cast("long").alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "v", "c", F.sum("c").over(w).cast("long").alias("cum")
    ).transform(materialize)
    vd = F.col("v").cast(d38)
    mom = cum.agg(
        F.max("cum").cast("long").alias("n"),
        F.min("v").cast("long").alias("x_min"),
        F.max("v").cast("long").alias("x_max"),
        F.sum((F.col("c").cast(d38) * vd).cast(d38)).cast(d38).alias("s1"),
        F.sum((F.col("c").cast(d38) * (vd * vd).cast(d38)).cast(d38))
        .cast(d38)
        .alias("s2"),
        F.sum(
            (F.col("c").cast(d38) * ((vd * vd).cast(d38) * vd).cast(d38))
            .cast(d38)
        )
        .cast(d38)
        .alias("s3"),
    )
    q = cum.crossJoin(F.broadcast(mom.select("n"))).agg(
        F.min(
            F.when(
                F.col("cum")
                >= F.ceil(F.lit(0.25) * F.col("n").cast("double")).cast(
                    "long"
                ),
                F.col("v"),
            )
        ).alias("q1"),
        F.min(
            F.when(
                F.col("cum")
                >= F.ceil(F.lit(0.75) * F.col("n").cast("double")).cast(
                    "long"
                ),
                F.col("v"),
            )
        ).alias("q3"),
    )
    j = mom.crossJoin(F.broadcast(q))
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    m2 = F.col("s2").cast("double") / nd - mean * mean
    m3 = (
        F.col("s3").cast("double") / nd
        - F.lit(3.0) * mean * (F.col("s2").cast("double") / nd)
        + F.lit(2.0) * mean * mean * mean
    )
    g1 = m3 / F.sqrt(m2 * m2 * m2)
    sig_g1 = F.sqrt(
        F.lit(6.0)
        * (nd - F.lit(2.0))
        / ((nd + F.lit(1.0)) * (nd + F.lit(3.0)))
    )
    iqr = (F.col("q3") - F.col("q1")).cast("long")
    rng = (F.col("x_max") - F.col("x_min")).cast("double")
    fd_w = F.lit(2.0) * iqr.cast("double") / F.pow(nd, F.lit(1.0 / 3.0))
    log2n = F.log(nd) / F.lit(0.6931471805599453)
    return j.select(
        "n", "x_min", "x_max",
        iqr.alias("iqr"),
        F.ceil(rng / fd_w).cast("long").alias("fd_bins"),
        (F.ceil(log2n) + 1).cast("long").alias("sturges_bins"),
        (
            F.lit(1)
            + F.ceil(
                log2n
                + F.log(F.lit(1.0) + F.abs(g1) / sig_g1)
                / F.lit(0.6931471805599453)
            )
        )
        .cast("long")
        .alias("doane_bins"),
    )


def theil_decomposition(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Theil T inequality index with its between/within-group
    decomposition — the inequality measure that, unlike Gini
    (q187/q241), DECOMPOSES exactly: how much revenue concentration
    lives between segments vs inside them:

        T_g     = (SUM x ln x - ln(mu_g) SUM x) / (n_g mu_g)
        T_betw  = SUM_g s_g ln(mu_g / mu)        (s_g = value share)
        T_total = T_betw + SUM_g s_g T_g          (exact identity)

    Positive values only (ln; zero/negative rows are excluded and the
    kept count reported). SUM x ln x accumulates as the exact decimal
    product x::decimal(20,0) * ROUND(ln x, 9)::decimal(12,9) (r12
    hardening, the q434 lesson: quantizing the ln factor to the 1e-9
    grid absorbs 1-ulp libm/JIT latitude that the old raw-double
    decimal(38,18) cast preserved; the sum is then an exact
    order-free decimal add); Sx/n are exact decimal.
    ONE grouped pass + a one-row global rollup. Returns one row per
    group: (grp, n, mean, value_share, t_within, t_between, t_total)
    with the two global columns repeated (ordered fold over groups).
    """
    d38 = "decimal(38,0)"
    g = F.col(group_col)
    base = df.filter(g.isNotNull() & (F.col(value_col) > 0)).select(
        g.alias("grp"),
        F.col(value_col).cast("long").alias("v"),
    )
    xlx = F.col("v").cast("decimal(20,0)") * F.round(
        F.log(F.col("v").cast("double")), 9
    ).cast("decimal(12,9)")
    per = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("v").cast(d38)).cast(d38).alias("sx"),
        F.sum(xlx).cast("decimal(38,9)").alias("sxl"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("sx").cast(d38).alias("sxx"),
        F.sum("sxl").cast("decimal(38,9)").alias("sxxl"),
    )
    j = per.crossJoin(F.broadcast(tot))
    ng = F.col("n").cast("double")
    mu_g = F.col("sx").cast("double") / ng
    nt = F.col("nn").cast("double")
    mu = F.col("sxx").cast("double") / nt
    t_g = (
        F.col("sxl").cast("double") - F.log(mu_g) * F.col("sx").cast("double")
    ) / (ng * mu_g)
    share = F.col("sx").cast("double") / F.col("sxx").cast("double")
    withg = j.select(
        "grp", "n",
        mu_g.alias("mean"),
        share.alias("value_share"),
        t_g.alias("t_within"),
        (share * F.log(mu_g / mu)).alias("bterm"),
        (share * t_g).alias("wterm"),
    )
    glob = (
        withg.select(
            F.struct(
                "grp", F.col("bterm").alias("b"), F.col("wterm").alias("w")
            ).alias("__e")
        )
        .agg(F.array_sort(F.collect_list("__e")).alias("__arr"))
        .select(
            F.aggregate(
                F.col("__arr"), F.lit(0.0), lambda a, x: a + x["b"]
            ).alias("t_between"),
            F.aggregate(
                F.col("__arr"), F.lit(0.0), lambda a, x: a + x["w"]
            ).alias("t_wsum"),
        )
    )
    return withg.crossJoin(F.broadcast(glob)).select(
        "grp", "n", "mean", "value_share", "t_within",
        "t_between",
        (F.col("t_between") + F.col("t_wsum")).alias("t_total"),
    )


def hhi_concentration(
    df: DataFrame,
    group_col: str,
    cat_col: str,
) -> DataFrame:
    """Herfindahl-Hirschman concentration per group — how concentrated
    is each group's categorical mix, with the "effective number of
    categories" (1/HHI) and the min-max-normalized index:

        HHI = SUM_c s_c^2 = SUM c_i^2 / total^2    (exact integers!)
        eff = 1 / HHI;  HHI_norm = (HHI - 1/k) / (1 - 1/k)

    One (group, category) grouped count; everything downstream is
    integer arithmetic plus two divisions per group. Returns one row
    per group: (grp, n_rows, k_cats, hhi, eff_categories, hhi_norm)
    — hhi_norm is NULL for single-category groups (undefined).
    """
    cells = (
        df.filter(F.col(group_col).isNotNull() & F.col(cat_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"), F.col(cat_col).alias("c"))
        .agg(F.count("*").cast("long").alias("o"))
    )
    per = cells.groupBy("grp").agg(
        F.sum("o").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("k_cats"),
        F.sum(
            (F.col("o").cast("decimal(19,0)") * F.col("o").cast("decimal(19,0)"))
            .cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("so2"),
    )
    nd = F.col("n_rows").cast("double")
    hhi = F.col("so2").cast("double") / (nd * nd)
    kd = F.col("k_cats").cast("double")
    return per.select(
        "grp", "n_rows", "k_cats",
        hhi.alias("hhi"),
        (F.lit(1.0) / hhi).alias("eff_categories"),
        F.try_divide(
            hhi - F.lit(1.0) / kd, F.lit(1.0) - F.lit(1.0) / kd
        ).alias("hhi_norm"),
    )


def inequality_profile(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Hoover index + Atkinson indices (eps = 1, 2) per group — the
    inequality panel beside Gini (q187) and Theil (q463), each with a
    distinct reading: Hoover = the share of total value that would
    have to MOVE to equalize; Atkinson = the share society would give
    up for equality under log / reciprocal welfare:

        Hoover = SUM_i |x_i n - X| / (2 n X)      (exact integers!)
        A(1)   = 1 - GM / AM
        A(2)   = 1 - HM / AM

    Positive values only (GM/HM; excluded rows visible via n). The
    Hoover numerator folds per DISTINCT value (c_v |v n - X| — one
    grouped pass, quantized-input contract); GM/HM reuse the decimal
    log/reciprocal row sums of group_central_means. Returns one row
    per group: (grp, n, hoover, atkinson_1, atkinson_2).
    """
    d38 = "decimal(38,0)"
    g = F.col(group_col)
    base = df.filter(g.isNotNull() & (F.col(value_col) > 0)).select(
        g.alias("grp"), F.col(value_col).cast("long").alias("v")
    )
    per = base.groupBy("grp", "v").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = per.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum((F.col("c").cast(d38) * F.col("v")).cast(d38))
        .cast(d38)
        .alias("x"),
    )
    hnum = (
        per.join(tot, "grp")
        .groupBy("grp")
        .agg(
            F.sum(
                (
                    F.col("c").cast(d38)
                    * F.abs(
                        (F.col("v").cast(d38) * F.col("n")).cast(d38)
                        - F.col("x")
                    ).cast(d38)
                ).cast(d38)
            )
            .cast(d38)
            .alias("hn")
        )
    )
    # ln terms quantize ROUND(ln, 9)::decimal(12,9) (r12 hardening,
    # the q434 lesson — 1-ulp libm/JIT ln latitude would survive a
    # raw decimal(38,18) cast); 1/v is exact-input IEEE arithmetic
    # (no libm), so its decimal(38,18) cast stays.
    moments = base.groupBy("grp").agg(
        F.sum(
            F.round(F.log(F.col("v").cast("double")), 9).cast(
                "decimal(12,9)"
            )
        )
        .cast("decimal(38,9)")
        .alias("sl"),
        F.sum(
            (F.lit(1.0) / F.col("v").cast("double")).cast("decimal(38,18)")
        )
        .cast("decimal(38,18)")
        .alias("sr"),
    )
    j = tot.join(hnum, "grp").join(moments, "grp")
    nd = F.col("n").cast("double")
    am = F.col("x").cast("double") / nd
    gm = F.exp(F.col("sl").cast("double") / nd)
    hm = nd / F.col("sr").cast("double")
    hoover = F.col("hn").cast("double") / (
        F.lit(2.0) * nd * F.col("x").cast("double")
    )
    return j.select(
        "grp", "n",
        hoover.alias("hoover"),
        (F.lit(1.0) - gm / am).alias("atkinson_1"),
        (F.lit(1.0) - hm / am).alias("atkinson_2"),
    )


def quantile_share_ratio(
    df: DataFrame,
    value_col: str,
    bottom_q: float = 0.4,
    top_q: float = 0.1,
) -> DataFrame:
    """Palma-style quantile share ratio — what share of total value
    the bottom 40% vs the top 10% of units hold, and their ratio (the
    distribution summary policy analyses quote where a single Gini
    hides WHERE the concentration sits):

        bottom_share = sum of the floor(bottom_q n) smallest values / X
        top_share    = sum of the (n - floor((1-top_q) n)) largest / X
        palma        = top_sum / bottom_sum

    EXACT at scale: unit counts come from rank arithmetic over the
    distinct-value cumulative table (partial mass at the boundary
    value splits exactly — the yuen_t trimming discipline; quantized-
    input contract), so every sum is an exact integer and the three
    ratios are single divisions. Returns one row:
    (n, total, bottom_units, top_units, bottom_share, top_share,
    palma).
    """
    d38 = "decimal(38,0)"
    per = (
        df.select(F.col(value_col).cast("long").alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "v", "c", F.sum("c").over(w).cast("long").alias("cum")
    ).transform(materialize)
    tot = cum.agg(
        F.max("cum").cast("long").alias("n"),
        F.sum((F.col("c").cast(d38) * F.col("v")).cast(d38))
        .cast(d38)
        .alias("x"),
    )
    b = F.floor(
        F.lit(float(bottom_q)) * F.col("n").cast("double")
    ).cast("long")
    u = F.floor(
        F.lit(1.0 - float(top_q)) * F.col("n").cast("double")
    ).cast("long")
    jt = cum.crossJoin(F.broadcast(tot.select("n", "x", b.alias("b"), u.alias("u"))))

    def partial_sum(bound):
        # units of this value whose global rank falls inside [1, bound]
        kept = F.greatest(
            F.least(F.col("cum"), bound) - (F.col("cum") - F.col("c")),
            F.lit(0).cast("long"),
        )
        return F.sum((kept.cast(d38) * F.col("v")).cast(d38)).cast(d38)

    agg = jt.agg(
        F.first("n").alias("n"),
        F.first("x").alias("x"),
        F.first("b").alias("b"),
        F.first("u").alias("u"),
        partial_sum(F.col("b")).alias("bsum"),
        partial_sum(F.col("u")).alias("usum"),
    )
    xd = F.col("x").cast("double")
    bsum = F.col("bsum").cast("double")
    tsum = F.col("x").cast("double") - F.col("usum").cast("double")
    return agg.select(
        "n",
        F.col("x").cast("double").alias("total"),
        F.col("b").alias("bottom_units"),
        (F.col("n") - F.col("u")).cast("long").alias("top_units"),
        (bsum / xd).alias("bottom_share"),
        (tsum / xd).alias("top_share"),
        F.try_divide(tsum, bsum).alias("palma"),
    )


def jarque_bera(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Jarque-Bera normality test per group — the standard "is this
    metric even close to Gaussian?" gate run before any z-score/sigma
    rule (q128, q476) is trusted:

        JB = n * (g1^2 / 6 + g2^2 / 24),    p = chi2_sf(JB, df=2)

    over :func:`skew_kurtosis`'s population skewness g1 and excess
    kurtosis g2. df=2 is EVEN, so the p-value uses the closed
    elementary chi2_sf_even form (= exp(-JB/2)) — no erf, identical
    expression tree on both engines; callers ROUND p per the exp
    contract.

    Scale: inherits skew_kurtosis's shape — ONE grouped exact-decimal
    power-sum aggregate; the JB/p readout is per-group scalar algebra.
    Returns one row per group:
    (grp, n, skewness, kurtosis_excess, jb, p_value).
    """
    from .experiments import chi2_sf_even

    base = skew_kurtosis(df, group_col, value_col)
    nd = F.col("n").cast("double")
    sk = F.col("skewness")
    ku = F.col("kurtosis_excess")
    jb = nd * (sk * sk / F.lit(6.0) + ku * ku / F.lit(24.0))
    return base.select(
        "grp",
        "n",
        "skewness",
        "kurtosis_excess",
        jb.alias("jb"),
        chi2_sf_even(jb, 2).alias("p_value"),
    )


def abc_analysis(
    df: DataFrame,
    key_col: str,
    value_col,
    a_cut: float = 0.8,
    b_cut: float = 0.95,
) -> DataFrame:
    """ABC (Pareto) classification of keys by value share — the
    inventory/catalog triage staple: rank keys by value, classify the
    prefix holding the first ``a_cut`` of cumulative share as A, up
    to ``b_cut`` as B, the tail as C (a key is A if its RUNNING total
    BEFORE it is still under the cut — the boundary key lands in the
    lighter class; pinned by test). The classification sibling of the
    Lorenz curve (q241).

    Scale: one grouped integer aggregate; the rank/cumulative windows
    run over the KEY table (dimension-sized — the post-aggregate
    contract); exact integer cumulative sums against integer-scaled
    cut thresholds (cum_before * 100 < cut_pct * total — no float
    boundary).

    Returns 3 rows: (abc_class, n_keys, value_sum, value_share).
    """
    a_pct = int(round(float(a_cut) * 100))
    b_pct = int(round(float(b_cut) * 100))
    per = df.groupBy(F.col(key_col).alias("k")).agg(
        F.sum(F.col(value_col).cast("long")).cast("long").alias("v")
    )
    w = Window.orderBy(F.desc("v"), "k").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = per.agg(F.sum("v").cast("long").alias("tv"))
    ranked = per.crossJoin(F.broadcast(tot)).select(
        "k",
        "v",
        "tv",
        F.coalesce(F.sum("v").over(w), F.lit(0)).cast("long").alias("cb"),
    )
    cls = (
        F.when(
            F.lit(100) * F.col("cb") < F.lit(a_pct) * F.col("tv"), "A"
        )
        .when(F.lit(100) * F.col("cb") < F.lit(b_pct) * F.col("tv"), "B")
        .otherwise("C")
    )
    out = ranked.groupBy(cls.alias("abc_class")).agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("v").cast("long").alias("value_sum"),
        F.max("tv").cast("long").alias("tv"),
    )
    return out.select(
        "abc_class",
        "n_keys",
        "value_sum",
        (
            F.col("value_sum").cast("double") / F.col("tv").cast("double")
        ).alias("value_share"),
    )


def process_capability(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lsl: int,
    usl: int,
) -> DataFrame:
    """Process-capability indices per group vs fixed spec limits — the
    "can this process hold its tolerance?" companion to the
    control-rule screen (control_rules alarms on instability; Cp/Cpk
    say whether even the stable process fits the spec):

        Cp  = (USL - LSL) / (6 sigma)
        Cpk = min(USL - mu, mu - LSL) / (3 sigma)

    (sample sigma; Cpk < Cp exactly when the process is off-center).

    Scale: ONE grouped exact-integer moment pass; fixed sqrt trees.
    Returns one row per group: (grp, n, mu, sigma, cp, cpk).
    """
    d38 = "decimal(38,0)"
    m = (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col(value_col).cast("long")).cast("long").alias("s"),
            F.sum(
                (
                    F.col(value_col).cast(d38) * F.col(value_col)
                ).cast(d38)
            )
            .cast(d38)
            .alias("ss"),
        )
    )
    nd = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nd
    sigma = F.sqrt(
        (
            nd * F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double")
        )
        / (nd * (nd - F.lit(1.0)))
    )
    lo, hi = float(lsl), float(usl)
    cp = (F.lit(hi) - F.lit(lo)) / (F.lit(6.0) * sigma)
    cpk = F.least(F.lit(hi) - mu, mu - F.lit(lo)) / (F.lit(3.0) * sigma)
    return m.select(
        "grp", "n", mu.alias("mu"), sigma.alias("sigma"),
        cp.alias("cp"), cpk.alias("cpk"),
    )


def dagostino_k2(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """D'Agostino-Pearson K^2 omnibus normality test per group — the
    finite-sample-calibrated upgrade of Jarque-Bera (JB's chi2
    approximation is notoriously slow to converge; K^2 normalizes
    skewness and kurtosis SEPARATELY with their exact small-sample
    transforms, then sums the squares):

        Z1 = delta * asinh(Y / alpha)          (D'Agostino 1970)
        Z2 = Anscombe-Glynn cube-root normal   (1983)
        K2 = Z1^2 + Z2^2  ~  chi2(2)  ->  p = exp(-K2/2)

    Moments are EXACT integer power sums (the skew_kurtosis S1..S4
    discipline — quantize the metric upstream); every transform is a
    fixed tree of +,-,*,/, sqrt, ln, exp (asinh spelled as
    ln(y + sqrt(y^2+1)), the cube root as sign * exp(ln|t|/3)), so
    both engines evaluate the identical expression chain; df=2 is
    even, so p is elementary. Callers round at <= 9 per the log/exp
    contract.

    Returns one row per group: (grp, n, skewness, kurtosis, z_skew,
    z_kurt, k2_stat, p_value).
    """
    d38 = "decimal(38,0)"
    v = F.col(value_col).cast(d38)
    per = (
        df.filter(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(v).cast(d38).alias("s1"),
            F.sum((v * v).cast(d38)).cast(d38).alias("s2"),
            F.sum(((v * v).cast(d38) * v).cast(d38)).cast(d38).alias("s3"),
            F.sum(((v * v).cast(d38) * (v * v).cast(d38)).cast(d38))
            .cast(d38)
            .alias("s4"),
        )
    )
    n = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - mean * mean
    m3 = (
        F.col("s3").cast("double") / n
        - F.lit(3.0) * mean * (F.col("s2").cast("double") / n)
        + F.lit(2.0) * mean * mean * mean
    )
    m4 = (
        F.col("s4").cast("double") / n
        - F.lit(4.0) * mean * (F.col("s3").cast("double") / n)
        + F.lit(6.0) * mean * mean * (F.col("s2").cast("double") / n)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    g1 = m3 / F.sqrt(m2 * m2 * m2)
    b2 = m4 / (m2 * m2)
    # --- Z1: D'Agostino skewness transform
    yy = g1 * F.sqrt(
        (n + F.lit(1.0)) * (n + F.lit(3.0))
        / (F.lit(6.0) * (n - F.lit(2.0)))
    )
    beta2 = (
        F.lit(3.0)
        * (n * n + F.lit(27.0) * n - F.lit(70.0))
        * (n + F.lit(1.0))
        * (n + F.lit(3.0))
        / (
            (n - F.lit(2.0))
            * (n + F.lit(5.0))
            * (n + F.lit(7.0))
            * (n + F.lit(9.0))
        )
    )
    w2 = F.lit(-1.0) + F.sqrt(F.lit(2.0) * (beta2 - F.lit(1.0)))
    delta = F.lit(1.0) / F.sqrt(F.lit(0.5) * F.log(w2))
    alpha = F.sqrt(F.lit(2.0) / (w2 - F.lit(1.0)))
    ya = yy / alpha
    z1 = delta * F.log(ya + F.sqrt(ya * ya + F.lit(1.0)))
    # --- Z2: Anscombe-Glynn kurtosis transform
    eb2 = F.lit(3.0) * (n - F.lit(1.0)) / (n + F.lit(1.0))
    vb2 = (
        F.lit(24.0)
        * n
        * (n - F.lit(2.0))
        * (n - F.lit(3.0))
        / (
            (n + F.lit(1.0))
            * (n + F.lit(1.0))
            * (n + F.lit(3.0))
            * (n + F.lit(5.0))
        )
    )
    xs = (b2 - eb2) / F.sqrt(vb2)
    sb1 = (
        F.lit(6.0)
        * (n * n - F.lit(5.0) * n + F.lit(2.0))
        / ((n + F.lit(7.0)) * (n + F.lit(9.0)))
        * F.sqrt(
            F.lit(6.0)
            * (n + F.lit(3.0))
            * (n + F.lit(5.0))
            / (n * (n - F.lit(2.0)) * (n - F.lit(3.0)))
        )
    )
    aa = F.lit(6.0) + F.lit(8.0) / sb1 * (
        F.lit(2.0) / sb1
        + F.sqrt(F.lit(1.0) + F.lit(4.0) / (sb1 * sb1))
    )
    tt = (F.lit(1.0) - F.lit(2.0) / aa) / (
        F.lit(1.0) + xs * F.sqrt(F.lit(2.0) / (aa - F.lit(4.0)))
    )
    cbrt = F.signum(tt) * F.exp(F.log(F.abs(tt)) / F.lit(3.0))
    z2 = (
        (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * aa)) - cbrt
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * aa))
    k2 = z1 * z1 + z2 * z2
    return per.select(
        "grp",
        "n",
        g1.alias("skewness"),
        b2.alias("kurtosis"),
        z1.alias("z_skew"),
        z2.alias("z_kurt"),
        k2.alias("k2_stat"),
        F.exp(F.lit(-0.5) * k2).alias("p_value"),
    )


def esd_outliers(
    df: DataFrame,
    id_col: str,
    value_col: str,
    max_outliers: int = 3,
    threshold: float = 3.0,
) -> DataFrame:
    """Generalized-ESD style outlier rounds: ``max_outliers`` fixed
    rounds, each computing the extreme studentized deviate
    G = max |v - mean| / s over the REMAINING rows and removing the
    argmax — the screen that fixes Grubbs' masking problem (one huge
    outlier inflates s and hides the second; re-estimating after each
    removal un-masks it). z-score screens (q128) flag against ONE
    global fit; this one re-fits per round.

    Each round is one exact-integer moment aggregate plus one
    argmin-struct extreme pick (|n v - S| compares as exact integers;
    ties break on smallest id), anti-joined against the tiny flagged
    set — fixed rounds keep the plan static (budgeted-rounds
    contract). ``threshold`` is the per-round critical value
    (Rosner's exact lambda_r needs t quantiles — supply your own
    cut; 3.0 is the common operational default).

    Returns one row per round: (round, flagged_id, flagged_value,
    g_stat, outlier).
    """
    k = int(max_outliers)
    if k < 1:
        raise ValueError("max_outliers must be >= 1")
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(value_col).cast("long").alias("v"),
    )
    d38 = "decimal(38,0)"
    out_rows = None
    cur = base
    for r in range(1, k + 1):
        m = cur.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("v").cast("long").alias("s"),
            F.sum((F.col("v").cast(d38) * F.col("v")).cast(d38))
            .cast(d38)
            .alias("ss"),
        )
        j = cur.crossJoin(F.broadcast(m))
        ad = F.abs(
            (F.col("n").cast(d38) * F.col("v") - F.col("s")).cast(d38)
        )
        pick = (
            j.select(
                "n", "s", "ss",
                F.struct(
                    (-ad).alias("nad"), F.col("id").alias("id"),
                    F.col("v").alias("v"),
                ).alias("__p"),
            )
            .groupBy("n", "s", "ss")
            .agg(F.min("__p").alias("__b"))
        )
        nd = F.col("n").cast("double")
        sd = F.sqrt(
            (
                nd * F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double")
            )
            / (nd * (nd - F.lit(1.0)))
        )
        g = (
            (-F.col("__b.nad")).cast("double") / nd
        ) / sd
        row = pick.select(
            F.lit(r).cast("long").alias("round"),
            F.col("__b.id").alias("flagged_id"),
            F.col("__b.v").alias("flagged_value"),
            g.alias("g_stat"),
            (g > F.lit(float(threshold))).alias("outlier"),
        )
        out_rows = row if out_rows is None else out_rows.unionByName(row)
        cur = cur.join(
            row.select(F.col("flagged_id").alias("id")), "id", "left_anti"
        )
    return out_rows


def qn_scale(
    df: DataFrame,
    value_col,
) -> DataFrame:
    """Rousseeuw-Croux Qn robust scale: the k-th smallest pairwise
    absolute difference |v_i - v_j| (i < j) with k = h(h-1)/2,
    h = n//2 + 1 — the 50%-breakdown spread estimator that, unlike
    MAD (q173), needs no location estimate and keeps ~82% Gaussian
    efficiency (MAD: 37%).

    Exact at scale WITHOUT materializing n^2 pairs: values collapse
    to the distinct-value grid first (quantized-input contract), the
    pair census walks the grid x grid self-join with integer
    multiplicities (c_i c_j cross, c(c-1)/2 within-tie), diffs group
    by their value, and the k-th order statistic falls out of one
    cumulative count over the sorted DIFF grid — every quantity an
    exact integer, no sampling, no float ranks.

    Returns one row: (n, h, k_rank, qn_raw, qn) with
    qn = 2.2219 * qn_raw (the Gaussian-consistency constant).
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = (
        df.filter(v.isNotNull())
        .groupBy(v.cast("long").alias("val"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    a = per.select(F.col("val").alias("v1"), F.col("c").alias("c1"))
    b = per.select(F.col("val").alias("v2"), F.col("c").alias("c2"))
    pairs = a.join(b, F.col("v1") <= F.col("v2")).select(
        (F.col("v2") - F.col("v1")).alias("diff"),
        F.when(
            F.col("v1") == F.col("v2"),
            (F.col("c1") * (F.col("c1") - 1) / 2).cast("long"),
        )
        .otherwise(F.col("c1") * F.col("c2"))
        .cast("long")
        .alias("m"),
    ).filter(F.col("m") > 0)
    byd = pairs.groupBy("diff").agg(F.sum("m").cast("long").alias("m"))
    tot = per.agg(F.sum("c").cast("long").alias("n"))
    w = Window.orderBy("diff").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = byd.select(
        "diff", F.sum("m").over(w).cast("long").alias("cum")
    ).crossJoin(F.broadcast(tot))
    h = (F.col("n") / 2 + 1).cast("long")
    k = (h * (h - 1) / 2).cast("long")
    hit = cum.filter(F.col("cum") >= k).groupBy("n").agg(
        F.min("diff").cast("long").alias("qn_raw")
    )
    h2 = (F.col("n") / 2 + 1).cast("long")
    return hit.select(
        "n",
        h2.alias("h"),
        (h2 * (h2 - 1) / 2).cast("long").alias("k_rank"),
        "qn_raw",
        (F.lit(2.2219) * F.col("qn_raw").cast("double")).alias("qn"),
    )


def two_way_anova(
    df: DataFrame,
    factor_a: str,
    factor_b: str,
    value_col,
) -> DataFrame:
    """Two-way fixed-effects ANOVA decomposition from exact integer
    moments — "how much of this metric's variance do factor A, factor
    B, and their interaction explain?" (the two-factor upgrade of the
    one-way F lurking under q423/q509's variance tests):

        SS_A     = SUM_a S_a^2/n_a - T^2/N
        SS_B     = SUM_b S_b^2/n_b - T^2/N
        SS_cells = SUM_ab S_ab^2/n_ab - T^2/N
        SS_AB    = SS_cells - SS_A - SS_B
        SS_err   = SS_total - SS_cells

    (the textbook weighted-cell-means partition; for UNBALANCED
    layouts SS_AB is the sequential remainder — document the design
    before reading the F's).

    Determinism: each S^2/n splits into an exact integer quotient
    (S^2 DIV n) plus a sub-unit remainder ratio; integer parts sum
    and cancel EXACTLY (no catastrophic-cancellation ulp
    amplification — the failure mode of summing ~1e14 doubles; and
    big-double decimal quantization is NOT cross-engine stable, see
    the q540 lesson), and the sub-unit fractions fold in
    factor-level order (bounded arrays). Contract: value
    integer-valued and banded so S^2 fits 63 bits (kilo-unit a money
    metric). F statistics are fixed ratio trees; p-values are the
    caller's F-table lookup.

    Returns one row: (n, ss_a, df_a, ss_b, df_b, ss_ab, df_ab,
    ss_err, df_err, f_a, f_b, f_ab).
    """
    d38 = "decimal(38,0)"
    v = (
        F.col(value_col) if isinstance(value_col, str) else value_col
    ).cast("long")
    cells = (
        df.select(
            F.col(factor_a).alias("fa"),
            F.col(factor_b).alias("fb"),
            v.alias("v"),
        )
        .filter(F.col("v").isNotNull())
        .groupBy("fa", "fb")
        .agg(
            F.count("*").cast("long").alias("nc"),
            F.sum("v").cast("long").alias("sc"),
            F.sum((F.col("v").cast(d38) * F.col("v")).cast(d38))
            .cast("long")
            .alias("ssq"),
        )
    )

    def qparts(tbl, key_cols, scol, ncol, iname, fname, kname):
        pre = tbl.select(
            *key_cols,
            (F.col(scol) * F.col(scol)).alias("__sq"),
            F.col(ncol).alias("__n"),
        )
        qq = F.expr("__sq div __n").cast("long")
        withq = pre.select(*key_cols, "__sq", "__n", qq.alias("qq"))
        frac = (F.col("__sq") - F.col("qq") * F.col("__n")).cast(
            "double"
        ) / F.col("__n").cast("double")
        return (
            withq.select(*key_cols, "qq", frac.alias("frac"))
            .groupBy()
            .agg(
                F.sum("qq").cast("long").alias(iname),
                F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                *[F.col(k) for k in key_cols],
                                F.col("frac"),
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda a, e: a + e["frac"],
                ).alias(fname),
                F.count("*").cast("long").alias(kname),
            )
        )

    ma = cells.groupBy("fa").agg(
        F.sum("nc").cast("long").alias("nm"),
        F.sum("sc").cast("long").alias("sm"),
    )
    mb = cells.groupBy("fb").agg(
        F.sum("nc").cast("long").alias("nm"),
        F.sum("sc").cast("long").alias("sm"),
    )
    qa = qparts(ma, ["fa"], "sm", "nm", "qa_i", "qa_f", "ka")
    qb = qparts(mb, ["fb"], "sm", "nm", "qb_i", "qb_f", "kb")
    qc = qparts(cells, ["fa", "fb"], "sc", "nc", "qc_i", "qc_f",
                "n_cells")
    tot = cells.agg(
        F.sum("nc").cast("long").alias("n"),
        F.sum("sc").cast("long").alias("t"),
        F.sum("ssq").cast("long").alias("ssq"),
    )
    one = (
        tot.crossJoin(F.broadcast(qa))
        .crossJoin(F.broadcast(qb))
        .crossJoin(F.broadcast(qc))
    )
    one = one.withColumn("__tsq", F.col("t") * F.col("t")).withColumn(
        "__cfq", F.expr("__tsq div n").cast("long")
    )
    cfq = F.col("__cfq")
    cff = (F.col("__tsq") - cfq * F.col("n")).cast("double") / F.col(
        "n"
    ).cast("double")
    ss_a = (F.col("qa_i") - cfq).cast("double") + (F.col("qa_f") - cff)
    ss_b = (F.col("qb_i") - cfq).cast("double") + (F.col("qb_f") - cff)
    ss_cells = (F.col("qc_i") - cfq).cast("double") + (
        F.col("qc_f") - cff
    )
    ss_tot = (F.col("ssq") - cfq).cast("double") - cff
    ss_ab = ss_cells - ss_a - ss_b
    ss_err = ss_tot - ss_cells
    df_a = F.col("ka") - 1
    df_b = F.col("kb") - 1
    df_ab = df_a * df_b
    df_err = F.col("n") - F.col("n_cells")
    ms_err = ss_err / df_err.cast("double")
    return one.select(
        "n",
        ss_a.alias("ss_a"), df_a.cast("long").alias("df_a"),
        ss_b.alias("ss_b"), df_b.cast("long").alias("df_b"),
        ss_ab.alias("ss_ab"), df_ab.cast("long").alias("df_ab"),
        ss_err.alias("ss_err"), df_err.cast("long").alias("df_err"),
        ((ss_a / df_a.cast("double")) / ms_err).alias("f_a"),
        ((ss_b / df_b.cast("double")) / ms_err).alias("f_b"),
        ((ss_ab / df_ab.cast("double")) / ms_err).alias("f_ab"),
    )


def luhn_card_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Checksum-validated payment-card detection: extract maximal
    digit runs of 13-19 characters and validate each with the Luhn
    mod-10 checksum — the precision upgrade over q72's pure-regex PII
    scrub (16 digits that fail Luhn are an order id, not a card; a
    scrubber that can tell the difference redacts less and misses
    less).

    Candidates are MAXIMAL '[0-9]+' runs filtered by length (RE2-safe
    on both engines — no lookbehind), and the checksum is an in-row
    fold over the digit positions (double every second digit from the
    right, subtract 9 above 9, total divisible by 10). Row-local
    work; ONE aggregate.

    Returns one row per document that has at least one candidate:
    (id, n_candidates, n_valid, n_invalid, first_valid_masked) — the
    valid card is masked to its last 4 digits, never emitted whole.
    """
    runs = F.filter(
        F.regexp_extract_all(F.col(text_col), F.lit("([0-9]+)"), 1),
        lambda x: (F.length(x) >= 13) & (F.length(x) <= 19),
    )
    base = df.select(F.col(id_col).alias("id"), runs.alias("__runs"))
    exploded = base.select("id", F.explode("__runs").alias("cand"))

    ln = F.length("cand")

    def _digit(i):
        return F.substr(F.col("cand"), i, F.lit(1)).cast("int")

    # position from the right r = len - i (0-based); double odd r
    contrib = F.transform(
        F.sequence(F.lit(1), ln),
        lambda i: F.when(
            ((ln - i) % 2) == 1,
            F.when(_digit(i) * 2 > 9, _digit(i) * 2 - 9).otherwise(
                _digit(i) * 2
            ),
        ).otherwise(_digit(i)),
    )
    total = F.aggregate(
        contrib, F.lit(0), lambda a, x: a + x
    )
    scored = exploded.select(
        "id", "cand", ((total % 10) == 0).alias("ok")
    )
    per = scored.groupBy("id").agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_valid"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_invalid"),
        F.min(F.when(F.col("ok"), F.col("cand"))).alias("__fv"),
    )
    masked = F.when(
        F.col("__fv").isNotNull(),
        F.concat(
            F.lit("****"),
            F.substr(F.col("__fv"), F.length("__fv") - 3, F.lit(4)),
        ),
    )
    return per.select(
        "id", "n_candidates", "n_valid", "n_invalid",
        masked.alias("first_valid_masked"),
    )


def tukey_biweight_location(
    df: DataFrame,
    value_col,
    c_mult: float = 4.685,
    rounds: int = 2,
) -> DataFrame:
    """Tukey biweight (bisquare) robust location by fixed IRLS
    rounds: weight w = (1 - u^2)^2 for |u| < 1 (0 beyond), with
    u = (v - loc)/(c_mult * MAD) — the redescending M-estimator that
    IGNORES far outliers entirely (vs winsorizing, q378, which clips
    them to the fence but still counts them).

    Start at the exact grid median; MAD comes from the
    |v - median| distinct grid (q173 discipline); each round is one
    pass over the distinct-value table with per-term
    decimal(38,6)-quantized weighted sums (terms <= ~1e7, inside the
    conversion-safety bound). FIXED rounds (budgeted contract — 2
    rounds is already within ~1e-3 of convergence on unimodal data).

    Returns one row: (n, median, mad, c_scale, loc).
    """
    r = int(rounds)
    if r < 1:
        raise ValueError("rounds must be >= 1")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = (
        df.filter(v.isNotNull())
        .groupBy(v.cast("long").alias("val"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = per.agg(F.sum("c").cast("long").alias("n"))
    w = Window.orderBy("val")
    cum = per.select(
        "val", "c", F.sum("c").over(w).cast("long").alias("cum")
    ).crossJoin(F.broadcast(tot))
    # lower median: smallest val with cum >= ceil(n/2)
    k = F.floor((F.col("n") + 1) / 2).cast("long")
    med = cum.filter(F.col("cum") >= k).agg(
        F.min("val").cast("long").alias("med"),
        F.max("n").cast("long").alias("n"),
    )
    dev = (
        per.crossJoin(F.broadcast(med))
        .groupBy(
            F.abs(F.col("val") - F.col("med")).alias("ad"),
        )
        .agg(F.sum("c").cast("long").alias("c"))
    )
    wd = Window.orderBy("ad")
    dcum = dev.select(
        "ad", F.sum("c").over(wd).cast("long").alias("cum")
    ).crossJoin(F.broadcast(med))
    mad = dcum.filter(
        F.col("cum") >= F.floor((F.col("n") + 1) / 2).cast("long")
    ).agg(
        F.min("ad").cast("long").alias("mad"),
        F.max("n").cast("long").alias("n"),
        F.max("med").cast("long").alias("med"),
    )
    state = per.crossJoin(F.broadcast(mad))
    cs = F.lit(float(c_mult)) * F.col("mad").cast("double")
    loc = F.col("med").cast("double")
    q6 = lambda e: e.cast("decimal(38,6)")
    for _ in range(r):
        u = (F.col("val").cast("double") - loc) / cs
        wgt = F.when(
            F.abs(u) < 1,
            (F.lit(1.0) - u * u) * (F.lit(1.0) - u * u),
        ).otherwise(F.lit(0.0))
        num = F.sum(
            q6(wgt * F.col("val").cast("double") * F.col("c").cast("double"))
        ).cast("double")
        den = F.sum(q6(wgt * F.col("c").cast("double"))).cast("double")
        agg = state.groupBy("n", "med", "mad").agg(
            num.alias("__num"), den.alias("__den")
        )
        # fold the new location back as a literal column by joining
        state = state.join(
            F.broadcast(agg.select("n", (F.col("__num") / F.col("__den")).alias("__loc"))),
            "n",
        )
        loc = F.col("__loc")
        cs = F.lit(float(c_mult)) * F.col("mad").cast("double")
        state = state.select("val", "c", "n", "med", "mad", "__loc")
        loc = F.col("__loc")
        # rename to avoid duplicate on next round
        state = state.withColumnRenamed("__loc", "__locp")
        loc = F.col("__locp")
    return state.groupBy("n", "med", "mad").agg(
        F.max("__locp").alias("loc")
    ).select(
        "n",
        F.col("med").cast("long").alias("median"),
        F.col("mad").cast("long").alias("mad"),
        (F.lit(float(c_mult)) * F.col("mad").cast("double")).alias(
            "c_scale"
        ),
        "loc",
    )


def median_ci(
    df: DataFrame,
    value_col,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Distribution-free confidence interval for the MEDIAN by order
    statistics: the interval between ranks

        lo = floor((n - z sqrt(n)) / 2)
        hi = n - lo + 1

    covers the population median with ~95% confidence for ANY
    continuous distribution (the binomial/sign argument — no
    normality, no bootstrap resamples; the classic bedside method
    q279's bootstrap generalizes). Large-sample normal rank
    approximation; exact binomial ranks differ by at most 1 for
    n >= ~50 (documented bias, not noise).

    Ranks resolve on the distinct-value cumulative grid (quantized-
    input contract) — one grouped count + one prefix window. Returns
    one row: (n, median, lo_rank, hi_rank, ci_lo, ci_hi).
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = (
        df.filter(v.isNotNull())
        .groupBy(v.cast("long").alias("val"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = per.agg(F.sum("c").cast("long").alias("n"))
    w = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "val", F.sum("c").over(w).cast("long").alias("cum")
    ).crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    lo_rank = F.floor(
        (nd - F.lit(float(z)) * F.sqrt(nd)) / F.lit(2.0)
    ).cast("long")
    hi_rank = (F.col("n") - lo_rank + 1).cast("long")
    med_rank = F.floor((F.col("n") + 1) / 2).cast("long")

    def at_rank(r, name):
        return cum.filter(F.col("cum") >= r).agg(
            F.min("val").cast("long").alias(name),
            F.max("n").cast("long").alias(f"__n_{name}"),
        )

    a = at_rank(med_rank, "median")
    b = at_rank(lo_rank, "ci_lo")
    c = at_rank(hi_rank, "ci_hi")
    one = (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(c))
        .select(
            F.col("__n_median").alias("n"),
            "median", "ci_lo", "ci_hi",
        )
    )
    return one.select(
        "n",
        "median",
        F.floor(
            (F.col("n").cast("double") - F.lit(float(z)) * F.sqrt(F.col("n").cast("double")))
            / F.lit(2.0)
        ).cast("long").alias("lo_rank"),
        (
            F.col("n")
            - F.floor(
                (F.col("n").cast("double") - F.lit(float(z)) * F.sqrt(F.col("n").cast("double")))
                / F.lit(2.0)
            ).cast("long")
            + 1
        ).cast("long").alias("hi_rank"),
        "ci_lo",
        "ci_hi",
    )


def weighted_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    quantiles_pct: tuple = (25, 50, 75),
) -> DataFrame:
    """Weighted quantiles per group by the LOWER-weighted-quantile
    convention: the q-th percentile is the smallest value whose
    cumulative weight reaches q% of the total (exact integer compare
    100*cumw >= q*W — no float boundary), so a respondent with
    weight 3 counts as three — the survey-weighted sibling of the
    exact median (q552's order-statistic CI). Charter §2B extension.

    Scale design: one cumulative-weight window per group ordered by
    value (post-aggregate-window contract — band/quantize a
    continuous metric upstream), then ONE conditional-min aggregate
    per group; weights are exact integers throughout. Non-positive
    weights drop.
    """
    qs = [int(q) for q in quantiles_pct]
    if not qs or any(not (0 < q < 100) for q in qs):
        raise ValueError("quantiles_pct must be integers in (0, 100)")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("long").alias("v"),
        F.col(weight_col).cast("long").alias("w"),
    ).filter(F.col("w") > 0)
    byv = base.groupBy("grp", "v").agg(
        F.sum("w").cast("long").alias("wv")
    )
    win = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = byv.select(
        "grp",
        "v",
        F.sum("wv").over(win).cast("long").alias("cw"),
        F.sum("wv").over(Window.partitionBy("grp")).cast("long").alias("tw"),
    )
    aggs = [F.max("tw").cast("long").alias("w_total")]
    for q in qs:
        aggs.append(
            F.min(
                F.when(
                    F.lit(100) * F.col("cw") >= F.lit(q) * F.col("tw"),
                    F.col("v"),
                )
            )
            .cast("long")
            .alias(f"p{q}")
        )
    return cum.groupBy("grp").agg(*aggs)


def dixon_q(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Dixon's Q outlier screen per SMALL group (the lab/QC test for
    n ~ 3..30): q_high = (x_(n) - x_(n-1)) / range and
    q_low = (x_(2) - x_(1)) / range — is the extreme value an
    outlier relative to its gap? Emits both ratios with the extreme
    values; compare against the caller's critical table (no
    elementary Q quantiles — documented). Constant groups (range 0)
    read NULL. Charter §2B extension.

    Determinism: the four order statistics are exact integers from
    one grouped min/max + rank window; the two ratios are exact
    integer divisions. Scale: one rank window per group
    (post-aggregate-window contract — groups are period/batch
    grain), one grouped aggregate.
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("long").alias("v"),
    )
    w_asc = Window.partitionBy("grp").orderBy(F.col("v").asc())
    w_desc = Window.partitionBy("grp").orderBy(F.col("v").desc())
    ranked = base.select(
        "grp",
        "v",
        F.row_number().over(w_asc).alias("ra"),
        F.row_number().over(w_desc).alias("rd"),
    )
    agg = ranked.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("v").cast("long").alias("x1"),
        F.max("v").cast("long").alias("xn"),
        F.max(F.when(F.col("ra") == 2, F.col("v")))
        .cast("long")
        .alias("x2"),
        F.max(F.when(F.col("rd") == 2, F.col("v")))
        .cast("long")
        .alias("xn1"),
    )
    rng = (F.col("xn") - F.col("x1")).cast("double")
    return agg.filter(F.col("n_rows") >= 3).select(
        "grp",
        "n_rows",
        "x1",
        "xn",
        F.when(
            rng > 0,
            (F.col("xn") - F.col("xn1")).cast("double") / rng,
        ).alias("q_high"),
        F.when(
            rng > 0,
            (F.col("x2") - F.col("x1")).cast("double") / rng,
        ).alias("q_low"),
    )


def tolerance_interval(
    df: DataFrame,
    group_col: str,
    value_col: str,
    r: int = 2,
    coverage_pct: int = 90,
) -> DataFrame:
    """Distribution-free two-sided tolerance interval per group: the
    order-statistic interval [x_(r), x_(n-r+1)] with the EXACT
    achieved confidence that it covers at least ``coverage_pct``% of
    the population: conf = P(Bin(n, gamma) <= n - 2r) (the Wilks
    beta-binomial identity) — the "band that holds gamma of
    everything, with stated confidence" readout behind spec limits.
    Groups with n < 2r + 1 drop. Charter §2B extension.

    Determinism: interval bounds are exact integer order statistics;
    the binomial tail folds IN-ROW by the exact ratio recurrence
    term_{k+1} = term_k * ((n-k)/(k+1)) * (gamma/(1-gamma)) from
    term_0 = (1-gamma)^n (the q587 Fisher fold discipline — both
    engines replay the identical left fold); callers ROUND (<= 9).

    Scale design: one rank window per group + one grouped aggregate;
    the fold length is n - 2r (keep groups batch-sized — the
    documented small-n QC contract, like dixon_q).
    """
    if r < 1:
        raise ValueError("r must be >= 1")
    if not (0 < coverage_pct < 100):
        raise ValueError("coverage_pct must be in (0, 100)")
    g = coverage_pct / 100.0
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("long").alias("v"),
    )
    w_asc = Window.partitionBy("grp").orderBy(F.col("v").asc())
    w_desc = Window.partitionBy("grp").orderBy(F.col("v").desc())
    ranked = base.select(
        "grp",
        "v",
        F.row_number().over(w_asc).alias("ra"),
        F.row_number().over(w_desc).alias("rd"),
    )
    agg = ranked.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.max(F.when(F.col("ra") == r, F.col("v")))
        .cast("long")
        .alias("lo"),
        F.max(F.when(F.col("rd") == r, F.col("v")))
        .cast("long")
        .alias("hi"),
    ).filter(F.col("n_rows") >= 2 * r + 1)
    n = F.col("n_rows")
    gamma = F.lit(float(g))
    one_m = F.lit(1.0) - gamma
    term0 = F.pow(one_m, n.cast("double"))
    kmax = (n - F.lit(2 * r)).cast("int")
    folded = F.aggregate(
        F.sequence(F.lit(0), kmax - 1),
        F.struct(term0.alias("s"), term0.alias("t")),
        lambda acc, k: F.struct(
            (
                acc["s"]
                + acc["t"]
                * ((n - k).cast("double") / (k + 1).cast("double"))
                * (gamma / one_m)
            ).alias("s"),
            (
                acc["t"]
                * ((n - k).cast("double") / (k + 1).cast("double"))
                * (gamma / one_m)
            ).alias("t"),
        ),
    )
    return agg.select(
        "grp",
        "n_rows",
        F.col("lo").alias("tol_lo"),
        F.col("hi").alias("tol_hi"),
        F.lit(float(g)).alias("coverage"),
        folded["s"].alias("confidence"),
    )


def oc_curve(
    df: DataFrame,
    group_col: str,
    defect_col: str,
    sample_n: int = 50,
    accept_c: int = 2,
) -> DataFrame:
    """Acceptance-sampling OC point per group: from each group's
    observed defect share p-hat, the probability the (n, c) single
    sampling plan ACCEPTS a lot at that quality:
    P(accept) = P(Bin(n, p_hat) <= c) — would the standard incoming
    inspection pass this supplier? Emits p_hat and P(accept) per
    group (p_hat = 0 or 1 short-circuit to exact 1/0). Charter §2B
    extension.

    Determinism: p_hat is an exact integer ratio; the c+1-term
    binomial sum folds in-row by the exact ratio recurrence (the
    q587/tolerance discipline); callers ROUND (<= 9). Scale: ONE
    grouped aggregate + scalar folds.
    """
    if sample_n < 1 or not (0 <= accept_c < sample_n):
        raise ValueError("need sample_n >= 1 and 0 <= accept_c < sample_n")
    d = F.col(defect_col).cast("int")
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("n_obs"),
        F.sum(d).cast("long").alias("n_defect"),
    )
    p = F.col("n_defect").cast("double") / F.col("n_obs").cast("double")
    q = F.lit(1.0) - p
    term0 = F.pow(q, F.lit(float(sample_n)))
    folded = F.aggregate(
        F.sequence(F.lit(0), F.lit(accept_c - 1)),
        F.struct(term0.alias("s"), term0.alias("t")),
        lambda acc, k: F.struct(
            (
                acc["s"]
                + acc["t"]
                * (
                    (F.lit(sample_n) - k).cast("double")
                    / (k + 1).cast("double")
                )
                * (p / q)
            ).alias("s"),
            (
                acc["t"]
                * (
                    (F.lit(sample_n) - k).cast("double")
                    / (k + 1).cast("double")
                )
                * (p / q)
            ).alias("t"),
        ),
    )
    p_accept = (
        F.when(F.col("n_defect") == 0, F.lit(1.0))
        .when(F.col("n_defect") == F.col("n_obs"), F.lit(0.0))
        .otherwise(folded["s"] if accept_c > 0 else term0)
    )
    return agg.select(
        "grp",
        "n_obs",
        "n_defect",
        p.alias("p_hat"),
        F.lit(sample_n).cast("long").alias("plan_n"),
        F.lit(accept_c).cast("long").alias("plan_c"),
        p_accept.alias("p_accept"),
    )
