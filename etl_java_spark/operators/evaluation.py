"""Model-evaluation and statistical-audit operators.

Charter §2B extensions (no reference counterpart — RoberWaters/ETL-Java,
src/etl/ETLProcess.java:1-568, has no analytics surface). A training-data
pipeline does not stop at producing a dataset: it must also *evaluate*
models and heuristics trained on that data, and those evaluation jobs run
on the same warehouse at the same scale. This module carries the classic
evaluation shapes — closed-form OLS, ROC-AUC, calibration/ECE,
inter-annotator agreement, split-conformal coverage — each expressed as
aggregates so the only non-exact step is a handful of final IEEE double
ops over exact (decimal/integer) sums.

Scale stance shared by every operator here:

- The data-sized work is one scan + one map-side-combinable aggregation
  (or a distinct-value reduction); nothing is quadratic in rows.
- Rank-based operators (AUC, conformal order statistic) aggregate to
  per-distinct-score counts FIRST and only then run an ordered window
  over the distinct scores — the window's input is bounded by score
  cardinality, not row count, and a ``quantize`` knob caps that
  cardinality for continuous scores at warehouse scale.
- Cross-engine determinism: sums are decimal (exact, order-independent),
  counts are integers, and each final formula is a fixed expression tree
  of IEEE double ops — bit-identical on any engine given identical
  inputs (the q253/q263 discipline).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.checkpoints import materialize


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def ols_regression(
    df: DataFrame,
    y_col,
    x1_col,
    x2_col,
    scale: int = 2,
) -> DataFrame:
    """Closed-form ordinary least squares ``y ~ b0 + b1*x1 + b2*x2`` via
    the normal equations, solved with Cramer's rule — the distributed
    regression that needs exactly ONE aggregation pass regardless of
    data size.

    The normal-equation matrix for two features plus intercept is the
    3x3 moment matrix [[n, S1, S2], [S1, S11, S12], [S2, S12, S22]];
    every entry is a sum computable map-side-combinably in a single
    scan. At 100 TB this is the *only* sane linear-model fit: no
    gradient iterations, no driver-side data, one shuffle of a 10-cell
    partial aggregate.

    Determinism: inputs are cast to ``decimal(18, scale)`` so all nine
    moments are EXACT and order-independent; the 3x3 solve and the R²
    are a fixed double expression tree over those exact moments, hence
    bit-reproducible on any partitioning (and replayable by a SQL
    oracle writing the same expressions).

    Returns one row: (n_rows, beta0, beta1, beta2, r2).
    """
    d = f"decimal(18,{scale})"
    y, x1, x2 = _c(y_col).cast(d), _c(x1_col).cast(d), _c(x2_col).cast(d)
    agg = df.agg(
        F.count("*").alias("n_rows"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x1 * x1).cast("double").alias("s11"),
        F.sum(x1 * x2).cast("double").alias("s12"),
        F.sum(x2 * x2).cast("double").alias("s22"),
        F.sum(x1 * y).cast("double").alias("s1y"),
        F.sum(x2 * y).cast("double").alias("s2y"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    return agg.select("n_rows", *_ols_readout())


def _ols_readout() -> list[Column]:
    """Cramer's-rule readout columns over the 10 OLS moment columns
    (shared by ols_regression and grouped_ols). The oracle SQL must
    write these formulas with the identical operation order."""
    n = F.col("n_rows").cast("double")
    s1, s2, sy = F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    b0, b1, b2 = det0 / det, det1 / det, det2 / det
    sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    sst = syy - sy * sy / n
    return [
        b0.alias("beta0"),
        b1.alias("beta1"),
        b2.alias("beta2"),
        (F.lit(1.0) - sse / sst).alias("r2"),
    ]


def grouped_ols(
    df: DataFrame,
    group_col: str,
    y_col,
    x1_col,
    x2_col,
    scale: int = 2,
) -> DataFrame:
    """Per-group closed-form OLS — ``ols_regression`` with a GROUP BY:
    one fit per fold/cohort/segment from the same single-pass exact
    decimal moments (cross-validation beta-stability checks, per-
    segment elasticity fits). One grouped aggregate (map-side
    combined), then the identical fixed-IEEE Cramer readout per group —
    bit-reproducible, SQL-replayable.

    Returns one row per group: (group, n_rows, beta0, beta1, beta2,
    r2).
    """
    d = f"decimal(18,{scale})"
    y, x1, x2 = _c(y_col).cast(d), _c(x1_col).cast(d), _c(x2_col).cast(d)
    agg = df.groupBy(group_col).agg(
        F.count("*").alias("n_rows"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x1 * x1).cast("double").alias("s11"),
        F.sum(x1 * x2).cast("double").alias("s12"),
        F.sum(x2 * x2).cast("double").alias("s22"),
        F.sum(x1 * y).cast("double").alias("s1y"),
        F.sum(x2 * y).cast("double").alias("s2y"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    return agg.select(group_col, "n_rows", *_ols_readout())


def roc_auc(
    df: DataFrame,
    label_col,
    score_col,
    quantize: int | None = None,
) -> DataFrame:
    """Exact ROC-AUC from per-distinct-score counts — the Mann-Whitney
    identity, computed WITHOUT ranking individual rows.

    AUC = P(score_pos > score_neg) + P(tie)/2. Aggregating to
    (score -> n_pos, n_neg) first makes the doubled numerator an exact
    integer::

        2*U = sum over scores asc of  n_pos * (2 * cum_neg_below + n_neg)

    and AUC = U / (P*N). The ordered window runs over DISTINCT scores
    (cardinality-bounded, not row-bounded); ``quantize`` optionally
    floors scores to that many decimal digits to cap cardinality for
    continuous scores at warehouse scale. Integer arithmetic until the
    single final division, so the result is exact and engine-portable.

    Returns one row: (n_pos, n_neg, u2, auc) where u2 = 2*U.
    """
    s = _c(score_col)
    if quantize is not None:
        # floor-quantization: integer arithmetic, no .5-rounding-mode
        # divergence across engines
        s = F.floor(s * F.lit(10**quantize)).cast("long")
    lab = _c(label_col).cast("int")
    per = df.groupBy(s.alias("__s")).agg(
        F.sum(lab).cast("long").alias("__p"),
        F.sum(F.lit(1) - lab).cast("long").alias("__n"),
    )
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    contrib = per.select(
        "__p",
        "__n",
        (
            F.col("__p")
            * (F.lit(2) * F.coalesce(F.sum("__n").over(w), F.lit(0)) + F.col("__n"))
        ).alias("__c"),
    )
    return contrib.agg(
        F.sum("__p").cast("long").alias("n_pos"),
        F.sum("__n").cast("long").alias("n_neg"),
        F.sum("__c").cast("long").alias("u2"),
    ).select(
        "n_pos",
        "n_neg",
        "u2",
        F.round(
            F.col("u2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
            12,
        ).alias("auc"),
    )


def calibration_report(
    df: DataFrame,
    label_col,
    score_col,
    n_bins: int = 10,
    score_scale: int = 6,
) -> DataFrame:
    """Reliability table + expected calibration error over a [0, 1]
    prediction score: equal-width bins, per-bin confidence (mean score)
    vs accuracy (positive rate), and the |gap| each bin contributes.

    ECE is usually quoted as sum_b (n_b/N) * |acc_b - conf_b|; that is
    algebraically  sum_b |pos_b - sum_score_b| / N, which keeps the
    WHOLE computation exact: pos_b is an integer, sum_score_b is an
    exact decimal sum of the (fixed-scale) scores, and the absolute
    difference of exact decimals is exact — no float-ordering hazard
    even across bins. One scan, one n_bins-cell aggregate; scales
    trivially.

    Scores must be fixed-scale decimals (quantize upstream with integer
    floor-division, never round-half). Returns per-bin rows
    (bin, n, n_pos, conf, acc, abs_gap) plus the corpus-constant ece.
    """
    d = f"decimal(18,{score_scale})"
    s = _c(score_col).cast(d)
    lab = _c(label_col).cast("int")
    # int64 bin id: the DuckDB oracle emits BIGINT for the same floor
    # expression; pin the engine side to long so a dtype-strict gate
    # canonicalizer never sees int32-vs-int64 here (r8 hardening).
    binc = F.least(
        F.floor(s * F.lit(n_bins)).cast("long"), F.lit(n_bins - 1).cast("long")
    ).alias("bin")
    per = df.select(binc, s.alias("__s"), lab.alias("__l")).groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("__l").cast("long").alias("n_pos"),
        F.sum("__s").alias("__ssum"),
    )
    tot = per.agg(
        F.sum("n").cast("double").alias("__N"),
        F.sum(F.abs(F.col("n_pos").cast(f"decimal(38,{score_scale})") - F.col("__ssum")))
        .alias("__gapsum"),
    ).select(
        (F.col("__gapsum").cast("double") / F.col("__N")).alias("__ece")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        (F.col("__ssum").cast("double") / F.col("n").cast("double")).alias("conf"),
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias("acc"),
        F.abs(
            F.col("n_pos").cast("double") / F.col("n").cast("double")
            - F.col("__ssum").cast("double") / F.col("n").cast("double")
        ).alias("abs_gap"),
        F.round("__ece", 12).alias("ece"),
    )


def cohens_kappa(df: DataFrame, a_col, b_col) -> DataFrame:
    """Cohen's kappa between two boolean annotators — chance-corrected
    agreement, THE gate metric before trusting any labeling heuristic
    (or labeling model) enough to filter 100 TB with it.

    kappa = (po - pe) / (1 - pe) with po the observed agreement rate
    and pe the rate two independent annotators with the same marginals
    would agree by chance. Four integer cells from one
    map-side-combinable aggregate; po/pe/kappa are a fixed double
    expression over those integers.

    Returns one row: (n_rows, n_both, n_neither, po, pe, kappa).
    """
    a = _c(a_col).cast("int")
    b = _c(b_col).cast("int")
    agg = df.agg(
        F.count("*").alias("n_rows"),
        F.sum(a).cast("long").alias("__na"),
        F.sum(b).cast("long").alias("__nb"),
        F.sum(a * b).cast("long").alias("n_both"),
        F.sum((F.lit(1) - a) * (F.lit(1) - b)).cast("long").alias("n_neither"),
    )
    n = F.col("n_rows").cast("double")
    na, nb = F.col("__na").cast("double"), F.col("__nb").cast("double")
    po = (F.col("n_both") + F.col("n_neither")).cast("double") / n
    pe = (na * nb + (n - na) * (n - nb)) / (n * n)
    return agg.select(
        "n_rows",
        "n_both",
        "n_neither",
        F.round(po, 12).alias("po"),
        F.round(pe, 12).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 12).alias("kappa"),
    )


def conformal_coverage(
    df: DataFrame,
    score_col,
    is_calibration: Column,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal threshold + empirical test coverage: the
    distribution-free guarantee check behind every "flag the weird 10%"
    production filter.

    The calibration split's (1-alpha) conformal quantile uses the
    finite-sample rank k = ceil((n_cal + 1) * (1 - alpha)); the
    threshold is the k-th smallest calibration score, and coverage is
    the share of TEST scores <= threshold (guaranteed >= 1-alpha in
    expectation under exchangeability).

    The order statistic is found per-distinct-score (count + running
    cumulative over the sorted distinct scores), never by ranking rows
    — the q66 exact-percentile discipline. The threshold is an actual
    data value (no arithmetic), so it ports bit-exactly.

    Returns one row:
    (n_cal, n_test, k, threshold, target, coverage).
    """
    s = _c(score_col)
    tagged = df.select(
        s.alias("__s"), is_calibration.cast("int").alias("__cal")
    )
    per = tagged.groupBy("__s").agg(
        F.sum("__cal").cast("long").alias("__nc"),
        F.sum(F.lit(1) - F.col("__cal")).cast("long").alias("__nt"),
    )
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "__s", "__nc", "__nt", F.sum("__nc").over(w).alias("__cum")
    )
    stats = per.agg(
        F.sum("__nc").cast("long").alias("n_cal"),
        F.sum("__nt").cast("long").alias("n_test"),
    ).select(
        "n_cal",
        "n_test",
        F.least(
            F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - alpha)).cast("long"),
            F.col("n_cal"),
        ).alias("k"),
    )
    thr = (
        cum.crossJoin(F.broadcast(stats))
        .filter(F.col("__cum") >= F.col("k"))
        .groupBy("n_cal", "n_test", "k")
        .agg(F.min("__s").alias("threshold"))
    )
    # coverage from the SAME distinct-score table (sum the per-score
    # test counts at-or-below the threshold) — never a second raw scan
    covered = (
        per.crossJoin(F.broadcast(thr.select("threshold")))
        .agg(
            F.sum(
                F.when(F.col("__s") <= F.col("threshold"), F.col("__nt")).otherwise(
                    F.lit(0)
                )
            ).cast("long").alias("__nin")
        )
    )
    return thr.crossJoin(F.broadcast(covered)).select(
        "n_cal",
        "n_test",
        "k",
        "threshold",
        F.round(F.lit(1.0 - alpha), 12).alias("target"),
        F.round(
            F.col("__nin").cast("double") / F.col("n_test").cast("double"), 12
        ).alias("coverage"),
    )


def decision_stump(
    df: DataFrame,
    label_col,
    score_col,
) -> DataFrame:
    """Best binary split (decision stump) of a numeric feature against a
    binary label by weighted Gini impurity — the single-feature
    screening pass a feature-selection or shallow-tree job runs over
    every candidate column.

    Same scaffold as :func:`roc_auc`: rows reduce to per-distinct-score
    (pos, neg) counts, a cumulative window over the sorted distinct
    scores yields every candidate split's left-side counts in one pass,
    and the arithmetic is a fixed double expression over exact integers
    — no per-row ranking, cardinality-bounded window, quantize upstream
    for continuous features. Split predicate is ``score <= threshold``;
    the max score (empty right side) is excluded; ties on impurity
    break toward the smaller threshold.

    Returns one row: (threshold, n_left, n_right, pos_left, pos_right,
    gini_split, gini_root, gain).
    """
    lab = _c(label_col).cast("int")
    per = df.groupBy(_c(score_col).alias("__s")).agg(
        F.sum(lab).cast("long").alias("__p"),
        F.sum(F.lit(1) - lab).cast("long").alias("__n"),
    )
    wc = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "__s",
        F.sum("__p").over(wc).alias("__cp"),
        F.sum("__n").over(wc).alias("__cn"),
        F.sum("__p").over(wall).alias("__P"),
        F.sum("__n").over(wall).alias("__N"),
    ).filter(F.col("__cp") + F.col("__cn") < F.col("__P") + F.col("__N"))
    nl = (F.col("__cp") + F.col("__cn")).cast("double")
    nr = (
        F.col("__P") + F.col("__N") - F.col("__cp") - F.col("__cn")
    ).cast("double")
    n = (F.col("__P") + F.col("__N")).cast("double")
    cp, cn = F.col("__cp").cast("double"), F.col("__cn").cast("double")
    rp = (F.col("__P") - F.col("__cp")).cast("double")
    rn = (F.col("__N") - F.col("__cn")).cast("double")
    gini_l = F.lit(1.0) - (cp / nl) * (cp / nl) - (cn / nl) * (cn / nl)
    gini_r = F.lit(1.0) - (rp / nr) * (rp / nr) - (rn / nr) * (rn / nr)
    w_gini = (nl / n) * gini_l + (nr / n) * gini_r
    pd_, nd = F.col("__P").cast("double"), F.col("__N").cast("double")
    gini_root = F.lit(1.0) - (pd_ / n) * (pd_ / n) - (nd / n) * (nd / n)
    scored = cum.select(
        F.col("__s").alias("threshold"),
        (F.col("__cp") + F.col("__cn")).alias("n_left"),
        (F.col("__P") + F.col("__N") - F.col("__cp") - F.col("__cn")).alias(
            "n_right"
        ),
        F.col("__cp").alias("pos_left"),
        (F.col("__P") - F.col("__cp")).alias("pos_right"),
        w_gini.alias("__g"),
        gini_root.alias("__groot"),
    )
    wbest = Window.orderBy(F.col("__g").asc(), F.col("threshold").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(wbest))
        .filter(F.col("__rn") == 1)
        .select(
            "threshold",
            "n_left",
            "n_right",
            "pos_left",
            "pos_right",
            F.round("__g", 12).alias("gini_split"),
            F.round("__groot", 12).alias("gini_root"),
            F.round(F.col("__groot") - F.col("__g"), 12).alias("gain"),
        )
    )


def mutual_information(df: DataFrame, x_col, y_col) -> DataFrame:
    """Mutual information (and entropies, and NMI) between two
    categorical columns — the dependence screen behind "is `source`
    just a proxy for `lang`?" questions in mixture design, and the
    generic feature-vs-label relevance score.

    MI = sum over cells of p_xy * ln(p_xy / (p_x p_y)); H(X), H(Y)
    likewise from the margins. All counts are exact integers from one
    (x, y) grouped aggregate (margins reduce from the cell table, not
    a second scan); each cell term is a fixed double expression, and
    the cross-cell sums fold in sorted cell order inside codegen (the
    ewma/holt fixed-order discipline — float addition is not
    commutative, so an unordered SUM() of cell terms would not be
    bit-reproducible; ln itself is portable on this stack, the q248
    PSI precedent).

    Cell count is |X| x |Y| — categorical-bounded, not row-bounded.
    Returns one row: (n_rows, n_cells, h_x, h_y, mi, nmi).
    """
    x, y = _c(x_col), _c(y_col)
    cells = df.groupBy(x.alias("__x"), y.alias("__y")).agg(
        F.count("*").alias("__c")
    )
    mx = cells.groupBy("__x").agg(F.sum("__c").alias("__nx"))
    my = cells.groupBy("__y").agg(F.sum("__c").alias("__ny"))
    tot = cells.agg(F.sum("__c").alias("__n"))
    j = (
        cells.join(F.broadcast(mx), "__x")
        .join(F.broadcast(my), "__y")
        .crossJoin(F.broadcast(tot))
    )
    cd = F.col("__c").cast("double")
    nd = F.col("__n").cast("double")
    term = (cd / nd) * F.log(
        (cd * nd) / (F.col("__nx").cast("double") * F.col("__ny").cast("double"))
    )
    terms = j.select(
        "__x", "__y", "__c", "__n", term.alias("__t"),
        (
            (F.col("__nx").cast("double") / nd)
            * F.log(F.col("__nx").cast("double") / nd)
        ).alias("__tx"),
        (
            (F.col("__ny").cast("double") / nd)
            * F.log(F.col("__ny").cast("double") / nd)
        ).alias("__ty"),
    )
    # entropies fold over DISTINCT margin terms (one per x / per y),
    # MI over all cells — each in sorted order
    mi_fold = F.aggregate(
        F.array_sort(F.collect_list(F.struct("__x", "__y", F.col("__t")))),
        F.lit(0.0),
        lambda acc, s: acc + s["__t"],
    )
    hx_fold = F.aggregate(
        F.array_sort(F.collect_list(F.struct("__x", "__tx"))),
        F.lit(0.0),
        lambda acc, s: acc - s["__tx"],
    )
    hy_fold = F.aggregate(
        F.array_sort(F.collect_list(F.struct("__y", "__ty"))),
        F.lit(0.0),
        lambda acc, s: acc - s["__ty"],
    )
    hx_terms = terms.select("__x", "__tx").distinct()
    hy_terms = terms.select("__y", "__ty").distinct()
    agg_mi = terms.agg(
        F.max("__n").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_cells"),
        mi_fold.alias("__mi"),
    )
    agg_hx = hx_terms.agg(hx_fold.alias("__hx"))
    agg_hy = hy_terms.agg(hy_fold.alias("__hy"))
    return (
        agg_mi.crossJoin(F.broadcast(agg_hx))
        .crossJoin(F.broadcast(agg_hy))
        .select(
            "n_rows",
            "n_cells",
            F.round("__hx", 12).alias("h_x"),
            F.round("__hy", 12).alias("h_y"),
            F.round("__mi", 12).alias("mi"),
            F.round(
                F.col("__mi") / F.sqrt(F.col("__hx") * F.col("__hy")), 12
            ).alias("nmi"),
        )
    )


# Cumulative Poisson(1) CDF in micro-units (floor(cdf * 1e6) for
# k = 0..9; u in [0, 1e6) with u >= all thresholds -> multiplicity 10).
# HARDCODED decimal literals shared with the SQL oracle — never two
# engines' exp/factorial (the Benford-shares discipline).
_POISSON1_CDF_MICRO = [
    367879, 735758, 919698, 981011, 996340,
    999405, 999916, 999989, 999998, 999999,
]
_HASH_P = 1000000007


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col,
    id_col,
    b: int = 50,
    scale: int = 2,
    alpha: float = 0.05,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean — THE
    distributed bootstrap: instead of resampling n rows with
    replacement (which needs global coordination), each row enters
    resample ``j`` with multiplicity ~ Poisson(1), independent per
    (row, resample). For large n this converges to the multinomial
    bootstrap, and every resample is computable in the SAME single
    scan.

    Determinism: the multiplicity comes from an arithmetic hash of
    (id, j) mapped through the HARDCODED Poisson(1) CDF table
    (micro-unit integer thresholds — never a seeded RNG, never two
    engines' exp()); weighted sums are exact decimals; each resample
    mean is one double division; the CI bounds are order statistics of
    the ``b`` means (doubles derived identically on any engine, so the
    selection is bit-reproducible).

    Scale: the explode multiplies rows by ``b`` but the whole job is
    still one map-side-combinable aggregate to ``b`` cells — at 100 TB
    run it on pre-aggregated partials the same way. Returns one row:
    (n_rows, n_resamples, est, ci_lo, ci_hi).
    """
    d = f"decimal(18,{scale})"
    v = _c(value_col).cast(d)
    k = _c(id_col).cast("long")
    base = df.select(v.alias("__v"), k.alias("__id"))
    est = base.agg(
        F.count("*").alias("n_rows"),
        (F.sum("__v").cast("double") / F.count("*").cast("double")).alias("est"),
    )
    expl = base.select(
        "__v",
        "__id",
        F.explode(F.array(*[F.lit(j) for j in range(b)])).alias("__j"),
    )
    mix = (F.col("__id") % _HASH_P) * 53 + F.col("__j")
    u = (
        (mix % _HASH_P) * F.lit(2654435761).cast("long")
    ) % _HASH_P * 524287 % _HASH_P % 1000000
    m = sum(
        (u >= F.lit(t)).cast("int") for t in _POISSON1_CDF_MICRO
    )
    per = expl.select("__v", "__j", m.alias("__m")).groupBy("__j").agg(
        F.sum(F.col("__m") * F.col("__v")).alias("__ws"),
        F.sum("__m").cast("long").alias("__wn"),
    ).filter(F.col("__wn") > 0).select(
        "__j",
        (F.col("__ws").cast("double") / F.col("__wn").cast("double")).alias(
            "__mean"
        ),
    )
    k_lo = max(1, math.ceil(b * (alpha / 2)))
    k_hi = math.ceil(b * (1 - alpha / 2))
    wlo = Window.orderBy(F.col("__mean").asc(), F.col("__j").asc())
    ranked = per.select(
        "__mean", F.row_number().over(wlo).alias("__rn")
    )
    ci = ranked.agg(
        F.max(F.when(F.col("__rn") == k_lo, F.col("__mean"))).alias("ci_lo"),
        F.max(F.when(F.col("__rn") == k_hi, F.col("__mean"))).alias("ci_hi"),
        F.count("*").cast("long").alias("n_resamples"),
    )
    return est.crossJoin(F.broadcast(ci)).select(
        "n_rows", "n_resamples", "est", "ci_lo", "ci_hi"
    )


def correlation_matrix(
    df: DataFrame,
    cols: list[str],
    scale: int = 2,
) -> DataFrame:
    """Full Pearson correlation matrix over k numeric columns from ONE
    aggregation pass — k sums, k sums-of-squares, and k*(k-1)/2
    cross-moments, all exact decimals, then each pairwise r as a fixed
    double expression (q85's two-column discipline generalized to the
    feature-screening matrix). At 100 TB this is the only acceptable
    shape: one scan, a (k^2+3k)/2-cell partial aggregate, zero
    row-level reshuffling; built-in corr() would both re-scan per pair
    and accumulate order-dependent double co-moments.

    Returns the upper triangle as rows: (col_a, col_b, n_rows, corr)
    with corr rounded to 12 (|r| <= 1, engine-safe).
    """
    d = f"decimal(18,{scale})"
    cs = {c: _c(c).cast(d) for c in cols}
    aggs = [F.count("*").alias("n")]
    for c in cols:
        aggs.append(F.sum(cs[c]).cast("double").alias(f"s_{c}"))
        aggs.append(F.sum(cs[c] * cs[c]).cast("double").alias(f"ss_{c}"))
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1:]
    ]
    for a, b2 in pairs:
        aggs.append(F.sum(cs[a] * cs[b2]).cast("double").alias(f"sx_{a}_{b2}"))
    one = df.agg(*aggs)
    n = F.col("n").cast("double")
    structs = []
    for a, b2 in pairs:
        num = n * F.col(f"sx_{a}_{b2}") - F.col(f"s_{a}") * F.col(f"s_{b2}")
        den = F.sqrt(
            (n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
            * (n * F.col(f"ss_{b2}") - F.col(f"s_{b2}") * F.col(f"s_{b2}"))
        )
        structs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b2).alias("col_b"),
                F.col("n").alias("n_rows"),
                F.round(num / den, 12).alias("corr"),
            )
        )
    return one.select(
        F.explode(F.array(*structs)).alias("__p")
    ).select("__p.col_a", "__p.col_b", "__p.n_rows", "__p.corr")


def woe_iv(
    df: DataFrame,
    feature_col,
    label_col,
    smoothing: float = 0.5,
) -> DataFrame:
    """Weight of Evidence / Information Value per feature category —
    the credit-scoring-era readout that still rules feature screening
    for binary targets: WOE_c = ln(P(c|pos) / P(c|neg)) measures how a
    category shifts the odds, and IV = sum_c (P(c|pos) - P(c|neg)) *
    WOE_c summarizes the feature's separating power (rule of thumb:
    < 0.02 useless, > 0.5 suspicious).

    Laplace smoothing (``smoothing`` added per cell against the
    category count) keeps empty cells finite. Counts are exact
    integers from one grouped aggregate; shares, WOE, and IV terms are
    fixed double expressions rounded to 12 (the q248 PSI ln
    discipline). The total IV joins back via a broadcast 1-row
    aggregate.

    Returns one row per category: (category, n_pos, n_neg, woe,
    iv_term, iv_total).

    Scale: one shuffle on the category key + a 1-row broadcast; the
    category table is vocabulary-sized, never data-sized.
    """
    lab = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("int")
    cat = F.col(feature_col) if isinstance(feature_col, str) else feature_col
    per = df.select(cat.alias("category"), lab.alias("__y")).groupBy(
        "category"
    ).agg(
        F.sum("__y").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("__y")).cast("long").alias("n_neg"),
    )
    tot = per.agg(
        F.sum("n_pos").cast("long").alias("__tp"),
        F.sum("n_neg").cast("long").alias("__tn"),
        F.count("*").cast("long").alias("__k"),
    )
    j = per.crossJoin(F.broadcast(tot))
    s = F.lit(float(smoothing))
    p = (F.col("n_pos") + s) / (
        F.col("__tp").cast("double") + s * F.col("__k").cast("double")
    )
    q = (F.col("n_neg") + s) / (
        F.col("__tn").cast("double") + s * F.col("__k").cast("double")
    )
    woe = F.round(F.log(p / q), 12)
    term = F.round((p - q) * F.log(p / q), 12)
    scored = j.select("category", "n_pos", "n_neg",
                      woe.alias("woe"), term.alias("iv_term"))
    iv = scored.agg(
        F.round(
            F.sum(F.col("iv_term").cast("decimal(28,12)")).cast("double"), 12
        ).alias("iv_total")
    )
    return scored.crossJoin(F.broadcast(iv))


def pvm_bridge(
    df: DataFrame,
    key_col: str,
    period_col: str,
    qty_col: str,
    price_cents_col: str,
    period_a,
    period_b,
) -> DataFrame:
    """Price-Volume-Mix revenue bridge: decompose the revenue change
    between two periods, per key, into the three classic FP&A effects

        volume = (q1 - q0) * p0        (sold more/less at old price)
        price  = q0 * (p1 - p0)        (repriced the old volume)
        cross  = (q1 - q0) * (p1 - p0) (interaction / mix residual)

    which sum EXACTLY to rev1 - rev0 (an algebraic identity — kept
    exact here because every term is integer quantity x integer cents,
    aggregated as decimals). Keys present in only one period
    contribute whole-revenue volume effects via zero-fill.

    Returns per key: (key, rev_a_cents, rev_b_cents, delta_cents,
    volume_effect_micro, price_effect_micro, cross_effect_micro).
    Average prices are floor-scaled to exact integer MICRO-cents, the
    volume/price effects multiply those integers, and the micro-cent
    rounding residue is folded into the cross term — so on every row

        volume + price + cross == delta_cents * 10000   (exactly).

    Scale: one grouped aggregate per period side + one full-outer
    equi-join on the key; everything downstream is arithmetic.
    """
    d38 = "decimal(38,0)"

    def side(period, q_alias, r_alias):
        return (
            df.filter(F.col(period_col) == period)
            .groupBy(key_col)
            .agg(
                F.sum(F.col(qty_col).cast(d38)).alias("__q"),
                F.sum(
                    (
                        F.col(qty_col).cast(d38)
                        * F.col(price_cents_col).cast(d38)
                    ).cast(d38)
                ).alias("__r"),
            )
            .select(
                key_col,
                F.col("__q").cast("long").alias(q_alias),
                F.col("__r").cast("long").alias(r_alias),
            )
        )

    a = side(period_a, "qty_a", "rev_a_cents")
    b = side(period_b, "qty_b", "rev_b_cents")
    j = a.join(b, on=key_col, how="full_outer").select(
        key_col,
        F.coalesce("qty_a", F.lit(0)).alias("qty_a"),
        F.coalesce("qty_b", F.lit(0)).alias("qty_b"),
        F.coalesce("rev_a_cents", F.lit(0)).alias("rev_a_cents"),
        F.coalesce("rev_b_cents", F.lit(0)).alias("rev_b_cents"),
    )
    # average prices floor-scaled to integer micro-cents; (r - r % q)
    # is divisible by q, so the double division below is exact
    q0, q1 = F.col("qty_a"), F.col("qty_b")
    r0, r1 = (
        F.col("rev_a_cents") * F.lit(10000),
        F.col("rev_b_cents") * F.lit(10000),
    )
    p0 = F.when(q0 > 0, ((r0 - r0 % q0) / q0).cast("long")).otherwise(
        F.lit(0)
    )
    p1 = F.when(q1 > 0, ((r1 - r1 % q1) / q1).cast("long")).otherwise(
        F.lit(0)
    )
    volume = ((q1 - q0) * p0).cast("long")
    price = (q0 * (p1 - p0)).cast("long")
    cross = (r1 - r0).cast("long") - volume - price
    return j.select(
        key_col,
        "rev_a_cents",
        "rev_b_cents",
        (F.col("rev_b_cents") - F.col("rev_a_cents")).alias("delta_cents"),
        volume.alias("volume_effect_micro"),
        price.alias("price_effect_micro"),
        cross.alias("cross_effect_micro"),
    )


def pair_eval(
    predicted: DataFrame,
    gold: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Pairwise precision / recall / F1 for entity-resolution and
    dedup candidates: ``predicted`` and ``gold`` are pair tables; a
    pair matches regardless of orientation. This closes the loop on
    the blocking/matching family (q50/q230/q296): blocking recall
    claims become a measured number.

    Pairs are canonicalized to (least, greatest) and deduplicated on
    BOTH sides first, so double-emitted or flipped pairs cannot
    inflate any count. tp is one semi-join; the three metrics are
    fixed double expressions over exact integers (0/0 guards -> NULL).

    Returns ONE row: (n_pred, n_gold, tp, fp, fn, precision, recall,
    f1).

    Scale: two distinct shuffles + one equi-join on the canonical pair
    key.
    """

    def canon(df):
        a, b = F.col(id_a), F.col(id_b)
        return df.select(
            F.least(a, b).alias("__a"), F.greatest(a, b).alias("__b")
        ).distinct()

    p = canon(predicted)
    g = canon(gold)
    # one DAG, no driver-side counts: three 1-row aggregates cross-join
    row = (
        p.agg(F.count("*").cast("long").alias("n_pred"))
        .crossJoin(g.agg(F.count("*").cast("long").alias("n_gold")))
        .crossJoin(
            p.join(g, on=["__a", "__b"], how="left_semi").agg(
                F.count("*").cast("long").alias("tp")
            )
        )
    )
    prec = F.when(
        F.col("n_pred") > 0,
        F.col("tp").cast("double") / F.col("n_pred").cast("double"),
    )
    rec = F.when(
        F.col("n_gold") > 0,
        F.col("tp").cast("double") / F.col("n_gold").cast("double"),
    )
    f1 = F.when(
        (F.col("n_pred") > 0)
        & (F.col("n_gold") > 0)
        & (F.col("tp") > 0),
        F.lit(2.0)
        * F.col("tp").cast("double")
        / (F.col("n_pred") + F.col("n_gold")).cast("double"),
    ).otherwise(
        F.when(
            (F.col("n_pred") > 0) & (F.col("n_gold") > 0), F.lit(0.0)
        )
    )
    return row.select(
        "n_pred", "n_gold", "tp",
        (F.col("n_pred") - F.col("tp")).alias("fp"),
        (F.col("n_gold") - F.col("tp")).alias("fn"),
        prec.alias("precision"),
        rec.alias("recall"),
        f1.alias("f1"),
    )


def metric_drivers(
    df: DataFrame,
    segment_cols: list[str],
    period_col: str,
    cents_col,
    period_a,
    period_b,
) -> DataFrame:
    """KPI driver decomposition: which segments drove the metric's
    change between two periods? Per segment: the exact delta, its
    share of the TOTAL delta, and an impact rank by |delta| — the
    "root-cause the dashboard move" readout that turns "revenue is
    down 4%" into "two segments did it".

    Exact integer cents per segment-period from one grouped aggregate;
    segments missing from a period zero-fill via the full-outer join.
    ``delta_share`` is one double division against the total delta
    (NULL when the total nets to zero — shares of nothing are
    undefined, not infinite). Rank ties break by segment for
    determinism.

    Scale: one grouped aggregate + one full-outer segment join + a
    window over the SEGMENT table (cardinality-bounded).
    """
    cents = (
        F.col(cents_col) if isinstance(cents_col, str) else cents_col
    ).cast("decimal(38,0)")

    def side(period, alias):
        return (
            df.filter(F.col(period_col) == period)
            .groupBy(*segment_cols)
            .agg(F.sum(cents).cast("long").alias(alias))
        )

    a = side(period_a, "cents_a")
    b = side(period_b, "cents_b")
    j = a.join(b, on=segment_cols, how="full_outer").select(
        *segment_cols,
        F.coalesce("cents_a", F.lit(0)).alias("cents_a"),
        F.coalesce("cents_b", F.lit(0)).alias("cents_b"),
    ).withColumn("delta_cents", F.col("cents_b") - F.col("cents_a"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rank = Window.orderBy(
        F.abs(F.col("delta_cents")).desc(), *[F.col(c) for c in segment_cols]
    )
    out = j.withColumn(
        "total_delta_cents", F.sum("delta_cents").over(w_all).cast("long")
    ).withColumn(
        "delta_share",
        F.when(
            F.col("total_delta_cents") != 0,
            F.col("delta_cents").cast("double")
            / F.col("total_delta_cents").cast("double"),
        ),
    ).withColumn("impact_rank", F.row_number().over(w_rank).cast("long"))
    return out


def gains_table(
    df: DataFrame,
    score_col,
    label_col,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table: rank by model score descending,
    cut into deciles, and report each decile's positive capture and
    lift over random — the campaign-targeting readout ("mail the top 2
    deciles, get 60% of responders") that complements ROC-AUC (q266)
    with an actionable operating table.

    Deciles come from NTILE over (score DESC, id ASC) — deterministic
    under score ties. Counts are exact integers; capture and lift are
    double divisions of exact integers against broadcast totals.

    Returns per bucket: (bucket, n, positives, cum_positives,
    capture_rate, lift).

    Scale: the NTILE window is a global ordering — at warehouse scale
    feed it ALREADY-aggregated scoring units (users, not events), or
    swap the exact NTILE for equi-depth score bins (dq.
    equidepth_histogram) — same table, sketch-bounded.
    """
    s = _c(score_col)
    lab = _c(label_col).cast("int")
    ranked = df.select(
        s.alias("__s"), lab.alias("__y"), F.col(id_col).alias("__id")
    ).withColumn(
        "bucket",
        F.ntile(n_buckets).over(
            Window.orderBy(F.col("__s").desc(), F.col("__id").asc())
        ),
    )
    per = ranked.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__y").cast("long").alias("positives"),
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = per.withColumn(
        "cum_positives", F.sum("positives").over(w_cum).cast("long")
    ).withColumn("__tp", F.sum("positives").over(w_all)).withColumn(
        "__tn", F.sum("n").over(w_all)
    )
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        "n",
        "positives",
        "cum_positives",
        (
            F.col("cum_positives").cast("double")
            / F.col("__tp").cast("double")
        ).alias("capture_rate"),
        (
            (F.col("positives").cast("double") / F.col("n").cast("double"))
            / (F.col("__tp").cast("double") / F.col("__tn").cast("double"))
        ).alias("lift"),
    )


def average_precision(
    df: DataFrame,
    label_col,
    score_col,
    id_col,
    quantize: int | None = None,
) -> DataFrame:
    """Exact average precision (area under the precision-recall curve,
    the ranking-eval companion of :func:`roc_auc` for imbalanced
    labels) under the deterministic total order (score DESC, id ASC):

        AP = (1/P) * sum over positives j=1..P of  j / rank_j

    where rank_j is the j-th positive's 1-based global rank. NO global
    row sort: ranks come from the two-phase discipline — per-distinct-
    score counts, ONE ordered window over the (cardinality-bounded)
    distinct-score table for offsets, then partition-LOCAL row_number
    within each score group, tie-broken by the unique id. ``quantize``
    floor-quantizes continuous scores to cap the distinct-score
    cardinality at warehouse scale.

    The per-positive terms j/rank are single double divisions summed
    through decimal(38,15) (order-independent); one final division by
    P. Returns one row: (n_pos, n_rows, ap).
    """
    s = _c(score_col)
    if quantize is not None:
        s = F.floor(s * F.lit(10**quantize)).cast("long")
    lab = _c(label_col).cast("int")
    rows = df.select(
        _c(id_col).alias("__id"), lab.alias("__y"), s.alias("__s")
    )
    per = rows.groupBy("__s").agg(
        F.count("*").cast("long").alias("__g"),
        F.sum("__y").cast("long").alias("__gp"),
    )
    # offsets over distinct scores DESC: rows/positives ranked above
    # this score group (metadata-sized window input)
    w = Window.orderBy(F.col("__s").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per.select(
        "__s",
        F.coalesce(F.sum("__g").over(w), F.lit(0)).alias("__off"),
        F.coalesce(F.sum("__gp").over(w), F.lit(0)).alias("__offp"),
    )
    j = rows.join(F.broadcast(offsets), "__s")
    wg = Window.partitionBy("__s").orderBy("__id")
    ranked = j.withColumn("__rank", F.col("__off") + F.row_number().over(wg))
    wp = Window.partitionBy("__s").orderBy("__id")
    pos = (
        ranked.filter(F.col("__y") == 1)
        .withColumn("__j", F.col("__offp") + F.row_number().over(wp))
    )
    terms = pos.select(
        (
            F.col("__j").cast("double") / F.col("__rank").cast("double")
        ).cast("decimal(38,15)").alias("__term")
    )
    totals = rows.agg(
        F.sum("__y").cast("long").alias("n_pos"),
        F.count("*").cast("long").alias("n_rows"),
    )
    return terms.agg(F.sum("__term").alias("__sum")).crossJoin(
        F.broadcast(totals)
    ).select(
        "n_pos",
        "n_rows",
        F.round(
            F.col("__sum").cast("double") / F.col("n_pos").cast("double"), 12
        ).alias("ap"),
    )


def brier_decomposition(
    df: DataFrame,
    label_col,
    score_col,
    n_bins: int = 10,
    score_scale: int = 6,
) -> DataFrame:
    """Murphy decomposition of the Brier score — the calibration
    readout that separates WHY a probabilistic score is bad:

        BS          = (1/N) sum (s_i - y_i)^2
        reliability = (1/N) sum_b n_b (conf_b - acc_b)^2   (miscalibration)
        resolution  = (1/N) sum_b n_b (acc_b - ybar)^2     (discrimination)
        uncertainty = ybar (1 - ybar)
        within_bin  = BS - (rel - res + unc)   (binning residual: 0 when
                      forecasts are constant within bins)

    Complements ECE (q267: L1 gaps) with the quadratic scoring-rule
    view. Exactness: scores are fixed-scale decimals, so sum(s),
    sum(s^2), sum(s*y) are exact decimal aggregates and BS's numerator
    never touches float summation; per-bin squares are single doubles
    from exact decimals, decimal-summed across the <= n_bins rows.
    One scan + one n_bins-cell aggregate. Returns ONE row.
    """
    d = f"decimal(18,{score_scale})"
    s = _c(score_col).cast(d)
    lab = _c(label_col).cast("int")
    binc = F.least(
        F.floor(s * F.lit(n_bins)).cast("int"), F.lit(n_bins - 1)
    ).alias("bin")
    per = df.select(binc, s.alias("__s"), lab.alias("__l")).groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__l").cast("long").alias("n_pos"),
        F.sum("__s").alias("__ssum"),
        F.sum((F.col("__s") * F.col("__s"))).alias("__s2sum"),
        F.sum(F.when(F.col("__l") == 1, F.col("__s")).otherwise(
            F.lit(0).cast(d))).alias("__sysum"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("__N"),
        F.sum("n_pos").cast("long").alias("__P"),
        F.sum("__ssum").alias("__S"),
        F.sum("__s2sum").alias("__S2"),
        F.sum("__sysum").alias("__SY"),
    )
    joined = per.crossJoin(F.broadcast(tot))
    conf = F.col("__ssum").cast("double") / F.col("n").cast("double")
    acc = F.col("n_pos").cast("double") / F.col("n").cast("double")
    ybar = F.col("__P").cast("double") / F.col("__N").cast("double")
    rel_term = (F.col("n").cast("double") * (conf - acc) * (conf - acc)).cast(
        "decimal(38,15)"
    )
    res_term = (F.col("n").cast("double") * (acc - ybar) * (acc - ybar)).cast(
        "decimal(38,15)"
    )
    agg = joined.agg(
        F.max("__N").alias("__N"),
        F.max("__P").alias("__P"),
        F.max("__S2").alias("__S2"),
        F.max("__SY").alias("__SY"),
        F.sum(rel_term).cast("double").alias("__rel"),
        F.sum(res_term).cast("double").alias("__res"),
    )
    N = F.col("__N").cast("double")
    ybar2 = F.col("__P").cast("double") / N
    brier = (
        F.col("__S2").cast("double")
        - 2.0 * F.col("__SY").cast("double")
        + F.col("__P").cast("double")
    ) / N
    rel = F.col("__rel") / N
    res = F.col("__res") / N
    unc = ybar2 * (F.lit(1.0) - ybar2)
    return agg.select(
        F.col("__N").alias("n"),
        F.round(brier, 12).alias("brier"),
        F.round(rel, 12).alias("reliability"),
        F.round(res, 12).alias("resolution"),
        F.round(unc, 12).alias("uncertainty"),
        F.round(brier - (rel - res + unc), 12).alias("within_bin_term"),
    )


def loo_ols_influence(
    df: DataFrame,
    group_col: str,
    y_col,
    x1_col,
    x2_col,
    scale: int = 2,
) -> DataFrame:
    """Leave-one-GROUP-out OLS influence — data valuation by source:
    refit the regression with each group (source/supplier/day) REMOVED
    and report how much the coefficients move. The sketch trick makes
    every refit free: OLS needs only the 10 sufficient moments, exact
    decimal sums are SUBTRACTABLE, so LOO moments = total - group is
    one exact decimal subtraction per group — no second data pass, no
    per-group refit job. The operator that turns "which upstream feed
    is bending our elasticity estimate" from N full scans into one.

    One grouped moment aggregate (map-side combined), totals reduced
    from the group table, the identical fixed-IEEE Cramer readout on
    the LOO moments. Returns per group: (group, n_rows, beta1_loo,
    beta2_loo, d_beta1, d_beta2) — deltas vs the full fit, rounded 12.
    """
    d = f"decimal(18,{scale})"
    y, x1, x2 = _c(y_col).cast(d), _c(x1_col).cast(d), _c(x2_col).cast(d)
    moms = {
        "s1": x1, "s2": x2, "sy": y,
        "s11": x1 * x1, "s12": x1 * x2, "s22": x2 * x2,
        "s1y": x1 * y, "s2y": x2 * y, "syy": y * y,
    }
    per = df.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_rows"),
        *[F.sum(expr).alias(f"__g_{k}") for k, expr in moms.items()],
    )
    tot = per.agg(
        F.sum("n_rows").cast("long").alias("__t_n"),
        *[F.sum(f"__g_{k}").alias(f"__t_{k}") for k in moms],
    )
    full = tot.select(
        F.col("__t_n").alias("n_rows"),
        *[F.col(f"__t_{k}").cast("double").alias(k) for k in moms],
    ).select(*_ols_readout()).select(
        F.col("beta1").alias("__full_b1"), F.col("beta2").alias("__full_b2")
    )
    loo = per.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.col("n_rows"),
        (F.col("__t_n") - F.col("n_rows")).alias("__loo_n"),
        *[
            (F.col(f"__t_{k}") - F.col(f"__g_{k}")).cast("double").alias(k)
            for k in moms
        ],
    )
    fitted = loo.select(
        group_col,
        F.col("n_rows"),
        F.col("__loo_n").alias("n_rows_loo"),
        *[F.col(k) for k in moms],
    ).withColumn("__keep_n", F.col("n_rows")).drop("n_rows").withColumnRenamed(
        "n_rows_loo", "n_rows"
    )
    readout = fitted.select(
        group_col, F.col("__keep_n").alias("n_rows"), *_ols_readout()
    )
    # betas can be magnitude 1e2-1e3: round at 6 (12 would ask for
    # > 15 significant digits — the q265 no-rounding lesson); deltas
    # are small, 9 collapses cross-engine ulp noise safely
    return readout.crossJoin(F.broadcast(full)).select(
        group_col,
        "n_rows",
        F.round("beta1", 6).alias("beta1_loo"),
        F.round("beta2", 6).alias("beta2_loo"),
        F.round(F.col("beta1") - F.col("__full_b1"), 9).alias("d_beta1"),
        F.round(F.col("beta2") - F.col("__full_b2"), 9).alias("d_beta2"),
    )


def f1_from_confusion(
    conf: DataFrame,
    true_col: str = "true_label",
    pred_col: str = "pred_label",
    n_col: str = "n",
) -> DataFrame:
    """Per-class precision/recall/F1 plus macro- and micro-F1 from a
    (true, pred, n) CONFUSION TABLE — metadata-sized input by design,
    so the expensive part (scoring) happens once upstream (e.g.
    q261's nearest-centroid assignment) and every evaluation readout
    is arithmetic on #classes^2 rows.

        TP_c = n(c, c);  FP_c = sum over t != c of n(t, c)
        FN_c = sum over p != c of n(c, p)
        micro-F1 = sum TP / total  (single-label: accuracy)
        macro-F1 = unweighted decimal mean of per-class F1

    Zero-support or never-predicted classes score precision/recall 0
    by the sklearn zero-division=0 convention (explicit, not NULL —
    averaging must see them). Returns one row per class appearing as
    a TRUE label, with the constant macro/micro columns alongside.
    """
    t = conf.select(
        F.col(true_col).alias("__c"),
        F.col(pred_col).alias("__p"),
        F.col(n_col).cast("long").alias("__n"),
    )
    per_true = t.groupBy("__c").agg(
        F.sum("__n").alias("support"),
        F.sum(F.when(F.col("__p") == F.col("__c"), F.col("__n")).otherwise(0))
        .alias("tp"),
    )
    per_pred = t.groupBy(F.col("__p").alias("__c")).agg(
        F.sum("__n").alias("__pred_n")
    )
    per = per_true.join(per_pred, "__c", "left").select(
        "__c",
        F.col("support").cast("long").alias("support"),
        F.col("tp").cast("long").alias("tp"),
        (F.coalesce(F.col("__pred_n"), F.lit(0)) - F.col("tp"))
        .cast("long").alias("fp"),
        (F.col("support") - F.col("tp")).cast("long").alias("fn"),
    )
    prec = F.when(
        (F.col("tp") + F.col("fp")) > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"),
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("support") > 0,
        F.col("tp").cast("double") / F.col("support").cast("double"),
    ).otherwise(F.lit(0.0))
    scored = per.select(
        "__c", "support", "tp", "fp", "fn",
        prec.alias("precision"), rec.alias("recall"),
    ).withColumn(
        "f1",
        F.when(
            (F.col("precision") + F.col("recall")) > 0,
            2.0 * F.col("precision") * F.col("recall")
            / (F.col("precision") + F.col("recall")),
        ).otherwise(F.lit(0.0)),
    )
    summary = scored.agg(
        (
            F.sum(F.col("f1").cast("decimal(38,15)")).cast("double")
            / F.count("*").cast("double")
        ).alias("__macro"),
        (
            F.sum("tp").cast("double") / F.sum("support").cast("double")
        ).alias("__micro"),
    )
    return scored.crossJoin(F.broadcast(summary)).select(
        F.col("__c").alias("label"),
        "support", "tp", "fp", "fn",
        F.round("precision", 12).alias("precision"),
        F.round("recall", 12).alias("recall"),
        F.round("f1", 12).alias("f1"),
        F.round("__macro", 12).alias("macro_f1"),
        F.round("__micro", 12).alias("micro_f1"),
    )


def isotonic_calibration(
    df: DataFrame,
    score_col,
    label_col,
) -> DataFrame:
    """Isotonic (PAV) calibration curve: the best monotone-non-
    decreasing fit of P(y=1 | score) — the non-parametric recalibrator
    that turns a ranking score into a probability, and the diagnostic
    that shows WHERE a model is miscalibrated without binning bias
    (the binned companion is calibration_report / q267).

    Computed by the minimax characterization of isotonic regression

        fit(i) = MAX over j <= i of MIN over k >= i of mean(y[j..k])

    (means weighted by per-score counts) — closed-form, no sequential
    pool-adjacent-violators loop, so it parallelizes and replays in
    SQL. The pipeline:

    1. ONE data-sized aggregation to per-distinct-score (n, n_pos);
    2. prefix sums over the distinct scores (ordered window — input
       bounded by score CARDINALITY, not rows: the roc_auc contract;
       quantize continuous scores first);
    3. the k^2 interval means m(j,k) via a range self-join of the
       distinct-score table, then two windows: a reverse running MIN
       within start j (giving min over k >= i), and a running MAX
       within end i (giving max over j <= i).

    Interval means are single double divisions of exact integer sums;
    MIN/MAX over doubles are exact — bit-reproducible on any engine.

    Returns (score, n, n_pos, empirical_rate, isotonic_rate) per
    distinct score, isotonic_rate non-decreasing in score.
    """
    s = _c(score_col)
    y = _c(label_col).cast("int")
    per = (
        df.select(s.alias("s"), y.alias("y"))
        .groupBy("s")
        .agg(F.count("*").cast("long").alias("n"),
             F.sum("y").cast("long").alias("n_pos"))
    )
    w_ord = Window.orderBy("s")
    idx = per.select(
        "s", "n", "n_pos",
        F.row_number().over(w_ord).alias("i"),
        F.sum("n").over(w_ord).cast("long").alias("cn"),
        F.sum("n_pos").over(w_ord).cast("long").alias("cy"),
    )
    a = idx.select(
        F.col("i").alias("j"),
        (F.col("cn") - F.col("n")).alias("cn0"),
        (F.col("cy") - F.col("n_pos")).alias("cy0"),
    )
    b = idx.select(
        F.col("i").alias("k"), F.col("cn").alias("cnk"),
        F.col("cy").alias("cyk"),
    )
    pairs = a.crossJoin(b).filter(F.col("j") <= F.col("k")).select(
        "j", "k",
        (
            (F.col("cyk") - F.col("cy0")).cast("double")
            / (F.col("cnk") - F.col("cn0")).cast("double")
        ).alias("m"),
    )
    w_min = (
        Window.partitionBy("j")
        .orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_max = (
        Window.partitionBy("k")
        .orderBy(F.col("j").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fit = (
        pairs.withColumn("mn", F.min("m").over(w_min))
        .withColumn("fit", F.max("mn").over(w_max))
        .filter(F.col("j") == F.col("k"))
        .select(F.col("k").alias("i"), "fit")
    )
    return idx.join(fit, "i").select(
        F.col("s").alias("score"),
        "n", "n_pos",
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
            "empirical_rate"
        ),
        F.col("fit").alias("isotonic_rate"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_distinct: int | None = 100_000,
) -> DataFrame:
    """Spearman rank correlation with tie midranks — the monotone-
    association readout robust to outliers and nonlinearity that
    Pearson (:func:`correlation_matrix`) misses; the standard screen
    for "does quality score track engagement" style questions.

    QUANTIZED-INPUT CONTRACT (the :func:`kendall_tau_b` rule): the
    midrank windows run over each column's DISTINCT-VALUE table, which
    is single-partition by design (post-aggregate-window contract) —
    valid only when the columns are quantized/ordinal so that table is
    metadata-sized. A continuous column would silently funnel n rows
    into one window partition; ``max_distinct`` guards it: the plan
    raises (executor-side assert, no extra job) when either column
    exceeds it — band/quantize upstream instead of raising the knob.
    ``None`` disables the guard for callers that pre-checked.

    rho = Pearson correlation of the midranks. Scalable shape: each
    column reduces to per-DISTINCT-VALUE counts, midranks come from a
    prefix window over that distinct-value table (post-aggregate-window
    contract), rows join their ranks back by value (two key-hash
    shuffles), and the correlation collapses to ONE exact-decimal
    moment aggregate. Midranks are kept DOUBLED (2*midrank is integer)
    so every moment is exact int-decimal; rho is scale-invariant so
    the doubling cancels. Returns one row: (n_rows, rho) with rho
    rounded to 12.
    """
    base = df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y")).filter(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    )

    def rank_map(col: str, out: str) -> DataFrame:
        d = base.groupBy(col).agg(F.count("*").alias("c"))
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        midrank = (
            F.lit(2) * (F.sum("c").over(w) - F.col("c"))
            + F.col("c")
            + F.lit(1)
        )
        if max_distinct is not None:
            # same window sort, whole-frame count: trips when the
            # distinct-value table outgrows the quantized contract.
            # assert_true must FEED the selected expression or Catalyst
            # prunes it (the resample_gapfill pattern).
            n_distinct = F.count("*").over(
                Window.orderBy(col).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            guard = F.assert_true(
                n_distinct <= F.lit(max_distinct),
                F.lit(
                    f"spearman_corr: column {col!r} exceeds max_distinct="
                    f"{max_distinct} distinct values — band/quantize the "
                    "column upstream (quantized-input contract)"
                ),
            )
            midrank = F.when(guard.isNull(), midrank)
        return d.select(col, midrank.alias(out))

    d38 = "decimal(38,0)"
    j = base.join(rank_map("x", "rx"), "x").join(rank_map("y", "ry"), "y")
    one = j.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col("rx").cast(d38)).cast("double").alias("sx"),
        F.sum(F.col("ry").cast(d38)).cast("double").alias("sy"),
        F.sum((F.col("rx").cast(d38) * F.col("rx")).cast(d38))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("ry").cast(d38) * F.col("ry")).cast(d38))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("rx").cast(d38) * F.col("ry")).cast(d38))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n_rows").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    # try_divide: a constant column has zero rank variance — rho is
    # NULL (undefined), matching SQL x/0, not an ANSI raise
    return one.select(
        "n_rows", F.round(F.try_divide(num, den), 12).alias("rho")
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall tau-b rank correlation over QUANTIZED columns — the
    concordant-vs-discordant-pair statistic with the standard tie
    normalization:

        tau_b = (P - Q) / sqrt((n0 - Tx) (n0 - Ty)),
        n0 = n(n-1)/2, Tx/Ty = within-tie pair counts

    Scalable shape: rows collapse to the (x, y) CELL table first; P and
    Q are a cell-grid self-join (strictly-greater / opposite-order cell
    pairs, weighted by count products) — O(C^2) for C distinct cells,
    which is why the inputs must be quantized/ordinal (the knob that
    bounds the grid; continuous metrics get banded upstream, exactly
    how tau is computed at scale). All pair counts are exact integers
    in decimal; one double division + sqrt at the end. Returns one row:
    (n_rows, n_concordant, n_discordant, tau_b) with tau rounded 12.
    """
    j = _ordinal_pair_counts(df, x_col, y_col)
    d38 = "decimal(38,0)"
    # doubled pair counts keep everything integer: 2*n0 = n(n-1),
    # 2*Tx = sum cx(cx-1), ... ; the doubling cancels in the ratio
    n0_2 = (F.col("n") * (F.col("n") - 1)).cast(d38)
    num = (F.col("p") - F.col("q")).cast("double") * F.lit(2.0)
    den = F.sqrt(
        (n0_2 - F.col("tx2")).cast("double")
        * (n0_2 - F.col("ty2")).cast("double")
    )
    # try_divide: a constant column ties every pair — tau undefined
    return j.select(
        (F.col("n").cast("long")).alias("n_rows"),
        F.col("p").cast("long").alias("n_concordant"),
        F.col("q").cast("long").alias("n_discordant"),
        F.round(F.try_divide(num, den), 12).alias("tau_b"),
    )


def _ordinal_pair_counts(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Shared concordant/discordant pair machinery for the ordinal
    association family (kendall_tau_b, somers_d): collapse rows to the
    QUANTIZED (x, y) cell table, self-join strictly-ordered cell pairs,
    and return ONE row of exact decimal pair moments:
    (n, p, q, tx2, ty2) = (row count, concordant pairs, discordant
    pairs, 2*x-tie pairs, 2*y-tie pairs).
    """
    d38 = "decimal(38,0)"
    # pinned eagerly: the cell grid is metadata-sized but feeds four
    # consumers (self-join both sides, totals, tie counts) — without
    # the checkpoint each derives its own scan of the source
    cells = (
        df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("x", "y")
        .agg(F.count("*").cast("long").alias("c"))
        .transform(materialize)
    )
    a, b = cells.alias("a"), cells.alias("b")
    prod = (F.col("a.c").cast(d38) * F.col("b.c")).cast(d38)
    pq = (
        a.join(
            b,
            (F.col("a.x") < F.col("b.x"))
            & (F.col("a.y") != F.col("b.y")),
        )
        .agg(
            F.sum(
                F.when(F.col("a.y") < F.col("b.y"), prod).otherwise(
                    F.lit(0).cast(d38)
                )
            ).alias("p"),
            F.sum(
                F.when(F.col("a.y") > F.col("b.y"), prod).otherwise(
                    F.lit(0).cast(d38)
                )
            ).alias("q"),
        )
    )
    n_tot = cells.agg(F.sum(F.col("c").cast(d38)).alias("n"))
    tx = (
        cells.groupBy("x")
        .agg(F.sum(F.col("c").cast(d38)).alias("cx"))
        .agg(
            F.sum((F.col("cx") * (F.col("cx") - 1)).cast(d38)).alias("tx2")
        )
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum(F.col("c").cast(d38)).alias("cy"))
        .agg(
            F.sum((F.col("cy") * (F.col("cy") - 1)).cast(d38)).alias("ty2")
        )
    )
    return (
        pq.crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )


def somers_d(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Somers' D and Goodman-Kruskal gamma over QUANTIZED columns —
    the ASYMMETRIC cousins of kendall_tau_b from the same exact pair
    counts (x the predictor, y the response):

        gamma = (P - Q) / (P + Q)
        D_yx  = (P - Q) / (n0 - Tx)   (y given x: x-ties excluded)
        D_xy  = (P - Q) / (n0 - Ty)

    D_yx is the ordinal-model quality readout (it equals 2*AUC - 1
    when x is binary), gamma the tie-ignoring association. Shares
    _ordinal_pair_counts' quantized-input contract: rows collapse to
    the (x, y) cell table first, so callers band continuous metrics
    upstream — the knob that bounds the O(C^2) cell grid. All pair
    counts exact integers in decimal; one double division per
    statistic. Returns one row:
    (n_rows, n_concordant, n_discordant, gamma, d_yx, d_xy).
    """
    j = _ordinal_pair_counts(df, x_col, y_col)
    d38 = "decimal(38,0)"
    n0_2 = (F.col("n") * (F.col("n") - 1)).cast(d38)
    num = (F.col("p") - F.col("q")).cast("double")
    num2 = num * F.lit(2.0)
    return j.select(
        (F.col("n").cast("long")).alias("n_rows"),
        F.col("p").cast("long").alias("n_concordant"),
        F.col("q").cast("long").alias("n_discordant"),
        F.round(
            F.try_divide(num, (F.col("p") + F.col("q")).cast("double")), 12
        ).alias("gamma"),
        F.round(
            F.try_divide(num2, (n0_2 - F.col("tx2")).cast("double")), 12
        ).alias("d_yx"),
        F.round(
            F.try_divide(num2, (n0_2 - F.col("ty2")).cast("double")), 12
        ).alias("d_xy"),
    )


def cronbach_alpha(
    df: DataFrame,
    subject_col: str,
    item_col: str,
    value_col: str,
    n_items: int,
) -> DataFrame:
    """Cronbach's alpha internal-consistency reliability over a
    (subject, item, score) long table — "do these k item scores
    measure one underlying trait?", the scale-reliability gate before
    averaging rubric scores into a single label:

        alpha = k/(k-1) * (1 - SUM_i var_i / var_total)

    with var_i the across-subject variance of item i and var_total the
    variance of subject score totals (sample variances, n-1). Subjects
    whose item count differs from ``n_items`` are DROPPED (alpha needs
    a complete panel; the kept count is reported). Exactness: both
    variance terms reduce to EXACT integer moment sums —
    SUM_i var_i = (SUM_i sxx_i - SUM_i sx_i^2 / N) / (N - 1) — so the
    whole statistic is a fixed double tree over decimals. Two grouped
    aggregates over one scan (per-item and per-subject moments).
    Returns one row:
    (n_subjects, k_items, item_var_sum, total_var, alpha).
    """
    d38 = "decimal(38,0)"
    base = (
        df.select(
            F.col(subject_col).alias("s"),
            F.col(item_col).alias("it"),
            F.col(value_col).cast("long").alias("v"),
        )
        .filter(
            F.col("s").isNotNull()
            & F.col("it").isNotNull()
            & F.col("v").isNotNull()
        )
    )
    per_subj = base.groupBy("s").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.col("v").cast(d38)).cast(d38).alias("t"),
    )
    kept = per_subj.filter(F.col("cnt") == n_items)
    subj = kept.agg(
        F.count("*").cast("long").alias("n_subjects"),
        F.sum("t").cast(d38).alias("st"),
        F.sum((F.col("t") * F.col("t")).cast(d38)).cast(d38).alias("stt"),
    )
    items = (
        base.join(kept.select("s"), "s")
        .groupBy("it")
        .agg(
            F.sum(F.col("v").cast(d38)).cast(d38).alias("sx"),
            F.sum((F.col("v").cast(d38) * F.col("v")).cast(d38))
            .cast(d38)
            .alias("sxx"),
        )
        .agg(
            F.sum("sxx").cast(d38).alias("sxx_all"),
            F.sum((F.col("sx") * F.col("sx")).cast(d38))
            .cast(d38)
            .alias("sx2_all"),
        )
    )
    j = subj.crossJoin(F.broadcast(items))
    nd = F.col("n_subjects").cast("double")
    ivs = (
        F.col("sxx_all").cast("double")
        - F.col("sx2_all").cast("double") / nd
    ) / (nd - F.lit(1.0))
    tv = (
        F.col("stt").cast("double")
        - F.col("st").cast("double") * F.col("st").cast("double") / nd
    ) / (nd - F.lit(1.0))
    k = F.lit(float(n_items))
    return j.select(
        "n_subjects",
        F.lit(n_items).cast("long").alias("k_items"),
        ivs.alias("item_var_sum"),
        tv.alias("total_var"),
        (
            k / (k - F.lit(1.0)) * (F.lit(1.0) - F.try_divide(ivs, tv))
        ).alias("alpha"),
    )


def spiegelhalter_z(
    df: DataFrame,
    p_col,
    label_col,
    p_scale: int = 6,
) -> DataFrame:
    """Spiegelhalter's calibration z-test — "are these predicted
    probabilities calibrated?", the single-number hypothesis test
    complementing the binned ECE (q267) and the Brier decomposition
    (q341), sensitive to miscalibration the Brier score alone hides:

        z = sum (y_i - p_i)(1 - 2 p_i)
            / sqrt(sum (1 - 2 p_i)^2 p_i (1 - p_i))

    Determinism: p is quantized to ``p_scale`` decimal places and every
    per-row term is computed in EXACT fixed-point decimal, so both the
    numerator and variance sums are order-independent — no float
    accumulation anywhere until the final division/sqrt (the one ln/exp
    -free calibration test, which is why it replays bitwise in SQL).
    One map-side-combinable aggregate pass. Returns one row:
    (n_rows, z, p_value) with the two-sided engine-portable p.
    """
    from .experiments import normal_sf

    dp = f"decimal(12,{p_scale})"
    p = (F.col(p_col) if isinstance(p_col, str) else p_col).cast(dp)
    y = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("int")
    one_m_2p = (F.lit(1).cast(dp) - (p + p)).cast("decimal(13,6)")
    num_t = ((y.cast(dp) - p).cast("decimal(13,6)") * one_m_2p).cast(
        "decimal(26,12)"
    )
    var_t = (
        (one_m_2p * one_m_2p).cast("decimal(26,12)")
        * (p * (F.lit(1).cast(dp) - p)).cast("decimal(26,12)")
    ).cast("decimal(38,24)")
    one = df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(num_t).cast("decimal(38,12)").alias("s_num"),
        F.sum(var_t).cast("decimal(38,24)").alias("s_var"),
    )
    # try_divide: predictions all in {0, 1} carry zero variance — NULL
    zst = F.try_divide(
        F.col("s_num").cast("double"), F.sqrt(F.col("s_var").cast("double"))
    )
    return one.select(
        "n_rows",
        zst.alias("z"),
        (F.lit(2.0) * normal_sf(F.abs(zst))).alias("p_value"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    cat_col: str,
    n_raters: int,
) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement among a FIXED number
    of raters per item, the many-annotator generalization of
    cohens_kappa (two annotators) for label-quality gates on
    crowd/ensemble-labeled corpora:

        P_i   = (SUM_j n_ij^2 - n) / (n (n - 1))      per item
        P_bar = (SA - N n) / (N n (n - 1)),  SA = SUM_ij n_ij^2
        P_e   = SUM_j c_j^2 / (N n)^2
        kappa = (P_bar - P_e) / (1 - P_e)

    Items whose rating count differs from ``n_raters`` are DROPPED
    (Fleiss' statistic is undefined for ragged panels — the
    krippendorff_alpha sibling handles those); the kept count is
    reported so silent attrition is visible. Every moment (SA, c_j,
    N) is an exact integer from ONE (item, category) grouped count —
    map-side combinable, order-independent — and the kappa tree is
    fixed doubles. Returns one row:
    (n_items, n_raters, n_categories, p_bar, p_e, kappa).
    """
    cells = (
        df.filter(F.col(item_col).isNotNull() & F.col(cat_col).isNotNull())
        .groupBy(F.col(item_col).alias("i"), F.col(cat_col).alias("c"))
        .agg(F.count("*").cast("long").alias("k"))
    )
    mi = cells.groupBy("i").agg(F.sum("k").cast("long").alias("m"))
    kept = mi.filter(F.col("m") == n_raters).select("i")
    kc = cells.join(kept, "i")
    sa = kc.agg(
        F.sum(
            F.col("k").cast("decimal(19,0)") * F.col("k").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("sa")
    )
    ni = kept.agg(F.count("*").cast("long").alias("n_items"))
    cj = kc.groupBy("c").agg(F.sum("k").cast("long").alias("cj"))
    sc = cj.agg(
        F.sum(
            F.col("cj").cast("decimal(19,0)")
            * F.col("cj").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("sc"),
        F.count("*").cast("long").alias("n_categories"),
    )
    j = ni.crossJoin(F.broadcast(sa)).crossJoin(F.broadcast(sc))
    nd = F.col("n_items").cast("double")
    rn = F.lit(float(n_raters))
    rn1 = F.lit(float(n_raters - 1))
    pbar = (F.col("sa").cast("double") - nd * rn) / (nd * rn * rn1)
    pe = F.col("sc").cast("double") / ((nd * rn) * (nd * rn))
    return j.select(
        "n_items",
        F.lit(n_raters).cast("long").alias("n_raters"),
        "n_categories",
        pbar.alias("p_bar"),
        pe.alias("p_e"),
        ((pbar - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


def krippendorff_alpha(
    df: DataFrame,
    item_col: str,
    cat_col: str,
) -> DataFrame:
    """Krippendorff's alpha (nominal metric) — the agreement
    coefficient that, unlike fleiss_kappa, accepts RAGGED panels
    (any number >= 2 of ratings per item; items with one rating are
    excluded by definition):

        D_o = (1/n) SUM_i (m_i^2 - SUM_c n_ic^2) / (m_i - 1)
        D_e = (n^2 - SUM_c c_c^2) / (n (n - 1))
        alpha = 1 - D_o / D_e

    with m_i the item's rating count and n = SUM m_i over kept items.
    Every count is exact from ONE (item, category) grouped pass; the
    per-item disagreement terms are doubles cast to decimal(38,18)
    before the sum (the source_divergence order-independence trick —
    a 100 TB shuffle cannot perturb the total). Returns one row:
    (n_items, n_ratings, d_o, d_e, alpha).
    """
    cells = (
        df.filter(F.col(item_col).isNotNull() & F.col(cat_col).isNotNull())
        .groupBy(F.col(item_col).alias("i"), F.col(cat_col).alias("c"))
        .agg(F.count("*").cast("long").alias("k"))
    )
    per = cells.groupBy("i").agg(
        F.sum("k").cast("long").alias("m"),
        F.sum(
            F.col("k").cast("decimal(19,0)") * F.col("k").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    kept = per.filter(F.col("m") >= 2)
    md = F.col("m").cast("double")
    term = (md * md - F.col("s2").cast("double")) / (md - F.lit(1.0))
    s = kept.agg(
        F.sum(term.cast("decimal(38,18)")).cast("decimal(38,18)").alias("s"),
        F.count("*").cast("long").alias("n_items"),
        F.sum("m").cast("long").alias("n"),
    )
    ck = cells.join(kept.select("i"), "i").groupBy("c").agg(
        F.sum("k").cast("long").alias("ck")
    )
    sc = ck.agg(
        F.sum(
            F.col("ck").cast("decimal(19,0)")
            * F.col("ck").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("sc")
    )
    j = s.crossJoin(F.broadcast(sc))
    nd = F.col("n").cast("double")
    d_o = F.col("s").cast("double") / nd
    d_e = (nd * nd - F.col("sc").cast("double")) / (nd * (nd - F.lit(1.0)))
    return j.select(
        "n_items",
        F.col("n").alias("n_ratings"),
        d_o.alias("d_o"),
        d_e.alias("d_e"),
        (F.lit(1.0) - d_o / d_e).alias("alpha"),
    )


def mcc_from_confusion(
    conf: DataFrame,
    true_col: str = "true_label",
    pred_col: str = "pred_label",
    n_col: str = "n",
) -> DataFrame:
    """Multiclass Matthews correlation coefficient from a (true, pred,
    n) CONFUSION TABLE — the single-number classifier summary that,
    unlike accuracy or micro-F1, stays honest under class imbalance
    (Gorodkin's R_K generalization):

        MCC = (c s - SUM_k p_k t_k)
              / sqrt((s^2 - SUM p_k^2) (s^2 - SUM t_k^2))

    with s total, c correct, t_k/p_k the actual/predicted class
    totals. Metadata-sized input by design (share the scoring pass
    with f1_from_confusion, q343). Every moment is an exact integer
    in decimal (overflow-safe at any scale); MCC is one fixed double
    tree. Returns one row: (n_rows, n_correct, n_classes, mcc).
    """
    t = F.col(true_col)
    p = F.col(pred_col)
    n = F.col(n_col).cast("long")
    tots = conf.agg(
        F.sum(n).cast("long").alias("s"),
        F.sum(F.when(t == p, n).otherwise(F.lit(0)))
        .cast("long")
        .alias("c"),
    )
    tk = conf.groupBy(t.alias("cl")).agg(F.sum(n).cast("long").alias("tn"))
    pk = conf.groupBy(p.alias("cl")).agg(F.sum(n).cast("long").alias("pn"))
    cls = (
        tk.join(pk, "cl", "full_outer")
        .select(
            F.coalesce("tn", F.lit(0)).cast("decimal(19,0)").alias("tn"),
            F.coalesce("pn", F.lit(0)).cast("decimal(19,0)").alias("pn"),
        )
    )
    mom = cls.agg(
        F.sum(F.col("tn") * F.col("pn")).cast("decimal(38,0)").alias("stp"),
        F.sum(F.col("tn") * F.col("tn")).cast("decimal(38,0)").alias("st2"),
        F.sum(F.col("pn") * F.col("pn")).cast("decimal(38,0)").alias("sp2"),
        F.count("*").cast("long").alias("n_classes"),
    )
    j = tots.crossJoin(F.broadcast(mom))
    sd = F.col("s").cast("double")
    denom2 = (sd * sd - F.col("sp2").cast("double")) * (
        sd * sd - F.col("st2").cast("double")
    )
    # sklearn convention: a degenerate margin (one class never
    # predicted, or single-class truth) zeroes the denominator -> 0
    mcc = F.when(
        denom2 > 0,
        (F.col("c").cast("double") * sd - F.col("stp").cast("double"))
        / F.sqrt(denom2),
    ).otherwise(F.lit(0.0))
    return j.select(
        F.col("s").alias("n_rows"),
        F.col("c").alias("n_correct"),
        "n_classes",
        mcc.alias("mcc"),
    )


def icc_oneway(
    df: DataFrame,
    subject_col: str,
    value_col: str,
    n_items: int,
) -> DataFrame:
    """ICC(1,1) — one-way random-effects intraclass correlation: "how
    much of a score's variance is the subject rather than the
    measurement?", the continuous-score reliability companion to
    cronbach_alpha (consistency) and fleiss_kappa (categorical):

        MSB = k * var(subject means),  MSW = within-subject mean square
        ICC(1,1) = (MSB - MSW) / (MSB + (k - 1) MSW)

    Subjects with a measurement count other than ``n_items`` are
    DROPPED (the balanced one-way layout; kept count reported). Both
    mean squares reduce to exact integer moment identities —
    MSB = (SUM T_s^2/k - T^2/(N k)) / (N - 1),
    MSW = (SUM x^2 - SUM T_s^2/k) / (N (k - 1)) — so the whole readout
    is one grouped aggregate + a fixed double tree. Returns one row:
    (n_subjects, k_items, ms_between, ms_within, icc).
    """
    d38 = "decimal(38,0)"
    base = df.select(
        F.col(subject_col).alias("s"),
        F.col(value_col).cast("long").alias("v"),
    ).filter(F.col("s").isNotNull() & F.col("v").isNotNull())
    per = base.groupBy("s").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.col("v").cast(d38)).cast(d38).alias("t"),
        F.sum((F.col("v").cast(d38) * F.col("v")).cast(d38))
        .cast(d38)
        .alias("xx"),
    )
    kept = per.filter(F.col("cnt") == n_items)
    agg = kept.agg(
        F.count("*").cast("long").alias("n_subjects"),
        F.sum("t").cast(d38).alias("st"),
        F.sum((F.col("t") * F.col("t")).cast(d38)).cast(d38).alias("stt"),
        F.sum("xx").cast(d38).alias("sxx"),
    )
    nd = F.col("n_subjects").cast("double")
    kd = F.lit(float(n_items))
    msb = (
        F.col("stt").cast("double") / kd
        - F.col("st").cast("double") * F.col("st").cast("double") / (nd * kd)
    ) / (nd - F.lit(1.0))
    msw = (
        F.col("sxx").cast("double") - F.col("stt").cast("double") / kd
    ) / (nd * (kd - F.lit(1.0)))
    return agg.select(
        "n_subjects",
        F.lit(n_items).cast("long").alias("k_items"),
        msb.alias("ms_between"),
        msw.alias("ms_within"),
        F.try_divide(
            msb - msw, msb + (kd - F.lit(1.0)) * msw
        ).alias("icc"),
    )


def optimal_threshold(
    df: DataFrame,
    score_col: str,
    label_col: str,
    cost_fp: float = 1.0,
    cost_fn: float = 1.0,
) -> DataFrame:
    """Cost-optimal decision threshold over a QUANTIZED score — "where
    should the filter cut, given that a false positive costs X and a
    false negative Y?", the business-rule readout the threshold-free
    curves (ROC q266, gains q315) leave to the reader.

    Candidate cuts are the distinct score values (predict positive at
    score >= t) plus the degenerate predict-nothing cut; for each,
    FP(t) = negatives >= t and FN(t) = positives < t come from ONE
    prefix window over the distinct-score table (the q66
    exact-percentile discipline — band continuous scores upstream).
    Cost = cost_fp * FP + cost_fn * FN in exact integer counts times
    literal costs; the argmin tie-breaks toward the HIGHER threshold
    (fewer flagged). Returns one row:
    (n_pos, n_neg, best_threshold, fp, fn, cost) — best_threshold is
    NULL when predicting nothing is optimal.
    """
    per = (
        df.select(
            F.col(score_col).cast("long").alias("s"),
            F.col(label_col).cast("int").alias("y"),
        )
        .filter(F.col("s").isNotNull() & F.col("y").isNotNull())
        .groupBy("s")
        .agg(
            F.sum("y").cast("long").alias("np"),
            F.sum(F.lit(1) - F.col("y")).cast("long").alias("nn"),
        )
    )
    tot = per.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cand = per.crossJoin(F.broadcast(tot)).select(
        "s",
        (F.col("n_neg") - F.coalesce(F.sum("nn").over(w), F.lit(0)))
        .cast("long")
        .alias("fp"),
        F.coalesce(F.sum("np").over(w), F.lit(0)).cast("long").alias("fn"),
        "n_pos", "n_neg",
    )
    # the predict-nothing cut: fp = 0, fn = all positives
    nothing = tot.select(
        F.lit(None).cast("long").alias("s"),
        F.lit(0).cast("long").alias("fp"),
        F.col("n_pos").alias("fn"),
        "n_pos", "n_neg",
    )
    all_c = cand.unionByName(nothing)
    cost = (
        F.lit(float(cost_fp)) * F.col("fp").cast("double")
        + F.lit(float(cost_fn)) * F.col("fn").cast("double")
    )
    return (
        all_c.select(
            "n_pos", "n_neg",
            F.col("s").alias("best_threshold"),
            "fp", "fn",
            cost.alias("cost"),
        )
        .orderBy(
            F.col("cost").asc(), F.col("best_threshold").desc_nulls_last()
        )
        .limit(1)
    )


def weighted_kappa(
    df: DataFrame,
    a_col,
    b_col,
    weights: str = "quadratic",
) -> DataFrame:
    """Weighted Cohen's kappa for ORDINAL paired labels — near-misses
    on an ordered scale (priority tiers, quality grades) count less
    against agreement than distant ones, which plain cohens_kappa
    (q268) cannot express:

        kappa_w = 1 - SUM w_ij o_ij / (SUM w_ij r_i c_j / n)
        w_ij = (i - j)^2 (quadratic, default) or |i - j| (linear)

    Categories are indexed by SORTED order; with integer weights every
    sum is an exact integer, so kappa_w = 1 - n * SUM(w o) / SUM(w r c)
    is ONE double division of exact decimals. One grouped count + two
    metadata margins. Returns one row: (n_pairs, k_levels, kappa_w).
    """
    if weights not in ("quadratic", "linear"):
        raise ValueError("weights must be 'quadratic' or 'linear'")
    d38 = "decimal(38,0)"
    a = F.col(a_col) if isinstance(a_col, str) else a_col
    b = F.col(b_col) if isinstance(b_col, str) else b_col
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("ca"), b.alias("cb"))
        .agg(F.count("*").cast("long").alias("o"))
        .transform(materialize)
    )
    cats = (
        cells.select(F.col("ca").alias("cat"))
        .unionByName(cells.select(F.col("cb").alias("cat")))
        .distinct()
        .select(
            "cat", F.row_number().over(Window.orderBy("cat")).alias("ix")
        )
    )
    ia = cats.select(F.col("cat").alias("ca"), F.col("ix").alias("i"))
    ib = cats.select(F.col("cat").alias("cb"), F.col("ix").alias("j"))
    idx = cells.join(ia, "ca").join(ib, "cb")
    dij = F.abs(F.col("i") - F.col("j")).cast("long")
    wexp = dij * dij if weights == "quadratic" else dij
    ri = idx.groupBy("i").agg(F.sum("o").cast("long").alias("r"))
    cj = idx.groupBy("j").agg(F.sum("o").cast("long").alias("c"))
    wo = idx.agg(
        F.sum("o").cast("long").alias("n_pairs"),
        F.sum((wexp.cast(d38) * F.col("o")).cast(d38))
        .cast(d38)
        .alias("swo"),
    )
    grid = ri.crossJoin(cj)
    gd = F.abs(F.col("i") - F.col("j")).cast("long")
    gw = gd * gd if weights == "quadratic" else gd
    we = grid.agg(
        F.sum(
            (gw.cast(d38) * (F.col("r").cast(d38) * F.col("c")).cast(d38))
            .cast(d38)
        )
        .cast(d38)
        .alias("swrc"),
        F.count("*").cast("long").alias("k2"),
    )
    j = wo.crossJoin(F.broadcast(we)).crossJoin(
        F.broadcast(cats.agg(F.count("*").cast("long").alias("k_levels")))
    )
    kw = F.lit(1.0) - F.try_divide(
        F.col("n_pairs").cast(d38).cast("double")
        * F.col("swo").cast("double"),
        F.col("swrc").cast("double"),
    )
    return j.select("n_pairs", "k_levels", kw.alias("kappa_w"))


def gwets_ac1(
    df: DataFrame,
    a_col,
    b_col,
) -> DataFrame:
    """Gwet's AC1 — the chance-corrected agreement that stays STABLE
    under skewed label prevalence, where Cohen's kappa famously
    collapses (two annotators agreeing 95% on a 95/5 label split can
    get near-zero kappa; AC1 reports the agreement honestly):

        AC1 = (p_o - p_e) / (1 - p_e),
        p_e = (1/(k-1)) SUM_c pi_c (1 - pi_c),
        pi_c = (row_c + col_c) / (2n)

    One grouped count to the k x k cells; margins are metadata-sized;
    the per-category chance terms fold in category order (the
    cramers_v determinism contract). Returns one row:
    (n_pairs, k_levels, p_o, p_e, ac1).
    """
    a = F.col(a_col) if isinstance(a_col, str) else a_col
    b = F.col(b_col) if isinstance(b_col, str) else b_col
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("ca"), b.alias("cb"))
        .agg(F.count("*").cast("long").alias("o"))
        .transform(materialize)
    )
    n = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.sum(F.when(F.col("ca") == F.col("cb"), F.col("o")).otherwise(0))
        .cast("long")
        .alias("diag"),
    )
    ri = cells.groupBy(F.col("ca").alias("cat")).agg(
        F.sum("o").cast("long").alias("r")
    )
    cj = cells.groupBy(F.col("cb").alias("cat")).agg(
        F.sum("o").cast("long").alias("c")
    )
    marg = ri.join(cj, "cat", "full_outer").select(
        "cat",
        F.coalesce("r", F.lit(0)).cast("long").alias("r"),
        F.coalesce("c", F.lit(0)).cast("long").alias("c"),
    )
    k = marg.agg(F.count("*").cast("long").alias("k_levels"))
    pi = (F.col("r") + F.col("c")).cast("double") / (
        F.lit(2.0) * F.col("n").cast("double")
    )
    folded = (
        marg.crossJoin(F.broadcast(n))
        .select(
            "n", "diag",
            F.struct("cat", (pi * (F.lit(1.0) - pi)).alias("t")).alias(
                "__e"
            ),
        )
        .groupBy("n", "diag")
        .agg(F.array_sort(F.collect_list("__e")).alias("__arr"))
    )
    sfold = F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda acc, x: acc + x["t"]
    )
    j = folded.crossJoin(F.broadcast(k))
    po = F.col("diag").cast("double") / F.col("n").cast("double")
    pe = sfold / (F.col("k_levels") - 1).cast("double")
    return j.select(
        F.col("n").alias("n_pairs"),
        "k_levels",
        po.alias("p_o"),
        pe.alias("p_e"),
        F.try_divide(po - pe, F.lit(1.0) - pe).alias("ac1"),
    )


def partial_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
) -> DataFrame:
    """First-order partial correlation r_xy.z — the x-y association
    with the confounder z "held constant", the one-line causal sanity
    check before reading a raw correlation (q280's matrix reports
    marginals only):

        r_xy.z = (r_xy - r_xz r_yz) / sqrt((1 - r_xz^2)(1 - r_yz^2))

    ONE aggregate of exact decimal moments over integer-quantized
    triples; all three Pearson r's and the partial come out of the
    same fixed double tree. Returns one row:
    (n_rows, r_xy, r_xz, r_yz, r_xy_z).
    """
    d38 = "decimal(38,0)"
    cols = {
        "x": F.col(x_col).cast("long"),
        "y": F.col(y_col).cast("long"),
        "z": F.col(z_col).cast("long"),
    }
    base = df.filter(
        cols["x"].isNotNull() & cols["y"].isNotNull() & cols["z"].isNotNull()
    ).select(*[v.alias(k) for k, v in cols.items()])
    aggs = [F.count("*").cast("long").alias("n")]
    for c in ("x", "y", "z"):
        aggs.append(F.sum(F.col(c).cast(d38)).cast(d38).alias(f"s{c}"))
    for a, b in (("x", "x"), ("y", "y"), ("z", "z"),
                 ("x", "y"), ("x", "z"), ("y", "z")):
        aggs.append(
            F.sum((F.col(a).cast(d38) * F.col(b).cast(d38)).cast(d38))
            .cast(d38)
            .alias(f"s{a}{b}")
        )
    mom = base.agg(*aggs)
    nd = F.col("n").cast("double")

    def mean(c):
        return F.col(f"s{c}").cast("double") / nd

    def cov(a, b):
        return F.col(f"s{a}{b}").cast("double") / nd - mean(a) * mean(b)

    def r(a, b):
        return F.try_divide(
            cov(a, b), F.sqrt(cov(a, a) * cov(b, b))
        )

    rxy, rxz, ryz = r("x", "y"), r("x", "z"), r("y", "z")
    return mom.select(
        F.col("n").alias("n_rows"),
        rxy.alias("r_xy"),
        rxz.alias("r_xz"),
        ryz.alias("r_yz"),
        F.try_divide(
            rxy - rxz * ryz,
            F.sqrt((F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz)),
        ).alias("r_xy_z"),
    )


def krippendorff_interval(
    df: DataFrame,
    item_col: str,
    value_col: str,
) -> DataFrame:
    """Krippendorff's alpha with the INTERVAL metric — agreement for
    NUMERIC paired/panel ratings where the nominal variant
    (krippendorff_alpha) would call 4-vs-5 as wrong as 1-vs-5:

        D_o = (1/n) SUM_i 2 (m_i SUM v^2 - (SUM v)^2) / (m_i - 1)
        D_e = 2 (n SUM V^2 - (SUM V)^2) / (n (n - 1))
        alpha = 1 - D_o / D_e

    (squared-difference distances reduce to exact integer moment
    identities per item and globally — no pair table). Items with one
    rating are excluded by definition. Per-item rationals pass through
    decimal(38,18) sums (order-independent). Returns one row:
    (n_items, n_ratings, d_o, d_e, alpha).
    """
    d38 = "decimal(38,0)"
    base = df.select(
        F.col(item_col).alias("i"),
        F.col(value_col).cast("long").alias("v"),
    ).filter(F.col("i").isNotNull() & F.col("v").isNotNull())
    per = base.groupBy("i").agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.col("v").cast(d38)).cast(d38).alias("sv"),
        F.sum((F.col("v").cast(d38) * F.col("v")).cast(d38))
        .cast(d38)
        .alias("sv2"),
    )
    kept = per.filter(F.col("m") >= 2)
    md = F.col("m").cast("double")
    term = (
        F.lit(2.0)
        * (
            md * F.col("sv2").cast("double")
            - F.col("sv").cast("double") * F.col("sv").cast("double")
        )
        / (md - F.lit(1.0))
    )
    agg = kept.agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("m").cast("long").alias("n"),
        F.sum("sv").cast(d38).alias("svv"),
        F.sum("sv2").cast(d38).alias("svv2"),
        F.sum(term.cast("decimal(38,18)"))
        .cast("decimal(38,18)")
        .alias("s"),
    )
    nd = F.col("n").cast("double")
    d_o = F.col("s").cast("double") / nd
    d_e = (
        F.lit(2.0)
        * (
            nd * F.col("svv2").cast("double")
            - F.col("svv").cast("double") * F.col("svv").cast("double")
        )
        / (nd * (nd - F.lit(1.0)))
    )
    return agg.select(
        "n_items",
        F.col("n").alias("n_ratings"),
        d_o.alias("d_o"),
        d_e.alias("d_e"),
        (F.lit(1.0) - F.try_divide(d_o, d_e)).alias("alpha"),
    )


def goldfeld_quandt(
    df: DataFrame,
    y_col,
    x1_col,
    x2_col,
    split_col: str,
    low_max,
    high_min,
    scale: int = 2,
) -> DataFrame:
    """Goldfeld-Quandt heteroscedasticity screen for the 2-feature OLS
    (:func:`ols_regression`): fit the SAME model on a low regime
    (``split_col <= low_max``) and a high regime (``>= high_min``,
    the middle band excluded as the classic GQ buffer) and compare
    residual variances:

        GQ = (SSE_high / (n_high - 3)) / (SSE_low / (n_low - 3))

    GQ >> 1 means the error variance grows with the regressor — the
    constant-sigma assumption behind the fit's standard errors is
    broken. Regimes split by fixed VALUE thresholds (the knobs), not
    by global rank: a rank split needs a total sort; a value split
    keeps the whole test ONE map-side-combinable conditional-moment
    aggregate at any scale.

    Determinism: all 20 regime moments are exact decimals; both
    Cramer solves and the variance ratio are fixed double trees
    (q265's no-rounding discipline).

    Returns one row: (n_low, n_high, sse_low, sse_high, gq_ratio).
    """
    d = f"decimal(18,{scale})"
    y, x1, x2 = _c(y_col).cast(d), _c(x1_col).cast(d), _c(x2_col).cast(d)
    sp = _c(split_col)
    lo = sp <= F.lit(low_max)
    hi = sp >= F.lit(high_min)

    def moments(cond, tag: str) -> list[Column]:
        def s(e, name):
            return (
                F.sum(F.when(cond, e)).cast("double").alias(f"{tag}{name}")
            )

        return [
            F.count(F.when(cond, F.lit(1))).cast("long").alias(f"{tag}n"),
            s(x1, "s1"), s(x2, "s2"), s(y, "sy"),
            s(x1 * x1, "s11"), s(x1 * x2, "s12"), s(x2 * x2, "s22"),
            s(x1 * y, "s1y"), s(x2 * y, "s2y"), s(y * y, "syy"),
        ]

    agg = df.agg(*moments(lo, "l_"), *moments(hi, "h_"))

    def sse(tag: str) -> Column:
        n = F.col(f"{tag}n").cast("double")
        s1, s2, sy = (
            F.col(f"{tag}s1"), F.col(f"{tag}s2"), F.col(f"{tag}sy"),
        )
        s11, s12, s22 = (
            F.col(f"{tag}s11"), F.col(f"{tag}s12"), F.col(f"{tag}s22"),
        )
        s1y, s2y, syy = (
            F.col(f"{tag}s1y"), F.col(f"{tag}s2y"), F.col(f"{tag}syy"),
        )
        det = (
            n * (s11 * s22 - s12 * s12)
            - s1 * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s12 - s11 * s2)
        )
        det0 = (
            sy * (s11 * s22 - s12 * s12)
            - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y)
        )
        det1 = (
            n * (s1y * s22 - s12 * s2y)
            - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2)
        )
        det2 = (
            n * (s11 * s2y - s1y * s12)
            - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2)
        )
        return (
            syy
            - (det0 / det) * sy
            - (det1 / det) * s1y
            - (det2 / det) * s2y
        )

    sse_l, sse_h = sse("l_"), sse("h_")
    nl = F.col("l_n").cast("double")
    nh = F.col("h_n").cast("double")
    gq = (sse_h / (nh - F.lit(3.0))) / (sse_l / (nl - F.lit(3.0)))
    return agg.select(
        F.col("l_n").alias("n_low"),
        F.col("h_n").alias("n_high"),
        sse_l.alias("sse_low"),
        sse_h.alias("sse_high"),
        gq.alias("gq_ratio"),
    )


def cooks_distance(
    df: DataFrame,
    id_col: str,
    x_col,
    y_col,
    top_k: int = 15,
    scale: int = 2,
) -> DataFrame:
    """Per-observation Cook's distance for the simple regression
    y ~ b0 + b1 x — "which single rows are bending the fit?", the
    row-grain influence readout beside the group-grain LOO refit
    (loo_ols_influence):

        h_i = 1/n + (x_i - xbar)^2 / Sxx
        D_i = e_i^2 h_i / (2 s^2 (1 - h_i)^2)

    with e from the closed-form fit and s^2 = SSE/(n-2).

    Scale design: ONE exact-decimal moment aggregate (broadcast back
    as constants), then a per-row fixed double tree and a global
    top-k (TakeOrdered — no total sort). Ties break on id.

    Returns the top_k rows by D: (id, x_val, y_val, resid, leverage,
    cooks_d).
    """
    d = f"decimal(18,{scale})"
    base = df.select(
        _c(id_col).alias("id"),
        _c(x_col).cast(d).alias("x"),
        _c(y_col).cast(d).alias("y"),
    )
    m = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    j = base.crossJoin(F.broadcast(m))
    nd = F.col("n").cast("double")
    b1 = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    b0 = (F.col("sy") - b1 * F.col("sx")) / nd
    sse = F.col("syy") - b0 * F.col("sy") - b1 * F.col("sxy")
    s2 = sse / (nd - F.lit(2.0))
    xd = F.col("x").cast("double")
    yd = F.col("y").cast("double")
    e = yd - b0 - b1 * xd
    xbar = F.col("sx") / nd
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / nd
    h = F.lit(1.0) / nd + (xd - xbar) * (xd - xbar) / sxx_c
    cd = (
        e * e * h
        / (F.lit(2.0) * s2 * (F.lit(1.0) - h) * (F.lit(1.0) - h))
    )
    scored = j.select(
        "id",
        xd.alias("x_val"),
        yd.alias("y_val"),
        e.alias("resid"),
        h.alias("leverage"),
        cd.alias("cooks_d"),
    )
    return scored.orderBy(F.desc("cooks_d"), "id").limit(int(top_k))


def log_log_elasticity(
    df: DataFrame,
    unit_num_col: str,
    unit_den_col: str,
    qty_col: str,
) -> DataFrame:
    """Log-log demand elasticity across units: regress ln(quantity) on
    ln(unit price) over per-unit aggregates —

        ln q_i = b0 + e * ln p_i,    e = the price elasticity

    with p_i = num_i / den_i (e.g. revenue cents over quantity
    hundredths). The cross-sectional price-sensitivity readout.

    Determinism (r12 hardening, the q434 lesson): each log quantizes
    ROUND(ln, 9)::decimal(12,9) BEFORE the moment sums — a raw ln
    cast to decimal(38,18) preserved the engines'/JIT's 1-ulp ln
    latitude inside the sums; the 1e-9 grid (~6 orders coarser than
    the ln ulp) maps both engines to the same grid point, products
    are exact decimal(25,18), and the six moments are exact
    order-free decimal adds. The OLS readout is one fixed double
    tree; callers ROUND outputs (<= 9, log contract).

    Returns one row: (n_units, beta0, elasticity, r2).
    """
    base = df.select(
        F.round(
            F.log(
                F.col(unit_num_col).cast("double")
                / F.col(unit_den_col).cast("double")
            ),
            9,
        )
        .cast("decimal(12,9)")
        .alias("lp"),
        F.round(F.log(F.col(qty_col).cast("double")), 9)
        .cast("decimal(12,9)")
        .alias("lq"),
    ).filter(F.col("lp").isNotNull() & F.col("lq").isNotNull())
    m = base.agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum("lp").cast("double").alias("sx"),
        F.sum("lq").cast("double").alias("sy"),
        F.sum(F.col("lp") * F.col("lp")).cast("double").alias("sxx"),
        F.sum(F.col("lp") * F.col("lq")).cast("double").alias("sxy"),
        F.sum(F.col("lq") * F.col("lq")).cast("double").alias("syy"),
    )
    n = F.col("n_units").cast("double")
    b1 = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    b0 = (F.col("sy") - b1 * F.col("sx")) / n
    sse = F.col("syy") - b0 * F.col("sy") - b1 * F.col("sxy")
    sst = F.col("syy") - F.col("sy") * F.col("sy") / n
    return m.select(
        "n_units",
        b0.alias("beta0"),
        b1.alias("elasticity"),
        (F.lit(1.0) - sse / sst).alias("r2"),
    )


def collinearity_diagnostics(
    df: DataFrame,
    x1_col,
    x2_col,
    scale: int = 2,
) -> DataFrame:
    """Multicollinearity diagnostics for a 2-feature design — the
    pre-fit sanity check the OLS family (ols_regression, q478, q494)
    assumes: VIF = 1 / (1 - r^2) with r the feature correlation, and
    the condition index of the 2x2 correlation matrix, whose
    eigenvalues are exactly 1 +/- |r|:

        cond = sqrt((1 + |r|) / (1 - |r|))

    VIF > 10 / cond > 30 are the classic "drop or orthogonalize a
    feature" thresholds.

    Scale: ONE exact-decimal moment aggregate; fixed double trees
    (the q265 no-rounding discipline, except |r|=1 degenerate inputs
    yield NULL via try_divide).

    Returns one row: (n_rows, r12, vif, cond_index).
    """
    d = f"decimal(18,{scale})"
    x1, x2 = _c(x1_col).cast(d), _c(x2_col).cast(d)
    m = df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(x1 * x1).cast("double").alias("s11"),
        F.sum(x1 * x2).cast("double").alias("s12"),
        F.sum(x2 * x2).cast("double").alias("s22"),
    )
    n = F.col("n_rows").cast("double")
    cxy = F.col("s12") - F.col("s1") * F.col("s2") / n
    cxx = F.col("s11") - F.col("s1") * F.col("s1") / n
    cyy = F.col("s22") - F.col("s2") * F.col("s2") / n
    r = cxy / F.sqrt(cxx * cyy)
    vif = F.try_divide(F.lit(1.0), F.lit(1.0) - r * r)
    cond = F.sqrt(
        F.try_divide(F.lit(1.0) + F.abs(r), F.lit(1.0) - F.abs(r))
    )
    return m.select(
        "n_rows",
        r.alias("r12"),
        vif.alias("vif"),
        cond.alias("cond_index"),
    )


def pca_2d(
    df: DataFrame,
    x_col,
    y_col,
    scale: int = 2,
) -> DataFrame:
    """Closed-form 2-D PCA — the exact eigendecomposition of the 2x2
    covariance matrix (vs q263's power iteration over wide embedding
    vectors: two metrics need no iterations):

        lambda_{1,2} = (a + c +/- sqrt((a - c)^2 + 4 b^2)) / 2
        slope of PC1 = (lambda_1 - a) / b     (unnormalized, exact)

    with a = var(x), c = var(y), b = cov(x, y). explained =
    lambda_1 / (lambda_1 + lambda_2). The angle is deliberately NOT
    reported (atan2 is engine-divergent; the slope is the same
    information in +,-,*,/,sqrt).

    Scale: ONE exact-decimal moment pass; fixed double trees.

    Returns one row: (n_rows, var_x, var_y, cov_xy, lambda1, lambda2,
    explained, pc1_slope).
    """
    d = f"decimal(18,{scale})"
    x, y = _c(x_col).cast(d), _c(y_col).cast(d)
    m = df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n = F.col("n_rows").cast("double")
    a = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - F.lit(1.0))
    c = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - F.lit(1.0))
    b = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - F.lit(1.0))
    disc = F.sqrt((a - c) * (a - c) + F.lit(4.0) * b * b)
    l1 = (a + c + disc) / F.lit(2.0)
    l2 = (a + c - disc) / F.lit(2.0)
    return m.select(
        "n_rows",
        a.alias("var_x"),
        c.alias("var_y"),
        b.alias("cov_xy"),
        l1.alias("lambda1"),
        l2.alias("lambda2"),
        (l1 / (l1 + l2)).alias("explained"),
        F.try_divide(l1 - a, b).alias("pc1_slope"),
    )


def weighted_ols(
    df: DataFrame,
    x_col,
    y_col,
    weight_col,
) -> DataFrame:
    """Weighted least squares y ~ b0 + b1 x with INTEGER weights — the
    remedy q478's Goldfeld-Quandt prescribes when it rejects: weight
    each observation by its precision (here: integer counts, so every
    weighted moment is exact):

        b1 = (W Swxy - Swx Swy) / (W Swxx - Swx^2)
        b0 = (Swy - b1 Swx) / W
        r2 = 1 - SSE_w / SST_w   (weighted sums of squares)

    Scale: ONE grouped exact-integer moment aggregate; fixed double
    trees (q265 no-rounding discipline).

    Returns one row: (n_rows, w_total, beta0, beta1, r2w).
    """
    d38 = "decimal(38,0)"
    x = (F.col(x_col) if isinstance(x_col, str) else x_col).cast("long")
    y = (F.col(y_col) if isinstance(y_col, str) else y_col).cast("long")
    wt = (
        F.col(weight_col) if isinstance(weight_col, str) else weight_col
    ).cast("long")

    def s(e, name):
        return F.sum(e.cast(d38)).cast("double").alias(name)

    m = df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(wt).cast("long").alias("w_total"),
        s(wt.cast(d38) * x, "swx"),
        s(wt.cast(d38) * y, "swy"),
        s((wt.cast(d38) * x).cast(d38) * x, "swxx"),
        s((wt.cast(d38) * x).cast(d38) * y, "swxy"),
        s((wt.cast(d38) * y).cast(d38) * y, "swyy"),
    )
    w = F.col("w_total").cast("double")
    b1 = (w * F.col("swxy") - F.col("swx") * F.col("swy")) / (
        w * F.col("swxx") - F.col("swx") * F.col("swx")
    )
    b0 = (F.col("swy") - b1 * F.col("swx")) / w
    sse = F.col("swyy") - b0 * F.col("swy") - b1 * F.col("swxy")
    sst = F.col("swyy") - F.col("swy") * F.col("swy") / w
    return m.select(
        "n_rows",
        "w_total",
        b0.alias("beta0"),
        b1.alias("beta1"),
        (F.lit(1.0) - sse / sst).alias("r2w"),
    )


def corr_fisher_ci(
    df: DataFrame,
    x_col,
    y_col,
    scale: int = 2,
    z_crit: float = 1.959963984540054,
) -> DataFrame:
    """Pearson correlation with a Fisher-z confidence interval — the
    inference upgrade of the point estimate (q280's matrix gives r;
    this says how sure): z = atanh(r) is approximately normal with
    SE = 1/sqrt(n-3), and both transforms are elementary —

        atanh(r) = 0.5 ln((1+r)/(1-r))
        tanh(x)  = (e^{2x} - 1) / (e^{2x} + 1)

    so the whole CI is one ln + two exp in fixed trees (log/exp
    contract: callers round <= 9).

    Scale: ONE exact-decimal moment pass. Returns one row:
    (n_rows, r, z_fisher, ci_lo, ci_hi).
    """
    d = f"decimal(18,{scale})"
    x, y = _c(x_col).cast(d), _c(y_col).cast(d)
    m = df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n = F.col("n_rows").cast("double")
    r = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / n)
        * (F.col("syy") - F.col("sy") * F.col("sy") / n)
    )
    z = F.lit(0.5) * F.log((F.lit(1.0) + r) / (F.lit(1.0) - r))
    se = F.lit(1.0) / F.sqrt(n - F.lit(3.0))
    zl = z - F.lit(float(z_crit)) * se
    zh = z + F.lit(float(z_crit)) * se

    def tanh(col):
        e2 = F.exp(F.lit(2.0) * col)
        return (e2 - F.lit(1.0)) / (e2 + F.lit(1.0))

    return m.select(
        "n_rows",
        r.alias("r"),
        z.alias("z_fisher"),
        tanh(zl).alias("ci_lo"),
        tanh(zh).alias("ci_hi"),
    )


def breusch_pagan(
    df: DataFrame,
    y_col,
    x_col,
    resid_scale: int = 6,
) -> DataFrame:
    """Breusch-Pagan (Koenker) heteroscedasticity test for the
    single-regressor OLS: fit y = b0 + b1 x, then regress the SQUARED
    residuals on x and read

        LM = n * R2_aux   (~ chi2 with 1 df under homoscedasticity)

    — the formal-p companion of :func:`goldfeld_quandt` (which needs
    a regime split; BP tests the x-linked variance drift directly).

    Determinism contract: y and x must be INTEGER-valued (quantize
    upstream — the exact-moment contract), so the first-stage
    coefficients are fixed double trees over exact integer moments.
    The squared residual z_i = (y_i - b0 - b1 x_i)^2 is a per-row
    fixed double tree QUANTIZED to ``resid_scale`` decimals as
    integer micro-units (explicit ROUND, both engines half-away at
    the same grid), so every auxiliary moment (z, x z, z^2) is an
    exact decimal(38,0) integer sum — order-independent. p for the
    odd df=1 via 2 * normal_sf(sqrt(LM)).

    Returns one row: (n_rows, b0, b1, r2_aux, lm_stat, p_value).
    """
    from .experiments import normal_sf

    d38 = "decimal(38,0)"
    mul = 10 ** int(resid_scale)
    y = _c(y_col).cast("long")
    x = _c(x_col).cast("long")
    base = df.select(y.alias("__y"), x.alias("__x"))
    m = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__x").cast("long").alias("sx"),
        F.sum("__y").cast("long").alias("sy"),
        F.sum((F.col("__x").cast(d38) * F.col("__x")).cast(d38))
        .cast(d38)
        .alias("sxx"),
        F.sum((F.col("__x").cast(d38) * F.col("__y")).cast(d38))
        .cast(d38)
        .alias("sxy"),
    )
    nd = F.col("n").cast("double")
    b1 = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    b0 = (F.col("sy").cast("double") - b1 * F.col("sx").cast("double")) / nd
    co = m.select("n", "sx", "sxx", b0.alias("b0"), b1.alias("b1"))
    e = (
        F.col("__y").cast("double")
        - F.col("b0")
        - F.col("b1") * F.col("__x").cast("double")
    )
    zmic = F.round(e * e * F.lit(float(mul)), 0).cast(d38)
    per = base.crossJoin(F.broadcast(co)).select(
        "n", "sx", "sxx", "b0", "b1", "__x", zmic.alias("__z")
    )
    aux = per.groupBy("n", "sx", "sxx", "b0", "b1").agg(
        F.sum("__z").cast(d38).alias("sz"),
        F.sum((F.col("__x").cast(d38) * F.col("__z")).cast(d38))
        .cast(d38)
        .alias("sxz"),
        F.sum((F.col("__z") * F.col("__z")).cast(d38))
        .cast(d38)
        .alias("szz"),
    )
    nd2 = F.col("n").cast("double")
    cov = nd2 * F.col("sxz").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sz").cast("double")
    vx = nd2 * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    vz = nd2 * F.col("szz").cast("double") - F.col("sz").cast(
        "double"
    ) * F.col("sz").cast("double")
    # R2 is scale-free in z: the micro-unit factor appears squared in
    # both cov^2 and vz, so no rescaling is needed
    r2 = cov * cov / (vx * vz)
    lm = nd2 * r2
    return aux.select(
        F.col("n").alias("n_rows"),
        "b0",
        "b1",
        r2.alias("r2_aux"),
        lm.alias("lm_stat"),
        (F.lit(2.0) * normal_sf(F.sqrt(lm))).alias("p_value"),
    )


def arch_lm_test(
    df: DataFrame,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Engle's ARCH(1) LM test on a period series: do squared
    deviations cluster in time (volatility bursts), violating the
    constant-variance reading every z-score / control-band monitor
    assumes?  Mean-model residuals are the N-SCALED integer
    deviations d_t = n v_t - S (exact — no float mean subtraction);
    the test regresses z_t = d_t^2 on z_{t-1} and reads

        LM = m * R2    (m = n - 1 lagged pairs; ~ chi2(1) under H0)

    ALL five auxiliary moments are exact decimal(38,0) integer sums
    (d^4 for a daily count series is ~1e30 — safely inside 38
    digits); R2/LM are fixed double trees and p = 2 normal_sf(
    sqrt(LM)) for the odd df. One lag window over the period table
    (calendar-bounded, post-aggregate contract).

    Returns one row: (n_periods, n_pairs, r2_aux, lm_stat, p_value).
    """
    from .experiments import normal_sf

    d38 = "decimal(38,0)"
    base = df.select(
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("v"),
    )
    tot = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
    )
    z = (
        (F.col("n") * F.col("v") - F.col("s")).cast(d38)
        * (F.col("n") * F.col("v") - F.col("s")).cast(d38)
    ).cast(d38)
    w = Window.orderBy("t")
    per = (
        base.crossJoin(F.broadcast(tot))
        .select("t", "n", z.alias("z"))
        .select("t", "n", "z", F.lag("z", 1).over(w).alias("zl"))
        .filter(F.col("zl").isNotNull())
    )
    aux = per.groupBy("n").agg(
        F.count("*").cast("long").alias("m"),
        F.sum("z").cast(d38).alias("sz"),
        F.sum("zl").cast(d38).alias("szl"),
        F.sum((F.col("z") * F.col("zl")).cast(d38)).cast(d38).alias("szzl"),
        F.sum((F.col("z") * F.col("z")).cast(d38)).cast(d38).alias("szz"),
        F.sum((F.col("zl") * F.col("zl")).cast(d38))
        .cast(d38)
        .alias("szlzl"),
    )
    md = F.col("m").cast("double")
    cov = md * F.col("szzl").cast("double") - F.col("szl").cast(
        "double"
    ) * F.col("sz").cast("double")
    vx = md * F.col("szlzl").cast("double") - F.col("szl").cast(
        "double"
    ) * F.col("szl").cast("double")
    vy = md * F.col("szz").cast("double") - F.col("sz").cast(
        "double"
    ) * F.col("sz").cast("double")
    r2 = cov * cov / (vx * vy)
    lm = md * r2
    return aux.select(
        F.col("n").alias("n_periods"),
        F.col("m").alias("n_pairs"),
        r2.alias("r2_aux"),
        lm.alias("lm_stat"),
        (F.lit(2.0) * normal_sf(F.sqrt(lm))).alias("p_value"),
    )


def adjusted_rand_index(
    df: DataFrame,
    part_a: str,
    part_b: str,
) -> DataFrame:
    """Adjusted Rand index between two partitions of the same items —
    the chance-corrected clustering agreement score (q268's kappa for
    CLUSTERINGS: label-free, permutation-invariant):

        ARI = (SUM_ij C(n_ij,2) - E) / (max_term - E)
        E   = SUM_i C(a_i,2) SUM_j C(b_j,2) / C(n,2)

    Everything reduces to the contingency table (one grouped count;
    cluster-count-bounded) and its margins; all pair counts are EXACT
    integers and the final ratio is one fixed double tree. Returns
    one row: (n_items, n_clusters_a, n_clusters_b, sum_comb_cells,
    expected_index, max_index, ari).
    """
    base = df.select(
        F.col(part_a).alias("pa"), F.col(part_b).alias("pb")
    ).filter(F.col("pa").isNotNull() & F.col("pb").isNotNull())
    cells = base.groupBy("pa", "pb").agg(
        F.count("*").cast("long").alias("nij")
    )
    comb = lambda c: (F.col(c) * (F.col(c) - 1) / 2).cast("long")
    sc = cells.agg(
        F.sum(comb("nij")).cast("long").alias("s_cells"),
        F.sum("nij").cast("long").alias("n"),
    )
    ma = (
        cells.groupBy("pa")
        .agg(F.sum("nij").cast("long").alias("ai"))
        .agg(
            F.sum(comb("ai")).cast("long").alias("s_a"),
            F.count("*").cast("long").alias("ka"),
        )
    )
    mb = (
        cells.groupBy("pb")
        .agg(F.sum("nij").cast("long").alias("bj"))
        .agg(
            F.sum(comb("bj")).cast("long").alias("s_b"),
            F.count("*").cast("long").alias("kb"),
        )
    )
    one = sc.crossJoin(F.broadcast(ma)).crossJoin(F.broadcast(mb))
    nn = comb("n").cast("double")
    e = F.col("s_a").cast("double") * F.col("s_b").cast("double") / nn
    mx = (
        F.col("s_a").cast("double") + F.col("s_b").cast("double")
    ) / F.lit(2.0)
    ari = F.try_divide(
        F.col("s_cells").cast("double") - e, mx - e
    )
    return one.select(
        F.col("n").alias("n_items"),
        F.col("ka").alias("n_clusters_a"),
        F.col("kb").alias("n_clusters_b"),
        F.col("s_cells").alias("sum_comb_cells"),
        e.alias("expected_index"),
        mx.alias("max_index"),
        ari.alias("ari"),
    )


def hosmer_lemeshow(
    df: DataFrame,
    p_col: str,
    y_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit statistic for probability
    predictions against binary outcomes, over FIXED-WIDTH probability
    bands (bin = floor(p * n_bins), clamped — the deterministic
    variant of the classic decile-of-risk grouping; equal-count
    deciles are tie-ambiguous across engines): per band,
    HL term = (O - E)^2 * n / (E * (n - E)) with O = sum(y),
    E = sum(p); bands with E = 0 or E = n drop (term domain). A large
    HL means the predicted probabilities are miscalibrated even if
    ranking (q158-style AUC) is fine. Charter §2B extension.

    Determinism: p is a fixed double tree from the caller; per-row p
    quantizes to decimal(38,12) before the band sum (order-
    independent), O/n are exact integers, and each band term is one
    fixed tree; terms re-quantize before the final sum; callers
    ROUND (<= 9).

    Scale design: ONE groupBy on the band key (map-side combinable,
    <= n_bins groups) + one scalar aggregate.
    """
    if n_bins < 3:
        raise ValueError("n_bins must be >= 3 (df = bins - 2)")
    dq = "decimal(38,12)"
    p = F.col(p_col).cast("double")
    base = df.select(
        F.least(
            F.floor(p * F.lit(n_bins)).cast("long"),
            F.lit(n_bins - 1).cast("long"),
        ).alias("band"),
        F.round(p, 12).cast(dq).alias("pq"),
        F.col(y_col).cast("long").alias("y"),
    )
    bands = base.groupBy("band").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("obs"),
        F.sum("pq").cast(dq).alias("exp"),
    )
    nd = F.col("n").cast("double")
    od = F.col("obs").cast("double")
    ed = F.col("exp").cast("double")
    term = (od - ed) * (od - ed) * nd / (ed * (nd - ed))
    terms = bands.filter((ed > 0) & (ed < nd)).select(
        F.round(term, 12).cast(dq).alias("t")
    )
    return terms.agg(
        F.count("*").cast("long").alias("bands_used"),
        F.sum("t").cast(dq).alias("s"),
    ).select(
        "bands_used",
        F.col("s").cast("double").alias("hl_stat"),
    )


def chatterjee_xi(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Chatterjee's xi rank correlation per group (the ties-general
    form): with rows ordered by (x, y) and r_i = #(y_j <= y_i),
    l_i = #(y_j >= y_i),
    xi = 1 - n * sum|r_{i+1} - r_i| / (2 * sum l_i (n - l_i)).
    Unlike Pearson/Spearman (q374) it detects ARBITRARY functional
    dependence (xi -> 1 iff y is a measurable function of x, noise
    -> 0), and it is asymmetric by design. Ties in x order by y (a
    deterministic stand-in for the definition's random tie-break —
    documented convention; exact xi under heavy x-ties is
    convention-dependent). Charter §2B extension.

    Determinism: r/l come from the distinct-y cumulative count table
    (QUANTIZED-INPUT CONTRACT: band a continuous y upstream), the
    |r-step| sum rides one lag window in (x, y) order, and every
    moment is an exact integer/decimal — xi is ONE double division;
    callers ROUND (<= 9).

    Scale design: one distinct-y count window, one broadcast-size
    join of the rank map onto the rows (or shuffle join on y), one
    ordered lag window per group, one grouped fold.
    """
    d38 = "decimal(38,0)"
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    ycnt = base.groupBy("grp", "y").agg(
        F.count("*").cast("long").alias("c")
    )
    wy = Window.partitionBy("grp").orderBy("y").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranks = ycnt.select(
        "grp",
        "y",
        "c",
        F.sum("c").over(wy).cast("long").alias("r"),
    )
    tot = base.groupBy("grp").agg(F.count("*").cast("long").alias("n"))
    ranks = ranks.join(F.broadcast(tot), "grp").select(
        "grp",
        "y",
        "c",
        "r",
        "n",
        (F.col("n") - F.col("r") + F.col("c")).cast("long").alias("l"),
    )
    rows = base.join(ranks.select("grp", "y", "r", "l", "n"), ["grp", "y"])
    wx = Window.partitionBy("grp").orderBy("x", "y")
    stepped = rows.select(
        "grp",
        "n",
        "l",
        F.abs(F.col("r") - F.lag("r").over(wx)).cast("long").alias("dr"),
    )
    agg = stepped.groupBy("grp").agg(
        F.max("n").cast("long").alias("n_rows"),
        F.sum(F.coalesce(F.col("dr"), F.lit(0))).cast("long").alias("a"),
        F.sum(
            F.col("l").cast(d38) * (F.col("n") - F.col("l"))
        )
        .cast(d38)
        .alias("b"),
    )
    xi = F.lit(1.0) - (
        F.col("n_rows").cast(d38) * F.col("a").cast(d38)
    ).cast(d38).cast("double") / (
        F.lit(2).cast(d38) * F.col("b")
    ).cast(d38).cast("double")
    return agg.select(
        "grp",
        "n_rows",
        F.when(F.col("b") > 0, xi).alias("xi"),
    )


def rank_aggregation(
    df: DataFrame,
    ranking_col: str,
    item_col: str,
    position_col: str,
) -> DataFrame:
    """Borda + Copeland rank aggregation over (ranking_id, item,
    position) rows — the consensus ordering of multiple judges'
    rankings (LLM-judge panels, per-year leaderboards): Borda scores
    each item sum(m_r - position) over rankings (m_r = that
    ranking's item count), Copeland scores majority pairwise wins
    minus losses. Positions are 1-based; every ranking is assumed a
    total order of ITS item set (partial panels simply contribute
    fewer pairs). Charter §2B extension.

    Determinism: all integers until none — both scores are exact.

    Scale design: Borda is ONE grouped sum. Copeland pairwise joins
    the position table with itself ON the ranking key — volume =
    sum_r m_r^2, bounded by the leaderboard width (items-per-
    ranking), never by the ranking count; the (i, j) majority table
    then folds per item. Keep item sets panel-sized (the
    leaderboard-width knob); this is not a corpus-scale pairwise
    join.
    """
    base = df.select(
        F.col(ranking_col).alias("rk"),
        F.col(item_col).alias("item"),
        F.col(position_col).cast("long").alias("pos"),
    )
    sizes = base.groupBy("rk").agg(F.count("*").cast("long").alias("m"))
    borda = (
        base.join(F.broadcast(sizes), "rk")
        .groupBy("item")
        .agg(
            F.count("*").cast("long").alias("n_rankings"),
            F.sum(F.col("m") - F.col("pos")).cast("long").alias("borda"),
        )
    )
    a = base.select("rk", F.col("item").alias("i"), F.col("pos").alias("pi"))
    b = base.select("rk", F.col("item").alias("j"), F.col("pos").alias("pj"))
    pairs = a.join(b, "rk").filter(F.col("i") != F.col("j"))
    wins = pairs.groupBy("i", "j").agg(
        F.sum(F.when(F.col("pi") < F.col("pj"), 1).otherwise(0))
        .cast("long")
        .alias("w"),
        F.count("*").cast("long").alias("cmp"),
    )
    cope = wins.groupBy(F.col("i").alias("item")).agg(
        F.sum(
            F.when(F.lit(2) * F.col("w") > F.col("cmp"), 1)
            .when(F.lit(2) * F.col("w") < F.col("cmp"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("copeland")
    )
    return borda.join(cope, "item", "left").select(
        "item",
        "n_rankings",
        "borda",
        F.coalesce(F.col("copeland"), F.lit(0)).cast("long").alias(
            "copeland"
        ),
    )


def deming_regression(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    lam: float = 1.0,
) -> DataFrame:
    """Deming (errors-in-both-variables) regression per group with
    error-variance ratio ``lam`` (1.0 = total least squares): with
    demeaned exact-integer moments Sxx, Syy, Sxy,
    beta = (Syy - lam*Sxx + sqrt((Syy - lam*Sxx)^2 + 4*lam*Sxy^2))
           / (2*Sxy), alpha = ybar - beta*xbar — the method-
    comparison slope OLS gets WRONG when x is also noisy (completes
    the q450 Lin's CCC / q451 Bland-Altman method-agreement family).
    Sxy = 0 reads NULL (no identifiable line). Charter §2B extension.

    Determinism: the five moments are exact decimal(38,0); the
    discriminant folds in double (decimal would overflow at square
    scale — documented); beta/alpha are fixed trees; callers ROUND
    (<= 9). Scale: ONE map-side-combinable grouped aggregate.
    """
    d38 = "decimal(38,0)"
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x.cast(d38) * x).cast(d38).alias("sxx"),
        F.sum(y.cast(d38) * y).cast(d38).alias("syy"),
        F.sum(x.cast(d38) * y).cast(d38).alias("sxy"),
    )
    n38 = F.col("n_rows").cast(d38)
    dxx = (n38 * F.col("sxx") - F.col("sx").cast(d38) * F.col("sx")).cast(
        d38
    )
    dyy = (n38 * F.col("syy") - F.col("sy").cast(d38) * F.col("sy")).cast(
        d38
    )
    dxy = (n38 * F.col("sxy") - F.col("sx").cast(d38) * F.col("sy")).cast(
        d38
    )
    nd = F.col("n_rows").cast("double")
    sxxd = dxx.cast("double")
    syyd = dyy.cast("double")
    sxyd = dxy.cast("double")
    l = F.lit(float(lam))
    core = syyd - l * sxxd
    beta = F.when(
        dxy != 0,
        (core + F.sqrt(core * core + F.lit(4.0) * l * sxyd * sxyd))
        / (F.lit(2.0) * sxyd),
    )
    alpha = (
        F.col("sy").cast("double") - beta * F.col("sx").cast("double")
    ) / nd
    return agg.select(
        "grp",
        "n_rows",
        beta.alias("beta"),
        alpha.alias("alpha"),
    )


def gamma_tau_c(
    df: DataFrame,
    x_col: str,
    y_col: str,
    m_categories: int | None = None,
) -> DataFrame:
    """Goodman-Kruskal gamma and Stuart's tau-c over QUANTIZED ordinal
    pairs (the kendall_tau_b / somers_d grid, q384/q421's
    contract): gamma = (P - Q)/(P + Q) ignores ties entirely (the
    optimistic bound), tau-c = 2m(P - Q)/(n^2 (m-1)) corrects for a
    rectangular table with m = min(#x levels, #y levels) — the two
    remaining members of the concordance family. ``m_categories``
    overrides the plan-time m (else one eager distinct count each on
    the quantized columns, metadata-sized). Charter §2B extension.

    Determinism: P/Q/n are exact decimals from the shared cell grid;
    both readouts are single fixed trees; callers ROUND (<= 9).
    """
    pc = _ordinal_pair_counts(df, x_col, y_col)
    if m_categories is not None:
        m = int(m_categories)
    else:
        mx = df.select(x_col).filter(F.col(x_col).isNotNull()).distinct().count()
        my = df.select(y_col).filter(F.col(y_col).isNotNull()).distinct().count()
        m = min(mx, my)
    if m < 2:
        raise ValueError("need >= 2 categories on both axes")
    pd_ = F.col("p").cast("double")
    qd = F.col("q").cast("double")
    nd = F.col("n").cast("double")
    md = F.lit(float(m))
    gamma = F.when(
        (F.col("p") + F.col("q")).cast("double") > 0,
        (pd_ - qd) / (pd_ + qd),
    )
    tau_c = (
        F.lit(2.0) * md * (pd_ - qd) / (nd * nd * (md - F.lit(1.0)))
    )
    return pc.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("p").cast("long").alias("concordant"),
        F.col("q").cast("long").alias("discordant"),
        F.lit(m).cast("long").alias("m_categories"),
        gamma.alias("gk_gamma"),
        tau_c.alias("stuart_tau_c"),
    )


def diagnostic_panel(
    df: DataFrame,
    group_col: str,
    truth_col: str,
    flag_col: str,
) -> DataFrame:
    """Diagnostic-test panel per group from binary (truth, flag)
    pairs: sensitivity, specificity, PPV, NPV, the likelihood ratios
    LR+ = sens/(1-spec) and LR- = (1-sens)/spec, prevalence, and
    Youden's J = sens + spec - 1 — the detector scorecard at ONE
    fixed threshold (q158-style AUC summarizes all thresholds; a
    deployed rule runs at one). Degenerate margins read NULL for the
    affected ratios. Charter §2B extension.

    Determinism: the four confusion cells are exact integers; every
    readout is one or two exact-ratio trees; callers ROUND (<= 9).
    Scale: ONE map-side-combinable grouped aggregate.
    """
    t = F.col(truth_col).cast("int")
    fl = F.col(flag_col).cast("int")
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.sum(F.when((t == 1) & (fl == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((t == 0) & (fl == 1), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((t == 1) & (fl == 0), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when((t == 0) & (fl == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn"))
    sens = F.when(F.col("tp") + F.col("fn") > 0, tp / (tp + fn))
    spec = F.when(F.col("fp") + F.col("tn") > 0, tn / (fp + tn))
    ppv = F.when(F.col("tp") + F.col("fp") > 0, tp / (tp + fp))
    npv = F.when(F.col("fn") + F.col("tn") > 0, tn / (fn + tn))
    lr_pos = F.when(
        spec.isNotNull() & sens.isNotNull() & (spec < 1),
        sens / (F.lit(1.0) - spec),
    )
    lr_neg = F.when(
        spec.isNotNull() & sens.isNotNull() & (spec > 0),
        (F.lit(1.0) - sens) / spec,
    )
    n = tp + fp + fn + tn
    return agg.select(
        "grp",
        "tp",
        "fp",
        "fn",
        "tn",
        (tp + fn).cast("long").alias("n_pos"),
        ((tp + fn) / n).alias("prevalence"),
        sens.alias("sensitivity"),
        spec.alias("specificity"),
        ppv.alias("ppv"),
        npv.alias("npv"),
        lr_pos.alias("lr_pos"),
        lr_neg.alias("lr_neg"),
        (sens + spec - F.lit(1.0)).alias("youden_j"),
    )


def forecast_skill_scores(
    df: DataFrame,
    group_col: str,
    truth_col: str,
    flag_col: str,
) -> DataFrame:
    """Categorical forecast-verification skill scores per group from
    binary (event, forecast) pairs: Heidke (HSS — accuracy above
    chance), Peirce (PSS = sensitivity + specificity - 1, the
    base-rate-free true-skill statistic), and the Gilbert/equitable
    threat score (ETS — hits above chance over all flagged-or-
    observed) — the meteorology-grade upgrades of raw accuracy for
    RARE events, where a never-flag forecaster scores 0 on all three
    instead of 95% accuracy. Complements q613's diagnostic-panel
    ratios. Degenerate margins read NULL. Charter §2B extension.

    Determinism: the four confusion cells are exact integers;
    HSS/PSS/ETS reduce to exact-integer-numerator fixed trees;
    callers ROUND (<= 9). Scale: ONE map-side-combinable grouped
    aggregate.
    """
    d38 = "decimal(38,0)"
    t = F.col(truth_col).cast("int")
    fl = F.col(flag_col).cast("int")
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.sum(F.when((t == 1) & (fl == 1), 1).otherwise(0))
        .cast("long")
        .alias("hits"),
        F.sum(F.when((t == 0) & (fl == 1), 1).otherwise(0))
        .cast("long")
        .alias("false_alarms"),
        F.sum(F.when((t == 1) & (fl == 0), 1).otherwise(0))
        .cast("long")
        .alias("misses"),
        F.sum(F.when((t == 0) & (fl == 0), 1).otherwise(0))
        .cast("long")
        .alias("correct_neg"),
    )
    a = F.col("hits").cast(d38)
    b = F.col("false_alarms").cast(d38)
    c = F.col("misses").cast(d38)
    d = F.col("correct_neg").cast(d38)
    n = (a + b + c + d).cast(d38)
    # HSS = 2(ad - bc) / ((a+c)(c+d) + (a+b)(b+d))
    hss_num = (F.lit(2).cast(d38) * (a * d - b * c).cast(d38)).cast(d38)
    hss_den = (
        ((a + c).cast(d38) * (c + d).cast(d38)).cast(d38)
        + ((a + b).cast(d38) * (b + d).cast(d38)).cast(d38)
    ).cast(d38)
    # PSS = (ad - bc) / ((a+c)(b+d))
    pss_num = (a * d - b * c).cast(d38)
    pss_den = ((a + c).cast(d38) * (b + d).cast(d38)).cast(d38)
    # ETS: a_r = (a+b)(a+c)/n ; ETS = (a - a_r)/(a + b + c - a_r)
    ar = ((a + b).cast(d38) * (a + c).cast(d38)).cast(d38).cast(
        "double"
    ) / n.cast("double")
    ets_num = a.cast("double") - ar
    ets_den = (a + b + c).cast("double") - ar
    return agg.select(
        "grp",
        "hits",
        "false_alarms",
        "misses",
        "correct_neg",
        F.when(
            hss_den > 0, hss_num.cast("double") / hss_den.cast("double")
        ).alias("heidke_hss"),
        F.when(
            pss_den > 0, pss_num.cast("double") / pss_den.cast("double")
        ).alias("peirce_pss"),
        F.when(ets_den != 0, ets_num / ets_den).alias("gilbert_ets"),
    )


def brier_skill_score(
    df: DataFrame,
    group_col: str,
    prob_col: str,
    outcome_col: str,
) -> DataFrame:
    """Brier skill score per group: BSS = 1 - BS / BS_clim, the
    probability forecast's improvement over always forecasting the
    group's own base rate (BS_clim = pbar * (1 - pbar)) — positive
    means the scores carry real information, <= 0 means you should
    ship the base rate instead. The skill normalization the raw
    Brier (q?5's decomposition) lacks. Degenerate groups (base rate
    0 or 1) read NULL. Charter §2B extension.

    Determinism: per-row squared errors quantize to decimal(38,12)
    before the grouped sum (order-free; probabilities are O(1) so
    the grid is coarser than the ulp); the base rate is an exact
    integer ratio; readouts are fixed trees; callers ROUND (<= 9).
    Scale: ONE map-side-combinable grouped aggregate.
    """
    dq = "decimal(38,12)"
    p = F.col(prob_col).cast("double")
    y = F.col(outcome_col).cast("int")
    base = df.select(
        F.col(group_col).alias("grp"),
        y.alias("y"),
        F.round((p - y.cast("double")) * (p - y.cast("double")), 12)
        .cast(dq)
        .alias("se"),
    )
    agg = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("se").cast(dq).alias("sse"),
    )
    nd = F.col("n_rows").cast("double")
    bs = F.col("sse").cast("double") / nd
    pbar = F.col("n_pos").cast("double") / nd
    bs_clim = pbar * (F.lit(1.0) - pbar)
    return agg.select(
        "grp",
        "n_rows",
        "n_pos",
        bs.alias("brier"),
        bs_clim.alias("brier_clim"),
        F.when(
            bs_clim > 0, F.lit(1.0) - bs / bs_clim
        ).alias("brier_skill"),
    )


def cluster_validity(
    df: DataFrame,
    label_col: str,
    feature_cols: list,
) -> DataFrame:
    """Calinski-Harabasz and Davies-Bouldin cluster-validity panel
    over INTEGER feature columns — "does this labeling actually
    separate the data?" (the global companions of q272's per-label
    simplified silhouette):

        CH = (B/(k-1)) / (W/(n-k))   with W/B the exact within/
                                     between sums of squares
        DB = mean_i max_{j!=i} (s_i + s_j) / d_ij

    where s_i is cluster i's mean point-to-centroid Euclidean
    distance and d_ij the centroid distance.

    Determinism: features must be integer-valued and banded so each
    per-cluster S^2 fits 63 bits (the q540 kilo-unit contract — the
    caller's banding choice is the 100x headroom knob). W and B split
    into exact integer quotients plus sub-unit remainder ratios folded
    in label order (the q540 div/frac discipline), so CH is a fixed
    double tree. DB's per-point sqrt distances quantize to
    decimal(38,9) before the per-cluster sum; the k DB terms fold in
    label order (metadata-sized). sqrt is IEEE-correctly-rounded
    (libm-exempt).

    Scale: one groupBy over the points for the moments, one map-only
    pass against the broadcast k x d centroid table for the distances,
    and all remaining algebra on k- and k^2-row metadata tables.

    Returns one row: (k, n, ss_within, ss_between,
    calinski_harabasz, davies_bouldin).
    """
    d38 = "decimal(38,0)"
    dq9 = "decimal(38,9)"
    feats = list(feature_cols)
    base = df.select(
        F.col(label_col).alias("lab"),
        *[F.col(c).cast("long").alias(f"x{i}") for i, c in enumerate(feats)],
    )
    aggs = [F.count("*").cast("long").alias("nc")]
    for i in range(len(feats)):
        aggs.append(F.sum(f"x{i}").cast("long").alias(f"s{i}"))
        aggs.append(
            F.sum(F.col(f"x{i}") * F.col(f"x{i}")).cast("long").alias(f"q{i}")
        )
    cl = base.groupBy("lab").agg(*aggs)

    def qf(s, n):
        qq = F.expr(f"{s} div {n}").cast("long")
        fr = (F.col(s) - qq * F.col(n)).cast("double") / F.col(n).cast(
            "double"
        )
        return qq, fr

    # per-cluster sum over dims of S^2/n split into int + frac parts
    sq_cols, fr_cols = [], []
    for i in range(len(feats)):
        cl = cl.withColumn(f"sq{i}", F.col(f"s{i}") * F.col(f"s{i}"))
        qq, fr = qf(f"sq{i}", "nc")
        sq_cols.append(qq)
        fr_cols.append(fr)
    cl = cl.withColumn(
        "qq_c", sum(sq_cols[1:], sq_cols[0])
    ).withColumn("fr_c", sum(fr_cols[1:], fr_cols[0]))
    tot_aggs = [
        F.sum("nc").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum(
            sum(
                [F.col(f"q{i}") for i in range(1, len(feats))],
                F.col("q0"),
            )
        )
        .cast("long")
        .alias("ssq_all"),
        F.sum("qq_c").cast("long").alias("qq_sum"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lab", F.col("fr_c")))),
            F.lit(0.0),
            lambda a, e: a + e["fr_c"],
        ).alias("fr_sum"),
    ]
    for i in range(len(feats)):
        tot_aggs.append(F.sum(f"s{i}").cast("long").alias(f"ts{i}"))
    tot = cl.agg(*tot_aggs)
    # grand correction term T^2/n per dim
    gq_cols, gf_cols = [], []
    for i in range(len(feats)):
        tot = tot.withColumn(f"tsq{i}", F.col(f"ts{i}") * F.col(f"ts{i}"))
        qq, fr = qf(f"tsq{i}", "n")
        gq_cols.append(qq)
        gf_cols.append(fr)
    tot = tot.withColumn(
        "gq", sum(gq_cols[1:], gq_cols[0])
    ).withColumn("gf", sum(gf_cols[1:], gf_cols[0]))
    ssw = (F.col("ssq_all") - F.col("qq_sum")).cast("double") - F.col(
        "fr_sum"
    )
    ssb = (F.col("qq_sum") - F.col("gq")).cast("double") + (
        F.col("fr_sum") - F.col("gf")
    )
    ch = F.when(
        (F.col("k") > 1) & (F.col("n") > F.col("k")),
        (ssb / (F.col("k") - 1).cast("double"))
        / (ssw / (F.col("n") - F.col("k")).cast("double")),
    )
    # centroids (k x d metadata) -> per-point quantized distances
    cents = cl.select(
        F.col("lab").alias("clab"),
        "nc",
        *[
            (F.col(f"s{i}").cast("double") / F.col("nc").cast("double")).alias(
                f"m{i}"
            )
            for i in range(len(feats))
        ],
    )
    pts = base.join(
        F.broadcast(cents), base.lab == F.col("clab")
    )
    dist2 = None
    for i in range(len(feats)):
        t = (F.col(f"x{i}").cast("double") - F.col(f"m{i}")) * (
            F.col(f"x{i}").cast("double") - F.col(f"m{i}")
        )
        dist2 = t if dist2 is None else dist2 + t
    s_i = (
        pts.select(
            "lab", F.round(F.sqrt(dist2), 9).cast(dq9).alias("dq")
        )
        .groupBy("lab")
        .agg(
            (
                F.sum("dq").cast(dq9).cast("double")
                / F.count("*").cast("double")
            ).alias("s_mean")
        )
    )
    ci = cents.join(s_i, s_i.lab == cents.clab).select(
        "clab", "s_mean", *[f"m{i}" for i in range(len(feats))]
    )
    a = ci.select(
        F.col("clab").alias("la"),
        F.col("s_mean").alias("sa"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(len(feats))],
    )
    b = ci.select(
        F.col("clab").alias("lb"),
        F.col("s_mean").alias("sb"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(len(feats))],
    )
    cd2 = None
    for i in range(len(feats)):
        t = (F.col(f"a{i}") - F.col(f"b{i}")) * (
            F.col(f"a{i}") - F.col(f"b{i}")
        )
        cd2 = t if cd2 is None else cd2 + t
    pair = (
        a.crossJoin(b)
        .filter(F.col("la") != F.col("lb"))
        .select(
            "la",
            ((F.col("sa") + F.col("sb")) / F.sqrt(cd2)).alias("r"),
        )
    )
    db_terms = pair.groupBy("la").agg(F.max("r").alias("rmax"))
    db = db_terms.agg(
        (
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("la", F.col("rmax")))),
                F.lit(0.0),
                lambda acc, e: acc + e["rmax"],
            )
            / F.count("*").cast("double")
        ).alias("davies_bouldin")
    )
    # ss readouts go out UNROUNDED: their magnitude can push x*10^k
    # past exact-double range where DuckDB's double ROUND corrupts
    # while Spark's BigDecimal round stays exact (the q604 lesson);
    # the raw fixed trees are bitwise-equal as-is.
    return tot.select(
        "k",
        "n",
        ssw.alias("ss_within"),
        ssb.alias("ss_between"),
        F.round(ch, 9).alias("calinski_harabasz"),
    ).crossJoin(F.broadcast(db.select(F.round("davies_bouldin", 9).alias("davies_bouldin"))))


def naive_bayes_confusion(
    df: DataFrame,
    id_col: str,
    class_col: str,
    feature_cols: list,
    alpha: int = 1,
) -> DataFrame:
    """Categorical (multinomial) naive Bayes trained and scored on the
    SAME table, reported as a confusion matrix — the classic "is this
    label predictable from these columns at all?" probe. Laplace
    smoothing with integer ``alpha``:

        score(c | row) = ln(n_c / n)
                       + sum_f ln((n_{c,f=v} + alpha)
                                  / (n_c + alpha * V_f))

    where V_f is feature f's distinct-value count. Prediction is the
    max-score class, smallest class label on ties.

    Determinism: every probability is a ratio of exact integers; each
    ln term quantizes to ROUND(ln, 12)::decimal(38,12) at MODEL-BUILD
    time (metadata-sized tables), so a row's score is an exact decimal
    sum of 1 + len(feature_cols) quantized terms — order-free and
    bitwise comparable; the argmax is min(struct(-score, class)),
    total because decimal compare is exact.

    Scale: the model is (classes x values) per feature — broadcast;
    scoring is one map-side pass per feature join over rows x k
    class candidates (k small); the confusion matrix is one groupBy.

    Returns (actual, predicted, n_rows) sorted by the caller.
    """
    dq12 = "decimal(38,12)"
    feats = list(feature_cols)
    a = int(alpha)
    base = df.select(
        F.col(id_col).alias("rid"),
        F.col(class_col).cast("string").alias("cls"),
        *[
            F.col(c).cast("string").alias(f"f{i}")
            for i, c in enumerate(feats)
        ],
    )
    # ONE scan for every driver-side scalar the model needs (r12):
    # n_all and the per-feature distinct-value counts each ran their
    # own action over the full input before (1 + len(feats) jobs, each
    # recomputing the caller's join). countDistinct skips NULL, so a
    # NULL-presence flag restores the exact distinct-including-NULL
    # count the smoothing denominator used.
    scalars = base.agg(
        F.count("*").alias("__n"),
        *[
            c
            for i in range(len(feats))
            for c in (
                F.countDistinct(f"f{i}").alias(f"__v{i}"),
                F.max(F.col(f"f{i}").isNull().cast("int")).alias(f"__nl{i}"),
            )
        ],
    ).collect()[0]
    n_all = scalars["__n"]
    v_fs = [
        int(scalars[f"__v{i}"]) + int(scalars[f"__nl{i}"] or 0)
        for i in range(len(feats))
    ]
    classes = base.groupBy("cls").agg(
        F.count("*").cast("long").alias("n_c")
    )
    prior = classes.select(
        "cls",
        "n_c",
        F.round(
            F.log(F.col("n_c").cast("double") / F.lit(float(n_all))), 12
        )
        .cast(dq12)
        .alias("prior_ll"),
    )
    scored = base.crossJoin(
        F.broadcast(prior.select(F.col("cls").alias("cand"), "n_c",
                                 "prior_ll"))
    ).withColumn("score", F.col("prior_ll"))
    for i in range(len(feats)):
        cnt = base.groupBy(
            F.col("cls").alias("cand"), F.col(f"f{i}").alias("val")
        ).agg(F.count("*").cast("long").alias("n_cv"))
        # every row lands in cnt, so cnt's distinct vals ARE the
        # feature's distinct values — deriving them here instead of
        # from base saves a full input scan per feature in the lazy
        # scoring plan (r12)
        vals = cnt.select("val").distinct()
        grid = (
            prior.select(F.col("cls").alias("cand"), "n_c")
            .crossJoin(vals)
            .join(cnt, ["cand", "val"], "left")
            .withColumn(
                "n_cv", F.coalesce("n_cv", F.lit(0).cast("long"))
            )
        )
        v_f = v_fs[i]
        ll = grid.select(
            "cand",
            "val",
            F.round(
                F.log(
                    (F.col("n_cv") + a).cast("double")
                    / (F.col("n_c") + a * v_f).cast("double")
                ),
                12,
            )
            .cast(dq12)
            .alias(f"ll{i}"),
        )
        scored = scored.join(
            F.broadcast(ll.withColumnRenamed("val", f"f{i}")),
            ["cand", f"f{i}"],
        ).withColumn(
            "score", (F.col("score") + F.col(f"ll{i}")).cast(dq12)
        )
    best = scored.groupBy("rid", "cls").agg(
        F.min(
            F.struct(
                (-F.col("score")).cast(dq12).alias("ns"),
                F.col("cand").alias("cand"),
            )
        ).alias("b")
    )
    return best.groupBy(
        F.col("cls").alias("actual"), F.col("b.cand").alias("predicted")
    ).agg(F.count("*").cast("long").alias("n_rows"))


def kendalls_w(
    df: DataFrame,
    judge_col: str,
    item_col: str,
    score_col,
) -> DataFrame:
    """Kendall's coefficient of concordance W — do m judges agree on
    the ranking of n items? (the m-ranker generalization of the
    pairwise rank correlations already in the corpus). Items must be
    scored by EVERY judge (enforce completeness upstream); ranks are
    ascending-by-score with average ties:

        W = 12*S / (m^2*(n^3 - n) - m*sum_j T_j),
        S = sum_i (R_i - mean R)^2,   T_j = sum ties (t^3 - t)

    Determinism: DOUBLED ranks keep everything integer — 2*avgrank =
    2*RANK() + (t - 1), the doubled rank-sum mean is EXACTLY
    m*(n+1), so 4*S = sum_i (D_i - m*(n+1))^2 is an exact integer and
    W = 3*(4S) / (m^2*(n^3-n) - m*sum T) is ONE division of exact
    integers. chi2_approx = m*(n-1)*W is the usual large-n test
    statistic (fixed tree).

    Scale: one rank window PER JUDGE partition (judge-keyed), one
    item aggregate, one final row.

    Returns (n_items, m_judges, s4, tie_correction, kendall_w,
    chi2_approx).
    """
    d38 = "decimal(38,0)"
    sc = (
        F.col(score_col) if isinstance(score_col, str) else score_col
    ).cast("long")
    base = df.select(
        F.col(judge_col).alias("j"),
        F.col(item_col).alias("i"),
        sc.alias("v"),
    )
    wj = Window.partitionBy("j").orderBy("v")
    peers = Window.partitionBy("j", "v")
    ranked = base.select(
        "j",
        "i",
        (
            F.lit(2) * F.rank().over(wj)
            + F.count("*").over(peers)
            - 1
        ).cast("long").alias("d2"),
        F.count("*").over(peers).cast("long").alias("t"),
    )
    ties = (
        ranked.groupBy("j", "d2", "t")
        .agg(F.lit(1))
        .groupBy("j")
        .agg(
            F.sum(
                (F.col("t").cast(d38) * F.col("t") * F.col("t")
                 - F.col("t")).cast(d38)
            ).cast("long").alias("tj")
        )
        .agg(F.sum("tj").cast("long").alias("tie_corr"),
             F.count("*").cast("long").alias("m"))
    )
    sums = ranked.groupBy("i").agg(
        F.sum("d2").cast("long").alias("di"),
        F.count("*").cast("long").alias("mi"),
    )
    stats = sums.agg(
        F.count("*").cast("long").alias("n"),
        F.max("mi").cast("long").alias("m_chk"),
        F.min("mi").cast("long").alias("m_chk2"),
        F.collect_list("di").alias("_di"),
    ).select("n", "m_chk", "m_chk2")
    # 4S needs the doubled mean m*(n+1): join the 1-row aggregates
    one = sums.crossJoin(F.broadcast(ties)).crossJoin(
        F.broadcast(stats)
    )
    s4 = one.select(
        "n",
        "m",
        "tie_corr",
        "m_chk",
        "m_chk2",
        (
            (F.col("di") - F.col("m") * (F.col("n") + 1)).cast(d38)
            * (F.col("di") - F.col("m") * (F.col("n") + 1))
        ).cast(d38).alias("sq"),
    ).groupBy("n", "m", "tie_corr", "m_chk", "m_chk2").agg(
        F.sum("sq").cast(d38).alias("s4")
    )
    denom = (
        F.col("m").cast(d38) * F.col("m")
        * (
            F.col("n").cast(d38) * F.col("n") * F.col("n") - F.col("n")
        ).cast(d38)
        - F.col("m").cast(d38) * F.col("tie_corr")
    ).cast(d38)
    wstat = F.when(
        (F.col("m_chk") == F.col("m")) & (F.col("m_chk2") == F.col("m"))
        & (denom > 0),
        F.lit(3).cast(d38).cast("double") * F.col("s4").cast("double")
        / denom.cast("double"),
    )
    return s4.select(
        F.col("n").alias("n_items"),
        F.col("m").alias("m_judges"),
        F.col("s4").cast("long").alias("s4"),
        F.col("tie_corr").alias("tie_correction"),
        F.round(wstat, 9).alias("kendall_w"),
        F.round(
            F.col("m").cast("double")
            * (F.col("n") - 1).cast("double")
            * wstat,
            6,
        ).alias("chi2_approx"),
    )
