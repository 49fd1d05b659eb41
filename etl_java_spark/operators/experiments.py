"""A/B experiment analysis: deterministic variant assignment + Welch's
t statistic from exact streaming moments.

Charter §2B extension (no reference counterpart — RoberWaters/ETL-Java,
src/etl/ETLProcess.java:1-568). Experiment readouts are the analytics
sibling of the split-assignment operator (sampling.assign_split): the
same arithmetic key hash buckets users into variants — reproducible on
any cluster, no seed, no sample() — and the test statistic reduces to
five map-side-combinable aggregates per variant.

Determinism: per-variant sums run in exact integer micro-units
(decimal aggregation — order-independent), and mean/variance/t are
derived in double through ONE fixed expression tree, so every engine
computes the identical IEEE result (+,-,*,/ and sqrt are all
correctly-rounded). No resampling, no approximation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.checkpoints import materialize

from .sampling import key_bucket


def ab_assign(key, n_variants: int = 2) -> Column:
    """Deterministic variant id in [0, n_variants) from the unit key."""
    return key_bucket(key, 10000) % n_variants


def welch_t(
    df: DataFrame,
    unit_col: str,
    metric_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Two-sample Welch t readout for an A/B split on ``unit_col``.

    The metric is scaled to exact integer micro-units
    (``round(metric * scale)`` as long) so per-variant sum and
    sum-of-squares aggregate exactly (decimal, order-independent);
    means, Welch-Satterthwaite variances, and t then derive in double:

        m = S/n,  v = (SS - S^2/n) / (n - 1),
        t = (m_a - m_b) / sqrt(v_a/n_a + v_b/n_b)

    Returns ONE row: (n_a, n_b, mean_a, mean_b, var_a, var_b, t_welch)
    with means/variances in scaled-unit space (divide by ``scale`` /
    ``scale^2`` for natural units — kept integer-scaled here so the
    row is exactly reproducible).

    Pick ``scale`` so the scaled sum-of-squares stays below 2^53:
    beyond that the exact integer no longer converts to double
    identically everywhere (DuckDB's HUGEINT->DOUBLE cast is not
    correctly rounded past 2^53 — found by the oracle gate), and the
    t statistic stops being bit-reproducible cross-engine.

    Scale: a single grouped aggregation over the metric table (2 groups,
    map-side combined) + a 2-row pivot on the driver-side plan — no
    shuffle of the raw data beyond the one agg.
    """
    d38 = "decimal(38,0)"
    u = F.round(F.col(metric_col) * scale).cast("long")
    per = (
        df.select(ab_assign(unit_col).alias("variant"), u.alias("u"))
        .groupBy("variant")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("u").cast(d38)).alias("s"),
            # cast BEFORE the square: long*long would overflow for
            # micro-units beyond ~3e9; decimal x long cannot
            F.sum((F.col("u").cast(d38) * F.col("u")).cast(d38)).alias("ss"),
        )
    )
    a = per.filter(F.col("variant") == 0).select(
        F.col("n").alias("n_a"),
        F.col("s").cast("double").alias("sa"),
        F.col("ss").cast("double").alias("ssa"),
    )
    b = per.filter(F.col("variant") == 1).select(
        F.col("n").alias("n_b"),
        F.col("s").cast("double").alias("sb"),
        F.col("ss").cast("double").alias("ssb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    mean_a = F.col("sa") / na
    mean_b = F.col("sb") / nb
    var_a = (F.col("ssa") - F.col("sa") * F.col("sa") / na) / (na - 1)
    var_b = (F.col("ssb") - F.col("sb") * F.col("sb") / nb) / (nb - 1)
    return (
        a.crossJoin(b)
        .select(
            "n_a",
            "n_b",
            mean_a.alias("mean_a"),
            mean_b.alias("mean_b"),
            var_a.alias("var_a"),
            var_b.alias("var_b"),
            (
                (mean_a - mean_b)
                / F.sqrt(var_a / na + var_b / nb)
            ).alias("t_welch"),
        )
    )


def proportion_ztest(
    df: DataFrame,
    unit_col: str,
    success_col,
) -> DataFrame:
    """Two-proportion z-test for an A/B split on ``unit_col``: the
    conversion-rate readout (``welch_t`` handles continuous metrics;
    this is its binary-outcome sibling, the single most common
    experiment decision statistic).

        z = (p_a - p_b) / sqrt(p * (1 - p) * (1/n_a + 1/n_b))

    with p the pooled rate. Variant comes from the same deterministic
    ``ab_assign`` hash as every experiment operator here (never a
    seeded sample — assignment must be reproducible row-for-row on any
    engine). Counts are exact integers from one 2-group aggregate; z is
    a fixed double expression, so the whole row is bit-reproducible.

    Returns one row: (n_a, n_b, x_a, x_b, p_a, p_b, z).
    """
    success = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    ).cast("int")
    per = (
        df.select(ab_assign(unit_col).alias("__v"), success.alias("__s"))
        .groupBy("__v")
        .agg(F.count("*").alias("__n"), F.sum("__s").cast("long").alias("__x"))
    )
    row = per.agg(
        F.max(F.when(F.col("__v") == 0, F.col("__n"))).cast("long").alias("n_a"),
        F.max(F.when(F.col("__v") == 1, F.col("__n"))).cast("long").alias("n_b"),
        F.max(F.when(F.col("__v") == 0, F.col("__x"))).cast("long").alias("x_a"),
        F.max(F.when(F.col("__v") == 1, F.col("__x"))).cast("long").alias("x_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    xa, xb = F.col("x_a").cast("double"), F.col("x_b").cast("double")
    pa, pb = xa / na, xb / nb
    pool = (xa + xb) / (na + nb)
    z = (pa - pb) / F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    # degenerate pooled rate (nobody / everybody converts) -> the pooled
    # variance is 0 and z is undefined; NULL, not an ANSI
    # divide-by-zero (the CASE guards the division on both engines)
    z_guarded = F.when(
        (F.col("x_a") + F.col("x_b") > 0)
        & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b")),
        z,
    )
    return row.select(
        "n_a", "n_b", "x_a", "x_b",
        F.round(pa, 12).alias("p_a"),
        F.round(pb, 12).alias("p_b"),
        F.round(z_guarded, 12).alias("z"),
    )


# Standard-normal quantiles for the supported (alpha, power) grid —
# HARDCODED (never two engines' erfinv; the Benford-shares discipline).
_Z_ALPHA_2 = {0.05: 1.959963984540054, 0.01: 2.5758293035489004}
_Z_POWER = {0.8: 0.8416212335729143, 0.9: 1.2815515655446004}


def required_sample_size(
    df: DataFrame,
    unit_col: str,
    success_col,
    mde: float = 0.05,
    alpha: float = 0.05,
    power: float = 0.8,
) -> DataFrame:
    """A/B pre-experiment power analysis: the per-arm sample size needed
    to detect an absolute lift of ``mde`` over the CURRENT conversion
    rate (read from the data — the half of power analysis people
    hand-wave) at the given significance and power:

        n = ceil((z_a + z_b)^2 * (p1(1-p1) + p2(1-p2)) / mde^2)

    z quantiles come from a hardcoded table for the supported
    (alpha, power) grid — engine-portable by construction. One
    2-cell aggregate over the units; the rest is O(1) arithmetic.

    Returns one row: (n_units, x_success, p1, p2, n_per_arm).
    """
    if alpha not in _Z_ALPHA_2 or power not in _Z_POWER:
        raise ValueError(
            f"unsupported (alpha={alpha}, power={power}); "
            f"supported: {sorted(_Z_ALPHA_2)} x {sorted(_Z_POWER)}"
        )
    za, zb = _Z_ALPHA_2[alpha], _Z_POWER[power]
    success = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    ).cast("int")
    agg = df.agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum(success).cast("long").alias("x_success"),
    )
    p1 = F.col("x_success").cast("double") / F.col("n_units").cast("double")
    p2 = p1 + F.lit(mde)
    n = F.ceil(
        (F.lit(za) + F.lit(zb))
        * (F.lit(za) + F.lit(zb))
        * (p1 * (F.lit(1.0) - p1) + p2 * (F.lit(1.0) - p2))
        / (F.lit(mde) * F.lit(mde))
    ).cast("long")
    return agg.select(
        "n_units",
        "x_success",
        F.round(p1, 12).alias("p1"),
        F.round(p2, 12).alias("p2"),
        n.alias("n_per_arm"),
    )


def diff_in_diff(
    df: DataFrame,
    unit_col: str,
    ts_col: str,
    metric_col: str,
    cutoff,
    cents_scale: int = 100,
) -> DataFrame:
    """Difference-in-differences estimator: the causal readout when a
    launch has a BEFORE/AFTER boundary as well as a treat/control
    split. The naive post-period delta confounds the treatment with
    time trends; DiD removes any trend common to both groups:

        did = (m_treat_post - m_treat_pre) - (m_ctrl_post - m_ctrl_pre)

    Treatment comes from the same deterministic ``ab_assign`` hash as
    every experiment operator here; period is ``ts >= cutoff``. The
    metric is scaled to exact integer cents, so the four cell sums
    aggregate exactly (decimal, order-independent); the four means and
    the DiD contrast derive in double through one fixed expression tree
    — the row is bit-reproducible on any engine.

    Returns ONE row: per-cell counts and means (cents) plus ``did``.

    Scale: one 4-group aggregate with map-side combine; nothing else
    shuffles.
    """
    cents = F.round(F.col(metric_col) * cents_scale).cast("long")
    cells = (
        df.select(
            ab_assign(unit_col).alias("__g"),
            (F.col(ts_col) >= F.lit(cutoff)).cast("int").alias("__p"),
            cents.alias("__v"),
        )
        .groupBy("__g", "__p")
        .agg(
            F.count("*").alias("__n"),
            F.sum(F.col("__v").cast("decimal(38,0)")).alias("__s"),
        )
    )

    def _cell(g: int, p: int, src: str, alias: str):
        picked = F.max(
            F.when((F.col("__g") == g) & (F.col("__p") == p), F.col(src))
        )
        if src == "__n":
            picked = picked.cast("long")
        return picked.alias(alias)

    tags = {(0, 0): "c_pre", (0, 1): "c_post", (1, 0): "t_pre", (1, 1): "t_post"}
    row = cells.agg(
        *[_cell(g, p, "__n", f"n_{t}") for (g, p), t in tags.items()],
        *[_cell(g, p, "__s", f"__s_{t}") for (g, p), t in tags.items()],
    )

    def _mean(t: str):
        return F.col(f"__s_{t}").cast("double") / F.col(f"n_{t}").cast(
            "double"
        )

    means = {t: _mean(t) for t in tags.values()}
    did = (means["t_post"] - means["t_pre"]) - (
        means["c_post"] - means["c_pre"]
    )
    return row.select(
        "n_c_pre", "n_c_post", "n_t_pre", "n_t_post",
        *[means[t].alias(f"mean_{t}") for t in tags.values()],
        did.alias("did"),
    )


def cuped(
    df: DataFrame,
    unit_col: str,
    pre_col: str,
    post_col: str,
) -> DataFrame:
    """CUPED variance reduction (Controlled-experiment Using
    Pre-Experiment Data): adjust each unit's experiment metric by its
    own pre-period behavior,

        y_adj = y - theta * (x - mean(x)),   theta = cov(x, y) / var(x)

    which shrinks metric variance by exactly corr(x, y)^2 — the
    industry-standard way to make A/B tests decisive on fewer users.
    Treatment comes from ``ab_assign``; ``pre_col``/``post_col`` are
    exact integer units per unit (scaled cents).

    One 2-group aggregate of exact decimal moments; theta, the
    adjusted per-arm means, both deltas, and the variance-reduction
    fraction derive in one fixed double expression tree — unrounded
    bitwise.

    Returns ONE row: (n_a, n_b, theta, mean_a, mean_b, adj_mean_a,
    adj_mean_b, diff, adj_diff, var_reduction).
    """
    d38 = "decimal(38,0)"
    x = F.col(pre_col).cast(d38)
    y = F.col(post_col).cast(d38)
    per = (
        df.select(
            ab_assign(unit_col).alias("__g"), x.alias("__x"), y.alias("__y")
        )
        .groupBy("__g")
        .agg(
            F.count("*").alias("__n"),
            F.sum("__x").alias("__sx"),
            F.sum("__y").alias("__sy"),
            F.sum((F.col("__x") * F.col("__x")).cast(d38)).alias("__sxx"),
            F.sum((F.col("__x") * F.col("__y")).cast(d38)).alias("__sxy"),
            F.sum((F.col("__y") * F.col("__y")).cast(d38)).alias("__syy"),
        )
    )

    def pick(g, c, alias):
        return (
            F.max(F.when(F.col("__g") == g, F.col(c)))
            .cast("double")
            .alias(alias)
        )

    row = per.agg(
        *[pick(g, c, f"{c[2:]}_{'ab'[g]}")
          for g in (0, 1)
          for c in ("__n", "__sx", "__sy", "__sxx", "__sxy", "__syy")]
    )
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    sx = F.col("sx_a") + F.col("sx_b")
    sy = F.col("sy_a") + F.col("sy_b")
    sxx = F.col("sxx_a") + F.col("sxx_b")
    sxy = F.col("sxy_a") + F.col("sxy_b")
    syy = F.col("syy_a") + F.col("syy_b")
    cov = sxy - sx * sy / n
    varx = sxx - sx * sx / n
    vary = syy - sy * sy / n
    # degenerate inputs (constant covariate / constant metric) -> the
    # ratio is undefined; NULL, never an ANSI divide-by-zero
    theta = F.when(varx > 0, cov / varx)
    mx = sx / n
    mean_a, mean_b = F.col("sy_a") / na, F.col("sy_b") / nb
    adj_a = mean_a - theta * (F.col("sx_a") / na - mx)
    adj_b = mean_b - theta * (F.col("sx_b") / nb - mx)
    return row.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        theta.alias("theta"),
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        adj_a.alias("adj_mean_a"),
        adj_b.alias("adj_mean_b"),
        (mean_b - mean_a).alias("diff"),
        (adj_b - adj_a).alias("adj_diff"),
        F.when((varx > 0) & (vary > 0), cov * cov / (varx * vary)).alias(
            "var_reduction"
        ),
    )


def stratified_ipw(
    df: DataFrame,
    stratum_col: str,
    treated_col: str,
    outcome_col: str,
    scale: int = 100,
) -> DataFrame:
    """Stratified inverse-propensity-weighted treatment-effect estimate
    for OBSERVATIONAL data (no randomized assignment): within each
    stratum the propensity e_s = n_treated / n is the exact empirical
    treatment share, and the ATE is the propensity-weighted contrast

        ATE = sum_s [ (Y1_s / e_s) - (Y0_s / (1 - e_s)) ] weighting
              each stratum by its share — algebraically equal, under
              within-stratum exchangeability, to
              sum_s (n_s / N) * (mean_treated_s - mean_control_s),

    the direct-standardization form this implementation uses because
    it needs NO division by near-zero propensities: per stratum, two
    exact integer sums and counts; strata where either arm is empty
    are excluded from the estimate and reported (``n_unsupported`` —
    the positivity-violation diagnostic every IPW pipeline must
    surface, not silently zero-weight).

    The outcome is scaled to exact integers (``round(outcome * scale)``
    as long) so sums aggregate exactly; per-stratum means and the
    final weighted contrast derive in fixed double order over the
    (metadata-sized) stratum table.

    Returns ONE row: (n_units, n_strata, n_unsupported, ate_scaled,
    naive_diff_scaled) — naive = unadjusted treated-minus-control mean
    gap, so the row shows exactly how much confounding the
    stratification removed. Scale: one grouped integer aggregate, then
    arithmetic on #strata rows.
    """
    y = F.round(F.col(outcome_col).cast("double") * scale).cast("long")
    t = F.col(treated_col).cast("int")
    per = df.groupBy(stratum_col).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(t).cast("long").alias("n_t"),
        F.sum(F.when(t == 1, y).otherwise(F.lit(0)).cast("decimal(38,0)")).alias("s_t"),
        F.sum(F.when(t == 0, y).otherwise(F.lit(0)).cast("decimal(38,0)")).alias("s_c"),
    )
    supported = (F.col("n_t") > 0) & (F.col("n_t") < F.col("n"))
    mean_t = F.col("s_t").cast("double") / F.col("n_t").cast("double")
    mean_c = F.col("s_c").cast("double") / (F.col("n") - F.col("n_t")).cast("double")
    contrib = F.when(
        supported, (mean_t - mean_c) * F.col("n").cast("double")
    ).otherwise(F.lit(0.0)).cast("decimal(38,6)")
    agg = per.agg(
        F.sum("n").cast("long").alias("n_units"),
        F.count("*").cast("long").alias("n_strata"),
        F.sum(F.when(supported, 0).otherwise(1)).cast("long").alias("n_unsupported"),
        F.sum(F.when(supported, F.col("n")).otherwise(0)).cast("long").alias("__n_sup"),
        F.sum(contrib).alias("__sum_contrib"),
        F.sum("s_t").alias("__st"), F.sum("n_t").cast("long").alias("__nt"),
        F.sum("s_c").alias("__sc"),
        (F.sum("n") - F.sum("n_t")).cast("long").alias("__nc"),
    )
    # round at 6, not 12: these are cent-scaled magnitudes (~1e5), so
    # 12 fractional digits exceeds double precision and the final-ulp
    # rounding disagrees across engines
    ate = F.round(
        F.col("__sum_contrib").cast("double") / F.col("__n_sup").cast("double"), 6
    )
    naive = F.round(
        F.col("__st").cast("double") / F.col("__nt").cast("double")
        - F.col("__sc").cast("double") / F.col("__nc").cast("double"),
        6,
    )
    return agg.select(
        "n_units", "n_strata", "n_unsupported",
        ate.alias("ate_scaled"), naive.alias("naive_diff_scaled"),
    )


def qini_table(
    df: DataFrame,
    score_col,
    treatment_col,
    label_col,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Qini table: the uplift-model analog of the gains table
    (evaluation.gains_table) — rank units by a targeting score, cut
    into deciles, and report the CUMULATIVE incremental responders

        qini(b) = Y_t(b) - Y_c(b) * N_t(b) / N_c(b)

    (treated positives minus control positives scaled to the treated
    volume) — "how many conversions did targeting the top b deciles
    actually CAUSE?", the readout a raw response-rate gains table gets
    wrong whenever the score correlates with baseline propensity.

    Deciles via NTILE over (score DESC, id ASC) — deterministic under
    ties; same warehouse-scale caveat as gains_table (feed aggregated
    units; swap NTILE for equi-depth score bins at extreme scale).
    Counts are exact integers; qini is a fixed double expression over
    them. A bucket prefix with zero cumulative control units yields
    NULL qini (explicitly, not a division error).

    Returns per bucket: (bucket, n_treat, n_ctrl, pos_treat, pos_ctrl,
    uplift_rate, qini).
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    t = (F.col(treatment_col) if isinstance(treatment_col, str)
         else treatment_col).cast("int")
    y = (F.col(label_col) if isinstance(label_col, str)
         else label_col).cast("int")
    ranked = df.select(
        s.alias("__s"), t.alias("__t"), y.alias("__y"),
        F.col(id_col).alias("__id"),
    ).withColumn(
        "bucket",
        F.ntile(n_buckets).over(
            Window.orderBy(F.col("__s").desc(), F.col("__id").asc())
        ),
    )
    per = ranked.groupBy("bucket").agg(
        F.sum("__t").cast("long").alias("n_treat"),
        F.sum(1 - F.col("__t")).cast("long").alias("n_ctrl"),
        F.sum(F.col("__t") * F.col("__y")).cast("long").alias("pos_treat"),
        F.sum((1 - F.col("__t")) * F.col("__y")).cast("long").alias("pos_ctrl"),
    )
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        per.withColumn("__cnt", F.sum("n_treat").over(w_cum).cast("long"))
        .withColumn("__cnc", F.sum("n_ctrl").over(w_cum).cast("long"))
        .withColumn("__cyt", F.sum("pos_treat").over(w_cum).cast("long"))
        .withColumn("__cyc", F.sum("pos_ctrl").over(w_cum).cast("long"))
    )
    rate_t = F.when(
        F.col("n_treat") > 0,
        F.col("pos_treat").cast("double") / F.col("n_treat").cast("double"),
    )
    rate_c = F.when(
        F.col("n_ctrl") > 0,
        F.col("pos_ctrl").cast("double") / F.col("n_ctrl").cast("double"),
    )
    return cum.select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_treat", "n_ctrl", "pos_treat", "pos_ctrl",
        (rate_t - rate_c).alias("uplift_rate"),
        F.when(
            F.col("__cnc") > 0,
            F.col("__cyt").cast("double")
            - F.col("__cyc").cast("double")
            * (F.col("__cnt").cast("double") / F.col("__cnc").cast("double")),
        ).alias("qini"),
    )


def ips_policy_value(
    df: DataFrame,
    action_col,
    reward_col,
    target_col,
    propensity_col,
) -> DataFrame:
    """Off-policy evaluation by inverse-propensity scoring: the value a
    NEW deterministic policy would have earned, estimated from logged
    RANDOMIZED decisions — "would the new targeting rule beat what we
    shipped?" answered without an experiment (the logged bandit replay
    that complements stratified_ipw's observational ATE).

        IPS   = (1/n) SUM  y * 1[target == action] / propensity
        SNIPS =        SUM  y * w / SUM w      (self-normalized —
                 trades IPS's unbiasedness for much lower variance)

    Requirements are the caller's contract: ``propensity_col`` is the
    TRUE logging probability of the logged action (> 0 wherever the
    target policy acts — else the estimate is undefined and those rows
    raise via ANSI division rather than silently skew).

    One scan, one aggregate: per-row weights are single double
    divisions, sums run through decimal casts. Returns one row:
    (n, n_matched, logged_value, ips_value, snips_value).
    """
    a = F.col(action_col) if isinstance(action_col, str) else action_col
    y = (F.col(reward_col) if isinstance(reward_col, str)
         else reward_col).cast("double")
    t = F.col(target_col) if isinstance(target_col, str) else target_col
    p = (F.col(propensity_col) if isinstance(propensity_col, str)
         else propensity_col).cast("double")
    match = t.eqNullSafe(a)
    w = F.when(match, F.lit(1.0) / p).otherwise(F.lit(0.0))
    agg = df.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(match.cast("int")).cast("long").alias("n_matched"),
        F.sum(y.cast("decimal(38,6)")).cast("double").alias("__sy"),
        F.sum((y * w).cast("decimal(38,18)")).cast("double").alias("__syw"),
        F.sum(w.cast("decimal(38,18)")).cast("double").alias("__sw"),
    )
    return agg.select(
        "n", "n_matched",
        (F.col("__sy") / F.col("n").cast("double")).alias("logged_value"),
        (F.col("__syw") / F.col("n").cast("double")).alias("ips_value"),
        F.when(
            F.col("__sw") > 0.0, F.col("__syw") / F.col("__sw")
        ).alias("snips_value"),
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    total_samples: int,
    weight_scale: int = 1_000_000,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation: split a sampling
    budget across strata proportionally to N_h * sigma_h (stratum size
    x population std) — the survey-design classic that minimizes the
    estimator's variance for a fixed budget; proportional-to-size
    allocation over-samples homogeneous strata and starves volatile
    ones.

    One grouped pass computes exact decimal (n, sum, sum-of-squares)
    per stratum; sigma_h = sqrt((S2 - S1^2/N)/N) is IEEE-exact over
    those; the weights are fixed-point-scaled (ROUND(N_h * sigma_h *
    weight_scale) — integers, so the largest-remainder split in
    transforms.prorate_integer applies and the allocations are
    INTEGERS that sum to EXACTLY ``total_samples``). Zero-variance
    strata weigh 0 (one sample tells you everything about a constant
    stratum — the textbook behavior; guard with a floor upstream if
    operational coverage demands it).

    Returns (stratum, n_rows, sigma, alloc).
    """
    from .transforms import prorate_integer

    v = F.col(value_col).cast("decimal(28,4)")
    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(v).alias("__s1"),
        F.sum((v * v).cast("decimal(38,8)")).alias("__s2"),
    )
    var = (
        F.col("__s2").cast("double")
        - F.col("__s1").cast("double") * F.col("__s1").cast("double")
        / F.col("n_rows").cast("double")
    ) / F.col("n_rows").cast("double")
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    raw_w = F.round(
        F.col("n_rows").cast("double") * sigma * F.lit(weight_scale)
    ).cast("long")
    # prorate_integer multiplies total * w — guard its int64 contract
    # IN-PLAN (the resample_gapfill assert pattern: the guard must feed
    # the selected expression or pruning drops it). Trips only on a
    # genuinely overflowing stratum; lower weight_scale to proceed.
    w_cap = (2**63 - 1) // max(total_samples, 1)
    ok = F.assert_true(
        raw_w <= F.lit(w_cap),
        F.concat(
            F.lit("neyman_allocation: stratum "),
            F.col("stratum").cast("string"),
            F.lit(
                f" weight exceeds int64/total_samples ({w_cap}); "
                "lower weight_scale"
            ),
        ),
    )
    weighted = per.select(
        "stratum", "n_rows", sigma.alias("sigma"),
        F.when(ok.isNull(), raw_w).alias("__w"),
        F.lit("all").alias("__g"),
    )
    out = prorate_integer(weighted, ["__g"], "__w", total_samples, "stratum")
    return out.select("stratum", "n_rows", "sigma", "alloc")


def wilson_ci(
    df: DataFrame,
    group_col: str,
    flag_col,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Per-group Wilson score interval for a binary rate — the
    proportion CI every segment dashboard should use instead of the
    Wald interval (which collapses to width 0 at p-hat 0/1 and
    undercovers small n; Wilson stays calibrated at the extremes).

        center = (p + z^2/2n) / (1 + z^2/n)
        half   = z * sqrt(p(1-p)/n + z^2/4n^2) / (1 + z^2/n)

    One grouped integer aggregate (k, n) per group; the interval is a
    fixed IEEE double expression over exact integers (sqrt is
    correctly rounded) — deterministic and SQL-replayable. Default z
    is the two-sided 95% normal quantile.

    Returns (group, n, hits, rate, ci_lo, ci_hi), bounds clamped to
    [0, 1].
    """
    flag = (F.col(flag_col) if isinstance(flag_col, str) else flag_col).cast(
        "int"
    )
    per = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(flag).cast("long").alias("hits"),
    )
    nn = F.col("n").cast("double")
    p = F.col("hits").cast("double") / nn
    z2 = F.lit(z * z)
    denom = F.lit(1.0) + z2 / nn
    center = (p + z2 / (F.lit(2.0) * nn)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (F.lit(1.0) - p) / nn + z2 / (F.lit(4.0) * nn * nn))
        / denom
    )
    return per.select(
        "group", "n", "hits", p.alias("rate"),
        F.greatest(center - half, F.lit(0.0)).alias("ci_lo"),
        F.least(center + half, F.lit(1.0)).alias("ci_hi"),
    )


#: Zelen & Severo 26.2.17 coefficients for the normal CDF tail.
_PHI_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_PHI_P = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327


def normal_sf(x: Column) -> Column:
    """Upper-tail normal probability P(Z > x) for x >= 0 — the
    Zelen-Severo polynomial approximation (|error| < 7.5e-8), built
    from one exp and a fixed-degree Horner polynomial so BOTH engines
    evaluate the identical expression tree (no engine erf, which
    DuckDB lacks and Spark never exposed). Callers ROUND the derived
    p-values (q180/PSI ln precedent) to absorb exp's last-ulp drift.
    """
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_PHI_P) * x)
    poly = F.lit(0.0)
    for b in reversed(_PHI_B):
        poly = poly * t + F.lit(b)
    poly = poly * t
    pdf = F.lit(_INV_SQRT_2PI) * F.exp(F.lit(-0.5) * x * x)
    return pdf * poly


def normal_sf_sql(x_expr: str) -> str:
    """DuckDB twin of :func:`normal_sf` (keep in lockstep)."""
    t = f"(1.0 / (1.0 + {_PHI_P} * ({x_expr})))"
    poly = "0.0"
    for b in reversed(_PHI_B):
        poly = f"(({poly}) * {t} + {b!r})"
    return (
        f"({_INV_SQRT_2PI} * EXP(-0.5 * ({x_expr}) * ({x_expr})) "
        f"* (({poly}) * {t}))"
    )


def bh_fdr(
    df: DataFrame,
    key_cols: list[str],
    p_col: str,
    q: float = 0.05,
    p_round: int = 9,
    by_correction: bool = False,
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over a table of
    p-values — the multiple-testing correction a segment-sweep A/B
    readout needs (testing 25 segments at alpha=0.05 uncorrected
    expects a false positive per sweep; BH caps the expected FALSE
    DISCOVERY share at q among whatever it flags).

    Procedure (exactly the 1995 step-up rule): sort p ascending (key
    tiebreak), rank i of m, find the LARGEST i with p_(i) <= i*q/m,
    flag ranks up to it. ``by_correction=True`` divides the threshold
    by the harmonic number H_m (Benjamini-Yekutieli 2001) for
    validity under arbitrary dependence. P-values are ROUNDED to ``p_round`` BEFORE
    the comparison on both engines, so a last-ulp cross-engine p
    difference can never flip a boundary discovery.

    The ordered windows run over the TEST table (one row per
    hypothesis — segments, metrics; metadata-sized by nature, the
    post-aggregate window contract). Returns the input keys plus
    (p_value, bh_rank, bh_threshold, discovery).
    """
    pr = F.round(F.col(p_col), p_round)
    w = Window.orderBy(
        F.col("p_value").asc(), *[F.col(k).asc() for k in key_cols]
    )
    m = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = df.select(
        *key_cols, pr.alias("p_value")
    ).withColumn("bh_rank", F.row_number().over(w)).withColumn(
        "__m", F.count("*").over(m)
    )
    thresh = (
        F.col("bh_rank").cast("double") * F.lit(q) / F.col("__m").cast("double")
    )
    if by_correction:
        # Benjamini-Yekutieli: divide by the harmonic number H_m so
        # the FDR bound holds under ARBITRARY p-value dependence
        # (BH assumes independence/PRDS). H_m is an in-row fold over
        # 1..m in index order — identical on both engines.
        h_m = F.aggregate(
            F.sequence(F.lit(1), F.col("__m").cast("int")),
            F.lit(0.0),
            lambda a, i: a + F.lit(1.0) / i.cast("double"),
        )
        thresh = thresh / h_m
    flagged = ranked.withColumn("__ok", F.col("p_value") <= thresh)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cutoff = F.max(F.when(F.col("__ok"), F.col("bh_rank"))).over(w_all)
    return flagged.select(
        *key_cols, "p_value",
        F.col("bh_rank").cast("long").alias("bh_rank"),
        thresh.alias("bh_threshold"),
        F.coalesce(F.col("bh_rank") <= cutoff, F.lit(False)).alias(
            "discovery"
        ),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) two-sample test — the
    nonparametric complement of :func:`welch_t` for metrics whose
    distributions are skewed or heavy-tailed (revenue, latency): does
    group A stochastically dominate group B, without assuming
    normality?

    Scalable shape (no global window over data rows): values reduce to
    per-DISTINCT-VALUE counts per group first (map-side combinable);
    midranks come from a prefix window over the distinct-value table
    (the documented post-aggregate-window contract — for continuous
    metrics, quantize upstream to bound the distinct count, exactly
    how rank statistics are computed at scale). Ties get the standard
    midrank and the normal approximation carries the tie correction:

        U  = R_a - n_a (n_a + 1) / 2
        mu = n_a n_b / 2
        s2 = n_a n_b / 12 * ((N + 1) - sum(t^3 - t) / (N (N - 1)))
        z  = (U - mu) / sqrt(s2),   p = 2 * normal_sf(|z|)

    Rank sums are exact integer-and-half arithmetic (kept in doubled
    units — 2*rank is integer — until the final division), so both
    engines agree bitwise; the p-value is rounded by callers per the
    normal_sf contract. Returns one row: (n_a, n_b, u_stat, z, p_value).
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    g = F.col(group_col)
    per = (
        # NULL metric rows are dropped, not ranked: engines disagree on
        # NULL sort placement (Spark NULLS FIRST vs DuckDB NULLS LAST),
        # and "NULL is the smallest value" is not a rank semantics
        df.filter(g.isin([group_a, group_b]) & v.isNotNull())
        .groupBy(v.alias("val"))
        .agg(
            F.sum((g == F.lit(group_a)).cast("int")).cast("long").alias("na"),
            F.sum((g == F.lit(group_b)).cast("int")).cast("long").alias("nb"),
        )
    )
    w = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    t = F.col("na") + F.col("nb")
    # doubled midrank: 2*midrank = 2*(cum_before) + t + 1 — pure int64
    ranked = per.select(
        "val", "na", "nb", t.alias("t"),
        (F.lit(2) * (F.sum(t).over(w) - t) + t + F.lit(1)).alias("r2"),
    )
    agg = ranked.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum(F.col("na") * F.col("r2")).cast("long").alias("ra2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie3"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    u = (
        F.col("ra2").cast("double") / F.lit(2.0)
        - na * (na + F.lit(1.0)) / F.lit(2.0)
    )
    mu = na * nb / F.lit(2.0)
    s2 = (
        na * nb / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.col("tie3").cast("double") / (n * (n - F.lit(1.0))))
    )
    # try_divide: an all-tied pooled sample has zero rank variance —
    # z/p are NULL (undefined), not an ANSI divide-by-zero raise
    z = F.try_divide(u - mu, F.sqrt(s2))
    return agg.select(
        "n_a", "n_b", u.alias("u_stat"), z.alias("z"),
        (F.lit(2.0) * normal_sf(F.abs(z))).alias("p_value"),
    )


def ratio_metric_ci(
    df: DataFrame,
    group_col,
    num_col,
    den_col,
    scale: int = 1_000_000,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Delta-method CI for a RATIO metric per group — revenue per
    order, clicks per session: the mean of a ratio of per-unit sums,
    whose naive "variance of y/x" is simply wrong. With r = Y-bar /
    X-bar over n units,

        var(r) ~= (s_yy - 2 r s_xy + r^2 s_xx) / (n * xbar^2)

    (s_* the sample (co)variances). Both metric columns are scaled to
    exact integer micro-units so all five moments aggregate exactly
    (decimal, order-independent — the welch_t discipline, same 2^53
    conversion contract); r, var, and the interval derive through one
    fixed double expression. Returns per group:
    (grp, n, ratio, se, ci_lo, ci_hi) in natural units (the scaling
    cancels in every output).
    """
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y = F.round(
        (F.col(num_col) if isinstance(num_col, str) else num_col) * scale
    ).cast("long")
    x = F.round(
        (F.col(den_col) if isinstance(den_col, str) else den_col) * scale
    ).cast("long")
    d38 = "decimal(38,0)"
    per = df.select(g.alias("grp"), y.alias("y"), x.alias("x")).groupBy(
        "grp"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("y").cast(d38)).cast("double").alias("sy"),
        F.sum(F.col("x").cast(d38)).cast("double").alias("sx"),
        F.sum((F.col("y").cast(d38) * F.col("y")).cast(d38))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("x").cast(d38) * F.col("x")).cast(d38))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y").cast(d38) * F.col("x")).cast(d38))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n").cast("double")
    xbar = F.col("sx") / n
    # try_divide: a zero-denominator-sum group (r) or single-unit group
    # (the variances) yields NULL, matching SQL x/0, not an ANSI raise
    r = F.try_divide(F.col("sy"), F.col("sx"))
    vyy = F.try_divide(
        F.col("syy") - F.col("sy") * F.col("sy") / n, n - F.lit(1.0)
    )
    vxx = F.try_divide(
        F.col("sxx") - F.col("sx") * F.col("sx") / n, n - F.lit(1.0)
    )
    vxy = F.try_divide(
        F.col("sxy") - F.col("sy") * F.col("sx") / n, n - F.lit(1.0)
    )
    var_r = F.try_divide(
        vyy - F.lit(2.0) * r * vxy + r * r * vxx, n * xbar * xbar
    )
    se = F.sqrt(var_r)
    return per.select(
        "grp", "n",
        r.alias("ratio"),
        se.alias("se"),
        (r - F.lit(z) * se).alias("ci_lo"),
        (r + F.lit(z) * se).alias("ci_hi"),
    )


def cochran_armitage(
    df: DataFrame,
    score_col,
    success_col,
) -> DataFrame:
    """Cochran-Armitage trend test: is a binary outcome MONOTONICALLY
    associated with an ordered exposure (dose, tier, bucket)? The
    correct test where a plain chi-square ignores the ordering and a
    pairwise z-test sweep burns alpha.

    With integer scores s_i per level, n_i units and x_i successes:

        T = sum s_i x_i - pbar * sum s_i n_i
        V = pbar (1 - pbar) * (sum s_i^2 n_i - (sum s_i n_i)^2 / N)
        z = T / sqrt(V),   p = 2 * normal_sf(|z|)

    Every sum is an exact integer (scores must be integral — enforce
    upstream); pbar and the statistic are one fixed double tree.
    One grouped aggregate over the units (levels are metadata-sized).
    Returns one row: (n_units, n_success, z, p_value).
    """
    s = (
        F.col(score_col) if isinstance(score_col, str) else score_col
    ).cast("long")
    x = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    ).cast("long")
    one = df.agg(
        F.count("*").cast("long").alias("nn"),
        F.sum(x).cast("long").alias("xx"),
        F.sum(s * x).cast("long").alias("sx"),
        F.sum(s).cast("long").alias("sn"),
        F.sum(s * s).cast("long").alias("ssn"),
    )
    nn = F.col("nn").cast("double")
    pbar = F.col("xx").cast("double") / nn
    t = F.col("sx").cast("double") - pbar * F.col("sn").cast("double")
    v = (
        pbar
        * (F.lit(1.0) - pbar)
        * (
            F.col("ssn").cast("double")
            - F.col("sn").cast("double") * F.col("sn").cast("double") / nn
        )
    )
    # try_divide: a constant score or an all/none success column has
    # zero trend variance — NULL z/p, not an ANSI raise
    zst = F.try_divide(t, F.sqrt(v))
    return one.select(
        F.col("nn").alias("n_units"),
        F.col("xx").alias("n_success"),
        zst.alias("z"),
        (F.lit(2.0) * normal_sf(F.abs(zst))).alias("p_value"),
    )


#: Pocock two-sided 5% group-sequential z boundaries, by number of
#: equally-spaced looks — HARDCODED (the required-sample-size z-table
#: discipline; computing them needs multivariate-normal integration no
#: engine replays).
_POCOCK_C = {1: 1.959963984540054, 2: 2.178, 3: 2.289, 4: 2.361, 5: 2.413}


def group_sequential_looks(
    df: DataFrame,
    unit_col: str,
    success_col,
    look_col,
    n_looks: int,
) -> DataFrame:
    """Group-sequential A/B monitoring: the cumulative two-proportion z
    at each of ``n_looks`` interim looks, compared against the Pocock
    constant boundary — the "peek K times without inflating alpha"
    readout naive daily significance-checking gets wrong (5 naive
    peeks at 1.96 inflate false positives to ~14%).

    ``look_col`` assigns each unit an integer look 1..K (arrival
    order bucketing — derive it upstream, e.g. from event-time
    deciles). Units aggregate per (look, variant) in ONE pass; looks
    cumulate over the K-row table (post-aggregate window); each look's
    z is the pooled two-proportion statistic over everything seen so
    far. Zero-variance looks yield NULL z (try_divide). Returns one
    row per look: (look, n_a, n_b, x_a, x_b, z, boundary, reject).
    """
    if n_looks not in _POCOCK_C:
        raise ValueError(f"n_looks must be one of {sorted(_POCOCK_C)}")
    success = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    ).cast("int")
    look = (F.col(look_col) if isinstance(look_col, str) else look_col).cast(
        "int"
    )
    per = (
        df.select(
            look.alias("look"),
            ab_assign(unit_col).alias("__v"),
            success.alias("__s"),
        )
        .groupBy("look")
        .agg(
            F.sum(F.when(F.col("__v") == 0, 1).otherwise(0))
            .cast("long")
            .alias("da"),
            F.sum(F.when(F.col("__v") == 1, 1).otherwise(0))
            .cast("long")
            .alias("db"),
            F.sum(F.when(F.col("__v") == 0, F.col("__s")).otherwise(0))
            .cast("long")
            .alias("xa"),
            F.sum(F.when(F.col("__v") == 1, F.col("__s")).otherwise(0))
            .cast("long")
            .alias("xb"),
        )
    )
    w = Window.orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "look",
        F.sum("da").over(w).alias("n_a"),
        F.sum("db").over(w).alias("n_b"),
        F.sum("xa").over(w).alias("x_a"),
        F.sum("xb").over(w).alias("x_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    xa, xb = F.col("x_a").cast("double"), F.col("x_b").cast("double")
    pa, pb = xa / na, xb / nb
    pool = (xa + xb) / (na + nb)
    z = F.try_divide(
        pa - pb,
        F.sqrt(
            pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
        ),
    )
    c = _POCOCK_C[n_looks]
    return cum.select(
        "look", "n_a", "n_b", "x_a", "x_b",
        z.alias("z"),
        F.lit(c).alias("boundary"),
        F.coalesce(F.abs(z) > F.lit(c), F.lit(False)).alias("reject"),
    )


def sign_flip_permutation_test(
    df: DataFrame,
    unit_col,
    diff_col,
    n_perms: int = 200,
    scale: int = 1,
    salt: int = 0,
) -> DataFrame:
    """Paired permutation test by deterministic sign flips — the
    exact-arithmetic nonparametric alternative to the paired t-test:
    under the null the per-unit difference is symmetric around 0, so
    each of ``n_perms`` pseudo-permutations flips every unit's sign by
    the arithmetic key hash and the p-value is the share of permuted
    |sums| at least the observed |sum| (with the standard +1
    correction).

    Everything is INTEGER: differences scale per-row to exact units,
    each permuted sum is a sum of +/-d_i (map-side combinable after a
    ``n_perms``-way explode — the knob that bounds the blow-up), and
    the p-value is a ratio of counts. No RNG state — retries and both
    engines replay every flip (key_bucket family). Returns one row:
    (n_units, t_obs, n_extreme, p_value).
    """
    from .sampling import key_draw

    k = (F.col(unit_col) if isinstance(unit_col, str) else unit_col).cast(
        "long"
    )
    d = F.round(
        (F.col(diff_col) if isinstance(diff_col, str) else diff_col) * scale
    ).cast("long")
    base = df.select(k.alias("__k"), d.alias("__d"))
    obs = base.agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum("__d").cast("long").alias("t_obs"),
    )
    perms = base.select(
        "__k", "__d",
        F.explode(F.sequence(F.lit(1), F.lit(int(n_perms)))).alias("__b"),
    )
    # key_draw (quadratic-mixed), NOT raw key_bucket: the affine hash
    # gives counter-indexed flips an arithmetic stride (measured: a
    # symmetric null scored p=0.01 because every permutation landed in
    # a near-identical sign pattern)
    sign = (
        key_draw(F.col("__k") * n_perms + F.col("__b") + F.lit(salt), 2)
        * 2
        - 1
    )
    per_b = perms.groupBy("__b").agg(
        F.sum(sign * F.col("__d")).cast("long").alias("__t")
    )
    extreme = per_b.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            (F.abs(F.col("__t")) >= F.abs(F.col("t_obs"))).cast("int")
        )
        .cast("long")
        .alias("n_extreme"),
        F.max("n_units").alias("n_units"),
        F.max("t_obs").alias("t_obs"),
    )
    p = (F.col("n_extreme").cast("double") + F.lit(1.0)) / F.lit(
        float(n_perms) + 1.0
    )
    return extreme.select("n_units", "t_obs", "n_extreme", p.alias("p_value"))


def chi2_sf_even(x: Column, df: int) -> Column:
    """Upper-tail chi-square probability for EVEN degrees of freedom —
    the closed elementary form P(X > x) = exp(-x/2) * sum_{i<df/2}
    (x/2)^i / i!, which needs one exp and a fixed Horner-style loop, so
    both engines evaluate the identical expression tree (the normal_sf
    discipline; odd df would need erf and is not offered — callers with
    odd df report the statistic and NULL p). Callers ROUND derived
    p-values to absorb exp's last-ulp drift.
    """
    if df < 2 or df % 2:
        raise ValueError("chi2_sf_even requires even df >= 2")
    half = x * F.lit(0.5)
    term = F.lit(1.0)
    acc = F.lit(1.0)
    for i in range(1, df // 2):
        term = term * half / F.lit(float(i))
        acc = acc + term
    return F.exp(-half) * acc


def chi2_sf_even_sql(x_expr: str, df: int) -> str:
    """DuckDB twin of :func:`chi2_sf_even` (keep in lockstep)."""
    if df < 2 or df % 2:
        raise ValueError("chi2_sf_even requires even df >= 2")
    half = f"(({x_expr}) * 0.5)"
    term = "1.0"
    acc = "1.0"
    for i in range(1, df // 2):
        term = f"(({term}) * {half} / {float(i)!r})"
        acc = f"(({acc}) + {term})"
    return f"(EXP(-{half}) * ({acc}))"


def kruskal_wallis(
    df: DataFrame,
    group_col,
    value_col,
) -> DataFrame:
    """Kruskal-Wallis H test — the k-group extension of Mann-Whitney
    (:func:`mann_whitney_u`): do ANY of the groups' distributions
    differ, without assuming normality?

        H = [12 / (N (N+1)) * sum_g R_g^2 / n_g - 3 (N+1)]
            / (1 - sum(t^3 - t) / (N^3 - N))          (tie correction)

    Same scalable shape as MW: per-DISTINCT-VALUE counts per group,
    midranks from one prefix window over the distinct-value table
    (doubled, so every rank sum is exact int64), then the k per-group
    terms fold in GROUP-NAME order (R_g^2/n_g are doubles — the fold
    order is the determinism contract, replayed by a recursive CTE).
    NULL values drop; p-value is the even-df closed form (NULL for odd
    k-1, and NULL for k-1 > 16 — beyond the dynamic series' reach; the
    statistic itself is exact at any k). Returns one row: (n_rows,
    k_groups, h_stat, p_value).
    """
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = (
        df.filter(v.isNotNull() & g.isNotNull())
        .groupBy(v.alias("val"), g.alias("grp"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    per_val = per.groupBy("val").agg(F.sum("c").cast("long").alias("t"))
    w = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranks = per_val.select(
        "val", "t",
        (
            F.lit(2) * (F.sum("t").over(w) - F.col("t")) + F.col("t") + 1
        ).alias("r2"),
    )
    by_grp = (
        per.join(ranks, "val")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(F.col("c") * F.col("r2")).cast("long").alias("rg2"),
        )
    )
    tots = per_val.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie3"),
    )
    ev = by_grp.select(
        F.struct(
            "grp",
            (
                F.col("rg2").cast("double")
                * F.col("rg2").cast("double")
                / F.col("n_g").cast("double")
            ).alias("term"),
        ).alias("__e")
    )
    one = ev.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.array_sort(F.collect_list("__e")).alias("__arr"),
    ).crossJoin(F.broadcast(tots))
    ssum = F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda acc, x: acc + x["term"]
    )
    n = F.col("n").cast("double")
    # doubled ranks: R_g^2 = rg2^2 / 4 folds into the 12 -> 3 factor
    h_raw = F.lit(3.0) / (n * (n + F.lit(1.0))) * ssum - F.lit(3.0) * (
        n + F.lit(1.0)
    )
    corr = F.lit(1.0) - F.col("tie3").cast("double") / (n * n * n - n)
    h = F.try_divide(h_raw, corr)
    out = one.select(
        F.col("n").alias("n_rows"), "k_groups", h.alias("h_stat")
    )
    return out.select(
        "n_rows", "k_groups", "h_stat",
        F.when(
            F.col("k_groups") % 2 == 1,  # df = k-1 even
            _chi2_sf_even_dyn(F.col("h_stat"), F.col("k_groups") - 1),
        ).alias("p_value"),
    )


def _chi2_sf_even_dyn(x: Column, df_col: Column, max_half: int = 8) -> Column:
    """chi2_sf_even with a RUNTIME (column) even df <= 2*max_half:
    the fixed Horner loop runs to max_half terms and each term gates on
    i < df/2 — same expression tree on both engines for any df.

    df beyond the loop's reach returns NULL (the static
    :func:`chi2_sf_even` raises for unsupported df; a runtime column
    can't raise per-row without poisoning the whole plan, so the
    out-of-range contract is NULL-p, matching the odd-df convention) —
    a silently truncated series would report a too-small p instead.
    """
    half = x * F.lit(0.5)
    term = F.lit(1.0)
    acc = F.lit(1.0)
    for i in range(1, max_half):
        term = term * half / F.lit(float(i))
        acc = acc + F.when(F.lit(i) < df_col / 2, term).otherwise(F.lit(0.0))
    return F.when(df_col <= F.lit(2 * max_half), F.exp(-half) * acc)


def friedman_test(
    df: DataFrame,
    block_col,
    treatment_col,
    value_col,
) -> DataFrame:
    """Friedman test over a (block x treatment) metric table — "do the
    k treatments rank consistently differently across n matched
    blocks?", the nonparametric repeated-measures ANOVA (the blocked
    sibling of :func:`kruskal_wallis`). Input is the PRE-AGGREGATED
    cell table (one row per block-treatment; post-aggregate contract —
    blocks/treatments are metadata-sized).

    Tie-corrected statistic, all-integer with doubled midranks:

        Q = (k-1) * sum_j (R2_j - n (k+1))^2 / (4A - n k (k+1)^2)

    where R2_j sums the doubled within-block midranks of treatment j
    and 4A sums their squares — both exact int64, so Q is ONE double
    division; p is the even-df closed form (NULL for odd k-1, and NULL
    for k-1 > 16, past the dynamic series' reach).
    Returns one row: (n_blocks, k_treatments, q_stat, p_value).
    """
    b = F.col(block_col) if isinstance(block_col, str) else block_col
    t = F.col(treatment_col) if isinstance(treatment_col, str) else treatment_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    base = df.select(b.alias("blk"), t.alias("trt"), v.alias("val")).filter(
        F.col("val").isNotNull()
    )
    # doubled midrank within block: 2*(#smaller) + (#tied incl self) + 1,
    # from a within-block self-join (k rows per block -> k^2 per block,
    # metadata-sized by the post-aggregate contract)
    a, c = base.alias("a"), base.alias("c")
    cmp_ = a.join(c, F.col("a.blk") == F.col("c.blk")).groupBy(
        F.col("a.blk").alias("blk"), F.col("a.trt").alias("trt")
    ).agg(
        (
            F.lit(2)
            * F.sum((F.col("c.val") < F.col("a.val")).cast("int"))
            + F.sum((F.col("c.val") == F.col("a.val")).cast("int"))
            + 1
        )
        .cast("long")
        .alias("r2")
    )
    nk = base.agg(
        F.countDistinct("blk").cast("long").alias("n"),
        F.countDistinct("trt").cast("long").alias("k"),
    )
    per_t = cmp_.groupBy("trt").agg(
        F.sum("r2").cast("long").alias("r2j")
    )
    a4 = cmp_.agg(
        F.sum(F.col("r2") * F.col("r2")).cast("long").alias("a4")
    )
    j = per_t.crossJoin(F.broadcast(nk))
    num_term = (
        (F.col("r2j") - F.col("n") * (F.col("k") + 1))
        * (F.col("r2j") - F.col("n") * (F.col("k") + 1))
    ).cast("long")
    num = j.agg(
        F.sum(num_term).cast("long").alias("num"),
        F.max("n").alias("n"),
        F.max("k").alias("k"),
    ).crossJoin(F.broadcast(a4))
    den = (
        F.col("a4")
        - F.col("n") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1)
    ).cast("double")
    q = F.try_divide(
        (F.col("k") - 1).cast("double") * F.col("num").cast("double"), den
    )
    return num.select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        q.alias("q_stat"),
        F.when(
            F.col("k") % 2 == 1,  # df = k-1 even
            _chi2_sf_even_dyn(q, (F.col("k") - 1).cast("int")),
        ).alias("p_value"),
    )


def mood_median_test(
    df: DataFrame,
    group_col,
    value_col,
) -> DataFrame:
    """Mood's median test — the coarsest k-group location test: split
    every observation at the POOLED lower median and chi-square the
    resulting above/not-above x group contingency table. Blunter than
    Kruskal-Wallis (it only looks at one cut point) but robust to any
    monotone transform and trivially exact: the median is the smallest
    distinct value whose cumulative count reaches ceil(N/2) — an
    integer-order statistic, never an interpolation — and every cell
    count is an exact int64.

    X^2 folds the per-group (O-E)^2/E terms in GROUP-NAME order (the
    kruskal_wallis determinism contract); p is the even-df chi-square
    series (NULL for odd k-1 or k-1 > 16). Returns one row:
    (n_rows, k_groups, grand_median, chi2, p_value).
    """
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = (
        df.filter(v.isNotNull() & g.isNotNull())
        .groupBy(v.alias("val"), g.alias("grp"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    per_val = per.groupBy("val").agg(F.sum("c").cast("long").alias("t"))
    w = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_val.select(
        "val", F.sum("t").over(w).cast("long").alias("cum")
    )
    tots = per_val.agg(F.sum("t").cast("long").alias("n"))
    half = (
        (F.col("n") + 1) - (F.col("n") + 1) % 2
    ) / 2  # ceil(N/2) as exact double of an even numerator
    med = (
        cum.crossJoin(F.broadcast(tots))
        .filter(F.col("cum").cast("double") >= half)
        .agg(F.min("val").alias("med"))
    )
    by_grp = (
        per.crossJoin(F.broadcast(med))
        .groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(
                F.when(F.col("val") > F.col("med"), F.col("c")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("a_g"),
        )
    )
    marg = by_grp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("a_g").cast("long").alias("a_tot"),
        F.count("*").cast("long").alias("k_groups"),
    )
    ev = by_grp.crossJoin(F.broadcast(marg)).select(
        "n", "k_groups",
        F.struct(
            "grp",
            (
                (
                    F.col("a_g").cast("double")
                    - F.col("a_tot").cast("double")
                    * F.col("n_g").cast("double")
                    / F.col("n").cast("double")
                )
                * (
                    F.col("a_g").cast("double")
                    - F.col("a_tot").cast("double")
                    * F.col("n_g").cast("double")
                    / F.col("n").cast("double")
                )
                / (
                    F.col("a_tot").cast("double")
                    * F.col("n_g").cast("double")
                    / F.col("n").cast("double")
                )
                + (
                    (F.col("n_g") - F.col("a_g")).cast("double")
                    - (F.col("n") - F.col("a_tot")).cast("double")
                    * F.col("n_g").cast("double")
                    / F.col("n").cast("double")
                )
                * (
                    (F.col("n_g") - F.col("a_g")).cast("double")
                    - (F.col("n") - F.col("a_tot")).cast("double")
                    * F.col("n_g").cast("double")
                    / F.col("n").cast("double")
                )
                / (
                    (F.col("n") - F.col("a_tot")).cast("double")
                    * F.col("n_g").cast("double")
                    / F.col("n").cast("double")
                )
            ).alias("term"),
        ).alias("__e"),
    )
    one = ev.groupBy("n", "k_groups").agg(
        F.array_sort(F.collect_list("__e")).alias("__arr")
    )
    chi2 = F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda acc, x: acc + x["term"]
    )
    out = one.crossJoin(F.broadcast(med)).select(
        F.col("n").alias("n_rows"),
        "k_groups",
        F.col("med").alias("grand_median"),
        chi2.alias("chi2"),
    )
    return out.select(
        "n_rows", "k_groups", "grand_median", "chi2",
        F.when(
            F.col("k_groups") % 2 == 1,  # df = k-1 even
            _chi2_sf_even_dyn(F.col("chi2"), F.col("k_groups") - 1),
        ).alias("p_value"),
    )


def jonckheere_terpstra(
    df: DataFrame,
    group_col,
    value_col,
) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test — "does the
    metric INCREASE across the ordered groups?" (dose-response, e.g.
    order priority vs value). Strictly more powerful than
    Kruskal-Wallis when the alternative is monotone, because it sums
    the Mann-Whitney counts over ORDERED group pairs only:

        J = sum_{i<j} U_ij,   U_ij = #{x in g_i, y in g_j : x < y} + ties/2

    ``group_col`` must be ORDINAL (ints encode the order — callers map
    labels to ranks); values follow the quantized-input contract (the
    kendall/spearman rule: band continuous metrics upstream). Doubled
    counting keeps 2J exact int64: 2U_ij = sum_v c_j(v) * (2*lt_i(v) +
    c_i(v)) over the (distinct value x group) GRID, whose per-group
    prefix sums come from one window over that metadata-sized table.
    z uses the standard tie-corrected normal approximation; the B
    variance term multiplies two exact int sums IN DOUBLE (identical
    IEEE product on any engine; the int product can overflow int64 at
    scale). Returns one row:
    (n_rows, k_groups, j_stat, z, p_value), p two-sided.
    """
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = (
        df.filter(v.isNotNull() & g.isNotNull())
        .groupBy(g.alias("grp"), v.alias("val"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    vals = per.select("val").distinct()
    grps = per.select("grp").distinct()
    grid = (
        vals.crossJoin(grps)
        .join(per, ["val", "grp"], "left")
        .select(
            "val", "grp", F.coalesce("c", F.lit(0)).cast("long").alias("c")
        )
    )
    wg = Window.partitionBy("grp").orderBy("val").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cumlt = grid.select(
        "grp", "val", "c",
        F.coalesce(F.sum("c").over(wg), F.lit(0)).cast("long").alias("lt"),
    )
    a = cumlt.select(
        F.col("grp").alias("gi"), "val",
        F.col("c").alias("ci"), F.col("lt").alias("lti"),
    )
    b = cumlt.select(
        F.col("grp").alias("gj"), F.col("val").alias("valj"),
        F.col("c").alias("cj"),
    )
    j2 = (
        a.join(b, (F.col("val") == F.col("valj")) & (F.col("gi") < F.col("gj")))
        .agg(
            F.sum(
                F.col("cj") * (F.lit(2) * F.col("lti") + F.col("ci"))
            )
            .cast("long")
            .alias("j2")
        )
    )
    by_g = per.groupBy("grp").agg(F.sum("c").cast("long").alias("ng"))
    gsums = by_g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count("*").cast("long").alias("k_groups"),
        F.sum(F.col("ng") * F.col("ng")).cast("long").alias("sn2"),
        F.sum(
            F.col("ng") * (F.col("ng") - 1) * (2 * F.col("ng") + 5)
        ).cast("long").alias("sn25"),
        F.sum(
            F.col("ng") * (F.col("ng") - 1) * (F.col("ng") - 2)
        ).cast("long").alias("sn3"),
        F.sum(F.col("ng") * (F.col("ng") - 1)).cast("long").alias("sn2m"),
    )
    by_v = per.groupBy("val").agg(F.sum("c").cast("long").alias("t"))
    tsums = by_v.agg(
        F.sum(
            F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
        ).cast("long").alias("st25"),
        F.sum(
            F.col("t") * (F.col("t") - 1) * (F.col("t") - 2)
        ).cast("long").alias("st3"),
        F.sum(F.col("t") * (F.col("t") - 1)).cast("long").alias("st2m"),
    )
    one = j2.crossJoin(F.broadcast(gsums)).crossJoin(F.broadcast(tsums))
    nd = F.col("n").cast("double")
    a_term = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("sn25")
        - F.col("st25")
    ).cast("double")
    b_term = F.col("sn3").cast("double") * F.col("st3").cast("double")
    c_term = F.col("sn2m").cast("double") * F.col("st2m").cast("double")
    var = (
        a_term / F.lit(72.0)
        + b_term / (F.lit(36.0) * nd * (nd - 1.0) * (nd - 2.0))
        + c_term / (F.lit(8.0) * nd * (nd - 1.0))
    )
    num2 = (2 * F.col("j2") - (F.col("n") * F.col("n") - F.col("sn2"))).cast(
        "double"
    )
    z = F.try_divide(num2, F.lit(4.0) * F.sqrt(var))
    return one.select(
        F.col("n").alias("n_rows"),
        "k_groups",
        (F.col("j2").cast("double") / 2.0).alias("j_stat"),
        z.alias("z"),
        (F.lit(2.0) * normal_sf(F.abs(z))).alias("p_value"),
    )


def page_trend_test(
    df: DataFrame,
    block_col,
    treatment_col,
    value_col,
) -> DataFrame:
    """Page's L trend test — Friedman's ordered-alternative sibling
    (:func:`jonckheere_terpstra`'s blocked twin): "does the metric
    INCREASE along the ordered treatments, consistently across
    blocks?". ``treatment_col`` must be ORDINAL; weights are the dense
    rank of the distinct treatment values (1..k on both engines).

        L = sum_j j * R_j   (R_j = within-block rank sums)

    Doubled within-block midranks keep 2L exact int64 (the friedman
    cell self-join); mean n k (k+1)^2 / 4 and variance
    n k^2 (k+1)^2 (k-1) / 144 are the classical no-tie moments
    (MC-verified; heavy within-block ties bias p — use exact-integer
    cell metrics so ties are structural, not float accidents). Returns
    one row: (n_blocks, k_treatments, l_stat, z, p_value) with the
    one-sided increasing-trend p.
    """
    b = F.col(block_col) if isinstance(block_col, str) else block_col
    t = F.col(treatment_col) if isinstance(treatment_col, str) else treatment_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    base = df.select(b.alias("blk"), t.alias("trt"), v.alias("val")).filter(
        F.col("val").isNotNull()
    )
    a, c = base.alias("a"), base.alias("c")
    cmp_ = a.join(c, F.col("a.blk") == F.col("c.blk")).groupBy(
        F.col("a.blk").alias("blk"), F.col("a.trt").alias("trt")
    ).agg(
        (
            F.lit(2)
            * F.sum((F.col("c.val") < F.col("a.val")).cast("int"))
            + F.sum((F.col("c.val") == F.col("a.val")).cast("int"))
            + 1
        )
        .cast("long")
        .alias("r2")
    )
    wts = base.select("trt").distinct().select(
        "trt",
        F.dense_rank().over(Window.orderBy("trt")).cast("long").alias("w"),
    )
    per_t = cmp_.groupBy("trt").agg(F.sum("r2").cast("long").alias("r2j"))
    l2 = per_t.join(F.broadcast(wts), "trt").agg(
        F.sum(F.col("w") * F.col("r2j")).cast("long").alias("l2")
    )
    nk = base.agg(
        F.countDistinct("blk").cast("long").alias("n"),
        F.countDistinct("trt").cast("long").alias("k"),
    )
    one = l2.crossJoin(F.broadcast(nk))
    nd, kd = F.col("n").cast("double"), F.col("k").cast("double")
    mean = nd * kd * (kd + 1.0) * (kd + 1.0) / F.lit(4.0)
    var = (
        nd * kd * kd * (kd + 1.0) * (kd + 1.0) * (kd - 1.0) / F.lit(144.0)
    )
    z = F.try_divide(
        F.col("l2").cast("double") / F.lit(2.0) - mean, F.sqrt(var)
    )
    return one.select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        (F.col("l2").cast("double") / 2.0).alias("l_stat"),
        z.alias("z"),
        normal_sf(z).alias("p_value"),
    )


def cochran_q(
    df: DataFrame,
    block_col,
    treatment_col,
    success_col,
) -> DataFrame:
    """Cochran's Q test — "do the k treatments' SUCCESS RATES differ
    across matched blocks?", the binary-outcome Friedman (and McNemar's
    k-way generalization): one flag per (block, treatment) cell.

        Q = (k-1) * [k * sum_j C_j^2 - N^2] / [k * N - sum_i R_i^2]

    (C_j column-success counts, R_i row-success counts, N total) — the
    cross-multiplied form keeps EVERY term exact int64, so Q is ONE
    double division; p is the even-df chi-square series (NULL for odd
    k-1 or k-1 > 16). Blocks with all-equal flags contribute nothing
    (the classical property — they cancel in both sums). Returns one
    row: (n_blocks, k_treatments, q_stat, p_value).
    """
    b = F.col(block_col) if isinstance(block_col, str) else block_col
    t = F.col(treatment_col) if isinstance(treatment_col, str) else treatment_col
    s = F.col(success_col) if isinstance(success_col, str) else success_col
    base = df.select(
        b.alias("blk"), t.alias("trt"), s.cast("long").alias("x")
    ).filter(F.col("x").isNotNull())
    by_t = base.groupBy("trt").agg(F.sum("x").cast("long").alias("cj"))
    by_b = base.groupBy("blk").agg(F.sum("x").cast("long").alias("ri"))
    tsum = by_t.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("cj").cast("long").alias("n_succ"),
        F.sum(F.col("cj") * F.col("cj")).cast("long").alias("sc2"),
    )
    bsum = by_b.agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum(F.col("ri") * F.col("ri")).cast("long").alias("sr2"),
    )
    one = tsum.crossJoin(F.broadcast(bsum))
    num = (
        (F.col("k") - 1)
        * (F.col("k") * F.col("sc2") - F.col("n_succ") * F.col("n_succ"))
    ).cast("double")
    den = (F.col("k") * F.col("n_succ") - F.col("sr2")).cast("double")
    q = F.try_divide(num, den)
    return one.select(
        F.col("n_blocks"),
        F.col("k").alias("k_treatments"),
        q.alias("q_stat"),
        F.when(
            F.col("k") % 2 == 1,  # df = k-1 even
            _chi2_sf_even_dyn(q, (F.col("k") - 1).cast("int")),
        ).alias("p_value"),
    )


def cramers_v(
    df: DataFrame,
    a_col,
    b_col,
) -> DataFrame:
    """Cramér's V association strength between two categorical columns
    — the [0,1]-normalized chi-square ("how strongly does segment
    determine priority?"), the effect-size companion the raw chi-square
    tests (q180/q402) lack:

        V = sqrt(X^2 / (N * min(r-1, c-1)))

    Shape: ONE grouped count to the r x c contingency cells, margins
    from two metadata-sized re-aggregations, X^2 folded over the cells
    in (a, b) order (the kruskal determinism contract — includes
    structurally-empty cells via the margin grid, whose observed count
    is 0 but expected is not). Returns one row:
    (n_rows, r_levels, c_levels, chi2, v).
    """
    a = F.col(a_col) if isinstance(a_col, str) else a_col
    b = F.col(b_col) if isinstance(b_col, str) else b_col
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("a"), b.alias("b"))
        .agg(F.count("*").cast("long").alias("o"))
    )
    ra = cells.groupBy("a").agg(F.sum("o").cast("long").alias("ra"))
    cb = cells.groupBy("b").agg(F.sum("o").cast("long").alias("cb"))
    # full margin grid so empty cells contribute their expected mass
    grid = (
        ra.crossJoin(cb)
        .join(cells, ["a", "b"], "left")
        .select(
            "a", "b", "ra", "cb",
            F.coalesce("o", F.lit(0)).cast("long").alias("o"),
        )
    )
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    ev = grid.crossJoin(F.broadcast(tot)).select(
        "n",
        F.struct(
            "a", "b",
            (
                (
                    F.col("o").cast("double")
                    - F.col("ra").cast("double")
                    * F.col("cb").cast("double")
                    / F.col("n").cast("double")
                )
                * (
                    F.col("o").cast("double")
                    - F.col("ra").cast("double")
                    * F.col("cb").cast("double")
                    / F.col("n").cast("double")
                )
                / (
                    F.col("ra").cast("double")
                    * F.col("cb").cast("double")
                    / F.col("n").cast("double")
                )
            ).alias("term"),
        ).alias("__e"),
    )
    one = ev.groupBy("n").agg(
        F.array_sort(F.collect_list("__e")).alias("__arr")
    )
    chi2 = F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda acc, x: acc + x["term"]
    )
    dims = ra.agg(F.count("*").cast("long").alias("r")).crossJoin(
        cb.agg(F.count("*").cast("long").alias("c"))
    )
    return one.crossJoin(F.broadcast(dims)).select(
        F.col("n").alias("n_rows"),
        F.col("r").alias("r_levels"),
        F.col("c").alias("c_levels"),
        chi2.alias("chi2"),
        F.sqrt(
            chi2
            / (
                F.col("n").cast("double")
                * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
            )
        ).alias("v"),
    )


def cohens_d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cohen's d and Hedges' g standardized mean difference between two
    groups on an integer-quantized metric — the effect-size readout the
    hypothesis tests (welch_t, mann_whitney_u) deliberately omit: "the
    difference is 0.3 pooled standard deviations" survives any sample
    size, a p-value does not.

        d = (mean_a - mean_b) / s_pooled
        s_pooled^2 = (ss_a + ss_b) / (n_a + n_b - 2)
        g = d * J,  J = 1 - 3 / (4 (n_a + n_b) - 9)   (Hedges 1981)

    Shape: ONE grouped aggregate over the scan — per-group count /
    sum(x) / sum(x^2) in exact decimal (order-independent, so the
    100 TB shuffle cannot perturb the result) — then a single fixed
    double expression tree per the welch_t determinism contract.
    Returns one row: (n_a, n_b, mean_a, mean_b, s_pooled, d, g).
    """
    v = F.col(value_col).cast("decimal(38,0)")
    per = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(v).cast("decimal(38,0)").alias("sx"),
            F.sum(v * v).cast("decimal(38,0)").alias("sxx"),
        )
    )
    a = per.filter(F.col(group_col) == group_a).select(
        F.col("n").alias("n_a"),
        F.col("sx").alias("sx_a"),
        F.col("sxx").alias("sxx_a"),
    )
    b = per.filter(F.col(group_col) == group_b).select(
        F.col("n").alias("n_b"),
        F.col("sx").alias("sx_b"),
        F.col("sxx").alias("sxx_b"),
    )
    j = a.crossJoin(F.broadcast(b))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma = F.col("sx_a").cast("double") / na
    mb = F.col("sx_b").cast("double") / nb
    ss_a = F.col("sxx_a").cast("double") - (
        F.col("sx_a").cast("double") * F.col("sx_a").cast("double") / na
    )
    ss_b = F.col("sxx_b").cast("double") - (
        F.col("sx_b").cast("double") * F.col("sx_b").cast("double") / nb
    )
    sp = F.sqrt((ss_a + ss_b) / (na + nb - F.lit(2.0)))
    d = (ma - mb) / sp
    corr = F.lit(1.0) - F.lit(3.0) / (
        F.lit(4.0) * (na + nb) - F.lit(9.0)
    )
    return j.select(
        "n_a", "n_b",
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        sp.alias("s_pooled"),
        d.alias("d"),
        (d * corr).alias("g"),
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """EXACT 1-D Wasserstein distance (earth mover's distance) between
    two groups' empirical distributions of an integer-quantized metric
    — the drift measure that, unlike KS (max CDF gap, q186) or PSI
    (binned, q248), weighs HOW FAR mass moved:

        W1 = integral |F_a(v) - F_b(v)| dv
           = SUM_i |cum_a(v_i) * n_b - cum_b(v_i) * n_a| * (v_{i+1} - v_i)
             / (n_a * n_b)

    The cross-multiplied form keeps every term an exact integer (no
    per-row division): the numerator sums in decimal(38,0) — order
    independent — and the ONE division at the end is the only double
    step, so the result is engine-exact to the last bit before its
    round.

    Shape: one (value, group) grouped count is the only pass over the
    data; the prefix-sum window runs over the DISTINCT-VALUE table in
    value order — the mann_whitney_u quantized-input contract (callers
    band/floor continuous metrics first; the distinct table, not the
    row count, is what one partition must hold). Returns one row:
    (n_a, n_b, n_values, w1).
    """
    per = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .select(
            F.col(value_col).cast("long").alias("val"),
            F.when(F.col(group_col) == group_a, F.lit(1))
            .otherwise(F.lit(0))
            .alias("ia"),
        )
        .groupBy("val")
        .agg(
            F.sum("ia").cast("long").alias("na"),
            F.sum(F.lit(1) - F.col("ia")).cast("long").alias("nb"),
        )
    )
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "val",
        F.sum("na").over(w).cast("long").alias("ca"),
        F.sum("nb").over(w).cast("long").alias("cb"),
        (F.lead("val").over(Window.orderBy("val")) - F.col("val"))
        .cast("long")
        .alias("gap"),
    )
    tot = per.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.count("*").cast("long").alias("n_values"),
    )
    num = cum.crossJoin(F.broadcast(tot)).agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.first("n_values").alias("n_values"),
        F.sum(
            F.when(
                F.col("gap").isNotNull(),
                F.abs(
                    F.col("ca").cast("decimal(19,0)")
                    * F.col("n_b").cast("decimal(19,0)")
                    - F.col("cb").cast("decimal(19,0)")
                    * F.col("n_a").cast("decimal(19,0)")
                ).cast("decimal(38,0)")
                * F.col("gap").cast("decimal(38,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("num"),
    )
    return num.select(
        "n_a", "n_b", "n_values",
        (
            F.col("num").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("w1"),
    )


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown-Forsythe test statistic for equality of group variances —
    Levene's W computed on absolute deviations from each group's
    MEDIAN (the robust centering that keeps the test honest under the
    skewed distributions revenue metrics actually have). The
    homoscedasticity gate before trusting a pooled-variance readout
    (cohens_d, welch_t's equal-variance cousin):

        z_ij = |x_ij - median_i|
        W = ((N - k) / (k - 1))
            * SUM_i n_i (zbar_i - zbar)^2 / SUM_ij (z_ij - zbar_i)^2

    The statistic is reported WITHOUT a p-value (its null is
    F(k-1, N-k); the repo's engine-portable special-function kit has
    no incomplete beta — the Durbin-Watson statistic-only precedent).

    Exactness: the per-group LOWER median (rank ceil(n/2) over the
    distinct-value table — the runs_test convention) is an actual data
    value, so every z is an exact integer; group moments are exact
    decimal sums; the two quadratic forms reduce to
    SUM_i S_i^2/n_i - S^2/N and SS - SUM_i S_i^2/n_i with the k
    group terms folded in group order (the kruskal determinism
    contract). Quantized-input contract: the median cut runs over the
    per-group distinct-value table. Returns one row:
    (n_rows, k_groups, w_stat).
    """
    cells = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(value_col).cast("long").alias("v"),
        )
        .filter(F.col("g").isNotNull() & F.col("v").isNotNull())
        .groupBy("g", "v")
        .agg(F.count("*").cast("long").alias("c"))
        .transform(materialize)
    )
    ng = cells.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    wcum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.select(
        "g", "v", F.sum("c").over(wcum).cast("long").alias("cum")
    )
    med = (
        cum.join(ng, "g")
        .filter(
            F.col("cum")
            >= F.floor((F.col("n") + F.lit(1)) / F.lit(2)).cast("long")
        )
        .groupBy("g")
        .agg(F.min("v").alias("med"))
    )
    d38 = "decimal(38,0)"
    z = F.abs(F.col("v") - F.col("med")).cast(d38)
    per = (
        cells.join(med, "g")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_i"),
            F.sum(F.col("c").cast(d38) * z).cast(d38).alias("s_i"),
            F.sum(F.col("c").cast(d38) * (z * z).cast(d38))
            .cast(d38)
            .alias("ss_i"),
        )
    )
    tot = per.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("s_i").cast(d38).alias("s"),
        F.sum("ss_i").cast(d38).alias("ss"),
    )
    folded = per.select(
        F.struct(
            "g",
            (
                F.col("s_i").cast("double")
                * F.col("s_i").cast("double")
                / F.col("n_i").cast("double")
            ).alias("t"),
        ).alias("__e")
    ).agg(F.array_sort(F.collect_list("__e")).alias("__arr"))
    sfold = F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda acc, x: acc + x["t"]
    )
    j = tot.crossJoin(F.broadcast(folded))
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    num = sfold - F.col("s").cast("double") * F.col("s").cast("double") / nd
    den = F.col("ss").cast("double") - sfold
    return j.select(
        F.col("n").alias("n_rows"),
        F.col("k").alias("k_groups"),
        (((nd - kd) / (kd - F.lit(1.0))) * F.try_divide(num, den)).alias(
            "w_stat"
        ),
    )


def mcnemar_test(
    df: DataFrame,
    a_col,
    b_col,
) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — "did the flag flip
    between condition A and condition B on the same units?", the
    within-subject counterpart of the two-proportion z (q278); only
    the discordant pairs carry information:

        z = (|b - c| - 1) / sqrt(b + c)     (continuity-corrected)

    with b = #(A=1, B=0), c = #(A=0, B=1). ONE map-side-combinable
    conditional aggregate over the scan; p from the engine-portable
    normal tail (normal_sf contract; the chi-square-df-1 form is this
    z squared). Returns one row: (n_pairs, n_b, n_c, z, p_value).
    """
    a = (F.col(a_col) if isinstance(a_col, str) else a_col).cast("int")
    b = (F.col(b_col) if isinstance(b_col, str) else b_col).cast("int")
    agg = df.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(a * (F.lit(1) - b)).cast("long").alias("n_b"),
        F.sum((F.lit(1) - a) * b).cast("long").alias("n_c"),
    )
    z = (
        F.abs(F.col("n_b") - F.col("n_c")).cast("double") - F.lit(1.0)
    ) / F.sqrt((F.col("n_b") + F.col("n_c")).cast("double"))
    return agg.select(
        "n_pairs", "n_b", "n_c",
        z.alias("z"),
        (F.lit(2.0) * normal_sf(z)).alias("p_value"),
    )


def cliffs_delta(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cliff's delta and the Vargha-Delaney A measure — the ORDINAL
    effect sizes companion to cohens_d (which assumes interval scale)
    and the magnitude readout behind mann_whitney_u's p-value:

        delta = (#{x > y} - #{x < y}) / (n_a n_b)        in [-1, 1]
        A     = (#{x > y} + 0.5 #{x = y}) / (n_a n_b)    = P(X > Y) + tie/2

    Exactness: rows collapse to the distinct-value table with per-group
    counts; the three pair counts come from ONE prefix window over it
    (value order — the mann_whitney quantized-input contract), each a
    sum of exact decimal count products; two divisions at the end.
    Returns one row: (n_a, n_b, n_gt, n_lt, n_eq, delta, a_measure).
    """
    d38 = "decimal(38,0)"
    per = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .select(
            F.col(value_col).cast("long").alias("val"),
            F.when(F.col(group_col) == group_a, F.lit(1))
            .otherwise(F.lit(0))
            .alias("ia"),
        )
        .groupBy("val")
        .agg(
            F.sum("ia").cast("long").alias("na"),
            F.sum(F.lit(1) - F.col("ia")).cast("long").alias("nb"),
        )
    )
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "na", "nb",
        (F.sum("na").over(w) - F.col("na")).cast("long").alias("ca_lt"),
        (F.sum("nb").over(w) - F.col("nb")).cast("long").alias("cb_lt"),
    )
    agg = cum.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum((F.col("na").cast(d38) * F.col("cb_lt")).cast(d38))
        .cast(d38)
        .alias("gt"),
        F.sum((F.col("nb").cast(d38) * F.col("ca_lt")).cast(d38))
        .cast(d38)
        .alias("lt"),
        F.sum((F.col("na").cast(d38) * F.col("nb")).cast(d38))
        .cast(d38)
        .alias("eq"),
    )
    nn = F.col("n_a").cast("double") * F.col("n_b").cast("double")
    return agg.select(
        "n_a", "n_b",
        F.col("gt").cast("long").alias("n_gt"),
        F.col("lt").cast("long").alias("n_lt"),
        F.col("eq").cast("long").alias("n_eq"),
        ((F.col("gt") - F.col("lt")).cast("double") / nn).alias("delta"),
        (
            (F.col("gt").cast("double") + F.lit(0.5) * F.col("eq").cast("double"))
            / nn
        ).alias("a_measure"),
    )


def energy_distance(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """EXACT univariate energy distance between two groups — the drift
    statistic that is zero IFF the distributions are identical
    (Székely-Rizzo), strictly stronger than any single-summary test
    and the metric twin of wasserstein_1d (W1 integrates one CDF gap;
    energy distance weighs all pairwise gaps):

        E = 2 E|X - Y| - E|X - X'| - E|X - Y'... - E|Y - Y'|

    Exactness: on integer-quantized values each expected absolute
    difference reduces to prefix-sum identities over the distinct-value
    table — SUM_i SUM_j |x_i - y_j| = SUM_v n_v * (v c(v) - s(v) +
    (S - s(v)) - v (N - c(v))) with c/s cumulative counts/sums — so all
    three double divisions consume exact decimal integers. ONE grouped
    count + one prefix window (the mann_whitney quantized-input
    contract). Returns one row: (n_a, n_b, e_xy, e_xx, e_yy, energy).
    """
    d38 = "decimal(38,0)"
    per = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .select(
            F.col(value_col).cast("long").alias("val"),
            F.when(F.col(group_col) == group_a, F.lit(1))
            .otherwise(F.lit(0))
            .alias("ia"),
        )
        .groupBy("val")
        .agg(
            F.sum("ia").cast("long").alias("na"),
            F.sum(F.lit(1) - F.col("ia")).cast("long").alias("nb"),
        )
    )
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    v = F.col("val").cast(d38)
    cum = per.select(
        "val", "na", "nb",
        F.sum("na").over(w).cast("long").alias("ca"),
        F.sum("nb").over(w).cast("long").alias("cb"),
        F.sum((F.col("na").cast(d38) * v).cast(d38)).over(w)
        .cast(d38)
        .alias("sa"),
        F.sum((F.col("nb").cast(d38) * v).cast(d38)).over(w)
        .cast(d38)
        .alias("sb"),
    )
    tot = per.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum((F.col("na").cast(d38) * F.col("val").cast(d38)).cast(d38))
        .cast(d38)
        .alias("s_a"),
        F.sum((F.col("nb").cast(d38) * F.col("val").cast(d38)).cast(d38))
        .cast(d38)
        .alias("s_b"),
    )
    j = cum.crossJoin(F.broadcast(tot))

    def absdiff_sum(n_col, c, s, n_tot, s_tot):
        # SUM_v n_v * sum_j |v - y_j| against the (c, s, N, S) side
        g = (
            v * F.col(c).cast(d38)
            - F.col(s)
            + (F.col(s_tot) - F.col(s))
            - v * (F.col(n_tot).cast(d38) - F.col(c).cast(d38))
        ).cast(d38)
        return F.sum((F.col(n_col).cast(d38) * g).cast(d38)).cast(d38)

    agg = j.agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        absdiff_sum("na", "cb", "sb", "n_b", "s_b").alias("sab"),
        absdiff_sum("na", "ca", "sa", "n_a", "s_a").alias("saa"),
        absdiff_sum("nb", "cb", "sb", "n_b", "s_b").alias("sbb"),
    )
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    e_xy = F.col("sab").cast("double") / (nad * nbd)
    e_xx = F.col("saa").cast("double") / (nad * nad)
    e_yy = F.col("sbb").cast("double") / (nbd * nbd)
    return agg.select(
        "n_a", "n_b",
        e_xy.alias("e_xy"),
        e_xx.alias("e_xx"),
        e_yy.alias("e_yy"),
        (F.lit(2.0) * e_xy - e_xx - e_yy).alias("energy"),
    )


def quade_test(
    df: DataFrame,
    block_col,
    treatment_col,
    value_col,
) -> DataFrame:
    """Quade test over a (block x treatment) metric table — the
    blocked rank test that, unlike friedman_test, WEIGHTS each block
    by the rank of its within-block range, so blocks where treatments
    actually differ count more (the more powerful choice for small k):

        S_ij = Q_i (r_ij - (k+1)/2);  T3 = (n-1) B / (A - B),
        A = SUM S_ij^2,  B = (1/n) SUM_j (SUM_i S_ij)^2

    All-integer with doubled midranks: U_ij = q2_i (r2_ij - (k+1))
    = 4 S_ij, and the 16 cancels in T3 = (n-1) B16 / (n A16 - B16) —
    ONE double division of exact decimal sums. The statistic is
    reported WITHOUT a p-value (null F(k-1,(n-1)(k-1)); the
    Brown-Forsythe statistic-only precedent). Input is the
    PRE-AGGREGATED cell table (post-aggregate contract). Returns one
    row: (n_blocks, k_treatments, t_stat).
    """
    d38 = "decimal(38,0)"
    b = F.col(block_col) if isinstance(block_col, str) else block_col
    t = (
        F.col(treatment_col)
        if isinstance(treatment_col, str)
        else treatment_col
    )
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    # pinned eagerly: the cell table is metadata-sized (post-aggregate
    # contract) but feeds SIX consumers (two rank self-join sides, the
    # range table twice, nk, and the U build) — without the checkpoint
    # each consumer replays the caller's aggregation join tree and the
    # lineage compounds through r2 x q2 x nk
    base = (
        df.select(b.alias("blk"), t.alias("trt"), v.alias("val"))
        .filter(F.col("val").isNotNull())
        .transform(materialize)
    )
    a, c = base.alias("a"), base.alias("c")
    r2 = a.join(c, F.col("a.blk") == F.col("c.blk")).groupBy(
        F.col("a.blk").alias("blk"), F.col("a.trt").alias("trt")
    ).agg(
        (
            F.lit(2) * F.sum((F.col("c.val") < F.col("a.val")).cast("int"))
            + F.sum((F.col("c.val") == F.col("a.val")).cast("int"))
            + 1
        )
        .cast("long")
        .alias("r2")
    )
    rng = base.groupBy("blk").agg(
        (F.max("val") - F.min("val")).cast("long").alias("rng")
    )
    ra, rc = rng.alias("ra"), rng.alias("rc")
    q2 = ra.crossJoin(rc).groupBy(F.col("ra.blk").alias("blk")).agg(
        (
            F.lit(2) * F.sum((F.col("rc.rng") < F.col("ra.rng")).cast("int"))
            + F.sum((F.col("rc.rng") == F.col("ra.rng")).cast("int"))
            + 1
        )
        .cast("long")
        .alias("q2")
    )
    nk = base.agg(
        F.countDistinct("blk").cast("long").alias("n"),
        F.countDistinct("trt").cast("long").alias("k"),
    )
    u = (
        r2.join(q2, "blk")
        .crossJoin(F.broadcast(nk))
        .select(
            "trt", "n", "k",
            (
                F.col("q2").cast(d38)
                * (F.col("r2") - (F.col("k") + 1)).cast(d38)
            ).cast(d38).alias("u"),
        )
        .transform(materialize)  # feeds both A and B sums
    )
    a16 = u.agg(
        F.sum((F.col("u") * F.col("u")).cast(d38)).cast(d38).alias("a16"),
        F.max("n").alias("n"),
        F.max("k").alias("k"),
    )
    b16 = (
        u.groupBy("trt")
        .agg(F.sum("u").cast(d38).alias("sj"))
        .agg(
            F.sum((F.col("sj") * F.col("sj")).cast(d38))
            .cast(d38)
            .alias("b16")
        )
    )
    j = a16.crossJoin(F.broadcast(b16))
    t3 = F.try_divide(
        (F.col("n") - 1).cast("double") * F.col("b16").cast("double"),
        (
            F.col("n").cast(d38) * F.col("a16") - F.col("b16")
        ).cast("double"),
    )
    return j.select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        t3.alias("t_stat"),
    )


def holm_bonferroni(
    df: DataFrame,
    key_cols: list,
    p_col: str,
    alpha: float = 0.05,
    p_round: int = 9,
) -> DataFrame:
    """Holm-Bonferroni step-down correction — familywise-error control
    (the STRICTER guarantee next to bh_fdr's false-discovery-share):
    uniformly more powerful than plain Bonferroni at the same FWER,
    valid under arbitrary dependence.

    Step-down rule (Holm 1979): sort p ascending (key tiebreak); rank
    i of m tests against alpha / (m - i + 1); reject ranks strictly
    BEFORE the first failure (once one test survives, everything after
    it survives too — unlike BH's step-up scan from the other end).
    P-values round to ``p_round`` before the comparison on both
    engines (the bh_fdr boundary-stability contract). The ordered
    window runs over the hypothesis table (metadata-sized; the
    post-aggregate window contract). Returns the input keys plus
    (p_value, holm_rank, holm_threshold, reject).
    """
    pr = F.round(F.col(p_col), p_round)
    w = Window.orderBy(
        F.col("p_value").asc(), *[F.col(k).asc() for k in key_cols]
    )
    m = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = df.select(*key_cols, pr.alias("p_value")).withColumn(
        "holm_rank", F.row_number().over(w)
    ).withColumn("__m", F.count("*").over(m))
    thresh = F.lit(alpha) / (
        F.col("__m") - F.col("holm_rank") + 1
    ).cast("double")
    flagged = ranked.withColumn("__ok", F.col("p_value") <= thresh)
    first_fail = F.min(
        F.when(~F.col("__ok"), F.col("holm_rank"))
    ).over(m)
    return flagged.select(
        *key_cols, "p_value",
        F.col("holm_rank").cast("long").alias("holm_rank"),
        thresh.alias("holm_threshold"),
        F.coalesce(
            F.col("holm_rank") < first_fail, F.col("__ok")
        ).alias("reject"),
    )


def g_test(
    df: DataFrame,
    a_col,
    b_col,
    expected_df: int | None = None,
) -> DataFrame:
    """G-test of independence (log-likelihood ratio) between two
    categorical columns — the information-theoretic twin of the
    Pearson chi-square behind cramers_v, additive across partitions
    (G values SUM across data slices; X^2 does not — the property that
    matters when drift checks run per-shard and fold):

        G = 2 SUM over observed cells o ln(o / e),  e = r_a c_b / N

    Empty cells contribute 0 (o ln o -> 0), so only OBSERVED cells are
    touched — no margin-grid fill. The log terms fold in (a, b) cell
    order (the cramers_v determinism contract; round per the PMI/zipf
    log contract). ``expected_df``: pass the design's (r-1)(c-1) when
    EVEN to get the elementary closed-form p (chi2_sf_even); default
    None reports the statistic with a NULL p (odd-df discipline). The
    declared df is cross-checked against the observed level counts —
    a mismatch raises downstream analysis confusion, so it NULLs the
    p rather than reporting a wrong tail. Returns one row:
    (n_rows, r_levels, c_levels, g_stat, p_value).
    """
    a = F.col(a_col) if isinstance(a_col, str) else a_col
    b = F.col(b_col) if isinstance(b_col, str) else b_col
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("a"), b.alias("b"))
        .agg(F.count("*").cast("long").alias("o"))
    )
    ra = cells.groupBy("a").agg(F.sum("o").cast("long").alias("ra"))
    cb = cells.groupBy("b").agg(F.sum("o").cast("long").alias("cb"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    term = F.col("o").cast("double") * F.log(
        F.col("o").cast("double")
        / (
            F.col("ra").cast("double")
            * F.col("cb").cast("double")
            / F.col("n").cast("double")
        )
    )
    folded = (
        cells.join(ra, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(tot))
        .select("n", F.struct("a", "b", term.alias("t")).alias("__e"))
        .groupBy("n")
        .agg(F.array_sort(F.collect_list("__e")).alias("__arr"))
    )
    g = F.lit(2.0) * F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda acc, x: acc + x["t"]
    )
    dims = ra.agg(F.count("*").cast("long").alias("r")).crossJoin(
        cb.agg(F.count("*").cast("long").alias("c"))
    )
    out = folded.crossJoin(F.broadcast(dims))
    if expected_df is not None and expected_df >= 2 and expected_df % 2 == 0:
        p = F.when(
            (F.col("r") - 1) * (F.col("c") - 1) == expected_df,
            chi2_sf_even(g, expected_df),
        )
    else:
        p = F.lit(None).cast("double")
    return out.select(
        F.col("n").alias("n_rows"),
        F.col("r").alias("r_levels"),
        F.col("c").alias("c_levels"),
        g.alias("g_stat"),
        p.alias("p_value"),
    )


def poisson_two_rate(
    df: DataFrame,
    period_col,
    count_col,
    period_a,
    period_b,
    exposure_a: int,
    exposure_b: int,
) -> DataFrame:
    """Two-sample Poisson rate comparison by the CONDITIONAL binomial
    test — "did the error rate change between these two windows?", the
    count-data sibling of proportion_ztest (exposures replace
    denominators): given the total X = x_a + x_b, under equal rates
    x_a ~ Bin(X, t_a / (t_a + t_b)), so

        z = (x_a - X p0) / sqrt(X p0 (1 - p0)),  p0 = t_a/(t_a + t_b)

    One conditional aggregate over the pre-counted period table;
    exposures are caller-declared design constants (days, hosts,
    requests). p from the engine-portable normal tail. Returns one
    row: (x_a, x_b, t_a, t_b, z, p_value).
    """
    per = F.col(period_col) if isinstance(period_col, str) else period_col
    cnt = F.col(count_col) if isinstance(count_col, str) else count_col
    agg = df.agg(
        F.sum(F.when(per == period_a, cnt).otherwise(F.lit(0)))
        .cast("long")
        .alias("x_a"),
        F.sum(F.when(per == period_b, cnt).otherwise(F.lit(0)))
        .cast("long")
        .alias("x_b"),
    )
    p0 = F.lit(float(exposure_a) / (exposure_a + exposure_b))
    x = (F.col("x_a") + F.col("x_b")).cast("double")
    z = (F.col("x_a").cast("double") - x * p0) / F.sqrt(
        x * p0 * (F.lit(1.0) - p0)
    )
    return agg.select(
        "x_a", "x_b",
        F.lit(exposure_a).cast("long").alias("t_a"),
        F.lit(exposure_b).cast("long").alias("t_b"),
        z.alias("z"),
        (F.lit(2.0) * normal_sf(F.abs(z))).alias("p_value"),
    )


def risk_odds_ratio(
    df: DataFrame,
    group_col,
    outcome_col,
    group_a,
    group_b,
    z_crit: float = 1.959963984540054,
) -> DataFrame:
    """Risk ratio (Katz) and odds ratio (Woolf) with log-scale
    confidence intervals — the epidemiology-style effect readout for a
    binary outcome across two cohorts, the RATIO companions of the
    difference-based proportion_ztest:

        RR = (x_a/n_a) / (x_b/n_b)
        CI: exp(ln RR +/- z sqrt(1/x_a - 1/n_a + 1/x_b - 1/n_b))
        OR = x_a (n_b - x_b) / (x_b (n_a - x_a))
        CI: exp(ln OR +/- z sqrt(1/x_a + 1/(n_a-x_a) + 1/x_b + 1/(n_b-x_b)))

    ONE conditional aggregate; all four cells exact integers; the
    log/exp CI tree is fixed doubles (round per the log contract).
    Degenerate cells (zero numerator/denominator) yield NULLs via
    try_divide semantics rather than infinities. Returns one row:
    (n_a, x_a, n_b, x_b, rr, rr_lo, rr_hi, or_, or_lo, or_hi).
    """
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y = (
        F.col(outcome_col) if isinstance(outcome_col, str) else outcome_col
    ).cast("int")
    agg = df.filter(g.isin([group_a, group_b])).agg(
        F.sum((g == group_a).cast("int")).cast("long").alias("n_a"),
        F.sum(F.when(g == group_a, y).otherwise(F.lit(0)))
        .cast("long")
        .alias("x_a"),
        F.sum((g == group_b).cast("int")).cast("long").alias("n_b"),
        F.sum(F.when(g == group_b, y).otherwise(F.lit(0)))
        .cast("long")
        .alias("x_b"),
    )
    na, xa = F.col("n_a").cast("double"), F.col("x_a").cast("double")
    nb, xb = F.col("n_b").cast("double"), F.col("x_b").cast("double")
    rr = F.try_divide(xa / na, xb / nb)
    se_rr = F.sqrt(
        F.lit(1.0) / xa - F.lit(1.0) / na + F.lit(1.0) / xb - F.lit(1.0) / nb
    )
    orr = F.try_divide(xa * (nb - xb), xb * (na - xa))
    se_or = F.sqrt(
        F.lit(1.0) / xa
        + F.lit(1.0) / (na - xa)
        + F.lit(1.0) / xb
        + F.lit(1.0) / (nb - xb)
    )
    zc = F.lit(float(z_crit))
    return agg.select(
        "n_a", "x_a", "n_b", "x_b",
        rr.alias("rr"),
        F.exp(F.log(rr) - zc * se_rr).alias("rr_lo"),
        F.exp(F.log(rr) + zc * se_rr).alias("rr_hi"),
        orr.alias("or_"),
        F.exp(F.log(orr) - zc * se_or).alias("or_lo"),
        F.exp(F.log(orr) + zc * se_or).alias("or_hi"),
    )


def cmh_test(
    df: DataFrame,
    stratum_col,
    group_col,
    outcome_col,
    group_a,
    group_b,
) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified 2x2 test + the
    Mantel-Haenszel pooled odds ratio — "does the effect hold WITHIN
    strata?", the confounding-aware readout a marginal 2x2
    (risk_odds_ratio) cannot give; Simpson's-paradox insurance for
    segment-stratified experiments:

        z = (SUM a_i - SUM E_i) / sqrt(SUM V_i),
        E_i = n1_i m1_i / n_i,
        V_i = n1_i n0_i m1_i m0_i / (n_i^2 (n_i - 1))
        OR_MH = SUM(a_i d_i / n_i) / SUM(b_i c_i / n_i)

    ONE grouped conditional aggregate builds every stratum's exact 2x2
    cells; the per-stratum double terms (E, V, and both OR sums) pass
    through decimal(38,18) casts so the stratum-sum order cannot
    perturb the result. Degenerate strata (n_i <= 1) contribute
    nothing (their V is undefined); p from the engine-portable normal
    tail, z-form without continuity correction (documented choice —
    square it for the classic CMH chi-square). Returns one row:
    (n_strata, sum_a, sum_e, z, p_value, or_mh).
    """
    s = F.col(stratum_col) if isinstance(stratum_col, str) else stratum_col
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y = (
        F.col(outcome_col) if isinstance(outcome_col, str) else outcome_col
    ).cast("int")
    per = (
        df.filter(g.isin([group_a, group_b]) & s.isNotNull())
        .groupBy(s.alias("st"))
        .agg(
            F.sum(F.when(g == group_a, y).otherwise(F.lit(0)))
            .cast("long")
            .alias("a"),
            F.sum(F.when(g == group_a, 1 - y).otherwise(F.lit(0)))
            .cast("long")
            .alias("b"),
            F.sum(F.when(g == group_b, y).otherwise(F.lit(0)))
            .cast("long")
            .alias("c"),
            F.sum(F.when(g == group_b, 1 - y).otherwise(F.lit(0)))
            .cast("long")
            .alias("d"),
        )
        .filter(F.col("a") + F.col("b") + F.col("c") + F.col("d") > 1)
    )
    d18 = "decimal(38,18)"
    ad, bd = F.col("a").cast("double"), F.col("b").cast("double")
    cd, dd = F.col("c").cast("double"), F.col("d").cast("double")
    nd = ad + bd + cd + dd
    n1, n0 = ad + bd, cd + dd
    m1, m0 = ad + cd, bd + dd
    e = n1 * m1 / nd
    v = n1 * n0 * m1 * m0 / (nd * nd * (nd - F.lit(1.0)))
    agg = per.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum("a").cast("long").alias("sum_a"),
        F.sum(e.cast(d18)).cast("double").alias("sum_e"),
        F.sum(v.cast(d18)).cast("double").alias("sum_v"),
        F.sum((ad * dd / nd).cast(d18)).cast("double").alias("s_ad"),
        F.sum((bd * cd / nd).cast(d18)).cast("double").alias("s_bc"),
    )
    z = (F.col("sum_a").cast("double") - F.col("sum_e")) / F.sqrt(
        F.col("sum_v")
    )
    return agg.select(
        "n_strata", "sum_a",
        F.col("sum_e").alias("sum_e"),
        z.alias("z"),
        (F.lit(2.0) * normal_sf(F.abs(z))).alias("p_value"),
        F.try_divide(F.col("s_ad"), F.col("s_bc")).alias("or_mh"),
    )


def covariate_balance(
    df: DataFrame,
    group_col,
    group_t,
    group_c,
    covariates: list,
) -> DataFrame:
    """Standardized-mean-difference balance table — the pre-analysis
    diagnostic every observational comparison (ipw_effect, cuped, did)
    should print first: |SMD| > 0.1 on a covariate means the "control"
    group differs before any treatment effect:

        SMD_x = (mean_t - mean_c) / sqrt((var_t + var_c) / 2)

    (sample variances). ONE conditional aggregate computes every
    covariate's per-arm exact decimal moments in a single scan —
    adding covariates adds columns, not passes (the run_checks
    shape) — and the k output rows are unioned plan-time selects.
    Covariates follow the exact-moment contract (integer-quantized
    upstream). Returns one row per covariate:
    (covariate, n_t, n_c, mean_t, mean_c, smd).
    """
    d38 = "decimal(38,0)"
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    base = df.filter(g.isin([group_t, group_c]))
    aggs = [
        F.sum((g == group_t).cast("int")).cast("long").alias("n_t"),
        F.sum((g == group_c).cast("int")).cast("long").alias("n_c"),
    ]
    for x in covariates:
        v = F.col(x).cast(d38)
        for arm, cond in (("t", g == group_t), ("c", g == group_c)):
            aggs.append(
                F.sum(F.when(cond, v).otherwise(F.lit(0).cast(d38)))
                .cast(d38)
                .alias(f"s1_{x}_{arm}")
            )
            aggs.append(
                F.sum(
                    F.when(cond, (v * v).cast(d38)).otherwise(
                        F.lit(0).cast(d38)
                    )
                )
                .cast(d38)
                .alias(f"s2_{x}_{arm}")
            )
    wide = base.agg(*aggs)
    outs = []
    for x in covariates:
        nt, nc = F.col("n_t").cast("double"), F.col("n_c").cast("double")
        mt = F.col(f"s1_{x}_t").cast("double") / nt
        mc = F.col(f"s1_{x}_c").cast("double") / nc
        vt = (
            F.col(f"s2_{x}_t").cast("double")
            - F.col(f"s1_{x}_t").cast("double")
            * F.col(f"s1_{x}_t").cast("double")
            / nt
        ) / (nt - F.lit(1.0))
        vc = (
            F.col(f"s2_{x}_c").cast("double")
            - F.col(f"s1_{x}_c").cast("double")
            * F.col(f"s1_{x}_c").cast("double")
            / nc
        ) / (nc - F.lit(1.0))
        outs.append(
            wide.select(
                F.lit(x).alias("covariate"),
                "n_t", "n_c",
                mt.alias("mean_t"),
                mc.alias("mean_c"),
                F.try_divide(
                    mt - mc, F.sqrt((vt + vc) / F.lit(2.0))
                ).alias("smd"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def paired_t(
    df: DataFrame,
    a_col,
    b_col,
) -> DataFrame:
    """Paired t statistic on integer-quantized pairs — the
    within-unit difference test (each unit is its own control), the
    continuous-outcome sibling of mcnemar_test:

        t = mean(d) / sqrt(var(d) / n),   d = a - b

    Differences are exact integers; one aggregate of exact decimal
    moments; the large-n normal tail prices the p (the repo has no
    t-distribution — for the corpus-scale n where this runs, t and z
    are indistinguishable; documented approximation, same rounding
    contract). Returns one row: (n_pairs, mean_diff, t_stat, p_value).
    """
    d38 = "decimal(38,0)"
    a = F.col(a_col) if isinstance(a_col, str) else a_col
    b = F.col(b_col) if isinstance(b_col, str) else b_col
    d = (a.cast("long") - b.cast("long")).cast(d38)
    agg = df.filter(a.isNotNull() & b.isNotNull()).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(d).cast(d38).alias("s1"),
        F.sum((d * d).cast(d38)).cast(d38).alias("s2"),
    )
    nd = F.col("n_pairs").cast("double")
    mean = F.col("s1").cast("double") / nd
    # try_divide: a single pair has no variance estimate -> NULL t/p
    var = F.try_divide(
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / nd,
        nd - F.lit(1.0),
    )
    t = F.try_divide(mean, F.sqrt(var / nd))
    return agg.select(
        "n_pairs",
        mean.alias("mean_diff"),
        t.alias("t_stat"),
        (F.lit(2.0) * normal_sf(F.abs(t))).alias("p_value"),
    )


def dunn_posthoc(
    df: DataFrame,
    group_col,
    value_col,
) -> DataFrame:
    """Dunn's post-hoc test — WHICH groups differ, after
    kruskal_wallis says SOME do: pairwise z statistics on pooled
    midranks with the KW tie correction, Bonferroni-adjusted:

        z_ij = (rbar_i - rbar_j)
               / sqrt((N(N+1)/12 - T/(12(N-1))) (1/n_i + 1/n_j))

    Same scalable shape as the omnibus test: ONE (value, group)
    grouped count, doubled midranks from one prefix window over the
    distinct-value table (quantized-input contract), exact integer
    rank sums; the k^2/2 pair grid is metadata-sized. Returns one row
    per unordered group pair:
    (grp_a, grp_b, z, p_raw, p_bonf) ordered by (grp_a, grp_b).
    """
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = (
        df.select(g.alias("g"), v.cast("long").alias("val"))
        .filter(F.col("g").isNotNull() & F.col("val").isNotNull())
        .groupBy("val", "g")
        .agg(F.count("*").cast("long").alias("c"))
    )
    vt = per.groupBy("val").agg(F.sum("c").cast("long").alias("t"))
    w = Window.orderBy("val")
    r2 = vt.select(
        "val", "t",
        (
            F.lit(2)
            * (
                F.coalesce(
                    F.sum("t").over(
                        w.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                )
            )
            + F.col("t")
            + 1
        )
        .cast("long")
        .alias("r2"),
    )
    grp = (
        per.join(r2, "val")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(
                (F.col("c").cast("decimal(38,0)") * F.col("r2")).cast(
                    "decimal(38,0)"
                )
            )
            .cast("decimal(38,0)")
            .alias("rs2"),
        )
        .transform(materialize)
    )
    tot = r2.agg(
        F.sum("t").cast("long").alias("nn"),
        F.sum(
            (
                F.col("t").cast("decimal(38,0)")
                * F.col("t")
                * F.col("t")
                - F.col("t")
            ).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("t3"),
    )
    a, b = grp.alias("a"), grp.alias("b")
    pairs = a.join(b, F.col("a.g") < F.col("b.g")).crossJoin(
        F.broadcast(tot)
    )
    nd = F.col("nn").cast("double")
    mba = F.col("a.rs2").cast("double") / (
        F.lit(2.0) * F.col("a.n").cast("double")
    )
    mbb = F.col("b.rs2").cast("double") / (
        F.lit(2.0) * F.col("b.n").cast("double")
    )
    var = (
        nd * (nd + F.lit(1.0)) / F.lit(12.0)
        - F.col("t3").cast("double")
        / (F.lit(12.0) * (nd - F.lit(1.0)))
    ) * (
        F.lit(1.0) / F.col("a.n").cast("double")
        + F.lit(1.0) / F.col("b.n").cast("double")
    )
    z = (mba - mbb) / F.sqrt(var)
    p_raw = F.lit(2.0) * normal_sf(F.abs(z))
    out = pairs.select(
        F.col("a.g").alias("grp_a"),
        F.col("b.g").alias("grp_b"),
        z.alias("z"),
        p_raw.alias("p_raw"),
    )
    cnt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return out.select(
        "grp_a", "grp_b", "z", "p_raw",
        F.least(
            F.lit(1.0), F.col("p_raw") * F.count("*").over(cnt).cast("double")
        ).alias("p_bonf"),
    ).orderBy("grp_a", "grp_b")


def stuart_maxwell_3(
    df: DataFrame,
    a_col,
    b_col,
) -> DataFrame:
    """Stuart-Maxwell marginal-homogeneity test for PAIRED 3-category
    labels — "did the label DISTRIBUTION drift between two annotation
    passes?", the k=3 generalization of McNemar (which only sees 2x2
    flips). The k=3 closed form avoids any matrix inverse and, with
    m_jk = n_jk + n_kj and d_i = row_i - col_i, reduces to ONE
    all-integer ratio (the 1/2 factors cancel):

        chi2 = (m_23 d_1^2 + m_13 d_2^2 + m_12 d_3^2)
               / (m_12 m_13 + m_12 m_23 + m_13 m_23),   df = 2

    Categories are indexed by their SORTED order (deterministic on
    both engines). Exactly 3 observed categories are required — more
    raise, fewer make the test degenerate (use mcnemar_test for 2).
    One grouped count + one metadata aggregate; df=2 is even, so the
    elementary closed-form tail prices the p. Returns one row:
    (n_pairs, chi2, p_value).
    """
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
            "cat",
            F.row_number().over(Window.orderBy("cat")).alias("ix"),
        )
    )
    idx = (
        cells.join(cats.select(F.col("cat").alias("ca"), F.col("ix").alias("i")), "ca")
        .join(cats.select(F.col("cat").alias("cb"), F.col("ix").alias("j")), "cb")
    )

    def cell(i, j):
        return (
            F.sum(
                F.when(
                    (F.col("i") == i) & (F.col("j") == j), F.col("o")
                ).otherwise(F.lit(0))
            )
            .cast("long")
        )

    wide = idx.agg(
        F.sum("o").cast("long").alias("n_pairs"),
        F.max("i").alias("mi"),
        F.max("j").alias("mj"),
        *[
            cell(i, j).alias(f"n{i}{j}")
            for i in (1, 2, 3)
            for j in (1, 2, 3)
        ],
    )
    # guard: the closed form is k=3 only
    wide = wide.filter((F.col("mi") <= 3) & (F.col("mj") <= 3))
    d1 = (
        F.col("n11") + F.col("n12") + F.col("n13")
        - F.col("n11") - F.col("n21") - F.col("n31")
    ).cast("double")
    d2 = (
        F.col("n21") + F.col("n22") + F.col("n23")
        - F.col("n12") - F.col("n22") - F.col("n32")
    ).cast("double")
    d3 = (
        F.col("n31") + F.col("n32") + F.col("n33")
        - F.col("n13") - F.col("n23") - F.col("n33")
    ).cast("double")
    m12 = (F.col("n12") + F.col("n21")).cast("double")
    m13 = (F.col("n13") + F.col("n31")).cast("double")
    m23 = (F.col("n23") + F.col("n32")).cast("double")
    chi2 = F.try_divide(
        m23 * d1 * d1 + m13 * d2 * d2 + m12 * d3 * d3,
        m12 * m13 + m12 * m23 + m13 * m23,
    )
    return wide.select(
        "n_pairs",
        chi2.alias("chi2"),
        chi2_sf_even(chi2, 2).alias("p_value"),
    )


def kendalls_w(
    df: DataFrame,
    block_col,
    treatment_col,
    value_col,
) -> DataFrame:
    """Kendall's coefficient of concordance W — HOW MUCH the m blocks
    agree on the ranking of the k treatments ([0, 1]; the effect-size
    companion to friedman_test's yes/no Q, related by Q = m (k-1) W):

        W = 3 (SUM_j R2_j^2 - m^2 k (k+1)^2)
            / (m^2 (k^3 - k) - m SUM_i T_i)

    in the doubled-midrank integer form (R2_j = doubled rank sums,
    T_i = within-block tie correction sum(t^3 - t)) — every term an
    exact integer, ONE double division. Input is the PRE-AGGREGATED
    cell table (post-aggregate contract). Returns one row:
    (n_blocks, k_treatments, w_coef).
    """
    d38 = "decimal(38,0)"
    b = F.col(block_col) if isinstance(block_col, str) else block_col
    t = (
        F.col(treatment_col)
        if isinstance(treatment_col, str)
        else treatment_col
    )
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    base = (
        df.select(b.alias("blk"), t.alias("trt"), v.alias("val"))
        .filter(F.col("val").isNotNull())
        .transform(materialize)
    )
    a, c = base.alias("a"), base.alias("c")
    r2 = a.join(c, F.col("a.blk") == F.col("c.blk")).groupBy(
        F.col("a.blk").alias("blk"), F.col("a.trt").alias("trt")
    ).agg(
        (
            F.lit(2) * F.sum((F.col("c.val") < F.col("a.val")).cast("int"))
            + F.sum((F.col("c.val") == F.col("a.val")).cast("int"))
            + 1
        )
        .cast("long")
        .alias("r2")
    )
    rj = r2.groupBy("trt").agg(F.sum("r2").cast("long").alias("r2j"))
    s4 = rj.agg(
        F.sum((F.col("r2j").cast(d38) * F.col("r2j")).cast(d38))
        .cast(d38)
        .alias("sr2"),
    )
    # within-block tie sums: group cell values per block
    ties = (
        base.groupBy("blk", "val")
        .agg(F.count("*").cast("long").alias("tt"))
        .agg(
            F.sum(
                (
                    F.col("tt").cast(d38) * F.col("tt") * F.col("tt")
                    - F.col("tt")
                ).cast(d38)
            )
            .cast(d38)
            .alias("t3")
        )
    )
    nk = base.agg(
        F.countDistinct("blk").cast("long").alias("m"),
        F.countDistinct("trt").cast("long").alias("k"),
    )
    j = (
        nk.crossJoin(F.broadcast(s4))
        .crossJoin(F.broadcast(ties))
    )
    md = F.col("m").cast("double")
    kd = F.col("k").cast("double")
    num = F.lit(3.0) * (
        F.col("sr2").cast("double")
        - md * md * kd * (kd + F.lit(1.0)) * (kd + F.lit(1.0))
    )
    den = md * md * (kd * kd * kd - kd) - md * F.col("t3").cast("double")
    return j.select(
        F.col("m").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        F.try_divide(num, den).alias("w_coef"),
    )


def lins_ccc(
    df: DataFrame,
    x_col,
    y_col,
) -> DataFrame:
    """Lin's concordance correlation coefficient — "do predictions
    agree with the truth along the 45-degree line?", the single number
    combining precision (Pearson r) AND accuracy (scale/location
    shift) that r alone misses (a model that predicts 2x the truth has
    r = 1 but CCC << 1):

        CCC = 2 s_xy / (s_x^2 + s_y^2 + (mean_x - mean_y)^2)

    (population moments, Lin 1989). ONE aggregate of exact decimal
    moments over integer-quantized pairs; the CCC and the Pearson r it
    decomposes against are fixed double trees. Returns one row:
    (n_pairs, mean_x, mean_y, pearson_r, ccc).
    """
    d38 = "decimal(38,0)"
    x = (F.col(x_col) if isinstance(x_col, str) else x_col).cast("long")
    y = (F.col(y_col) if isinstance(y_col, str) else y_col).cast("long")
    xd, yd = x.cast(d38), y.cast(d38)
    agg = df.filter(x.isNotNull() & y.isNotNull()).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(xd).cast(d38).alias("sx"),
        F.sum(yd).cast(d38).alias("sy"),
        F.sum((xd * xd).cast(d38)).cast(d38).alias("sxx"),
        F.sum((yd * yd).cast(d38)).cast(d38).alias("syy"),
        F.sum((xd * yd).cast(d38)).cast(d38).alias("sxy"),
    )
    nd = F.col("n_pairs").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    vx = F.col("sxx").cast("double") / nd - mx * mx
    vy = F.col("syy").cast("double") / nd - my * my
    cxy = F.col("sxy").cast("double") / nd - mx * my
    return agg.select(
        "n_pairs",
        mx.alias("mean_x"),
        my.alias("mean_y"),
        F.try_divide(cxy, F.sqrt(vx * vy)).alias("pearson_r"),
        F.try_divide(
            F.lit(2.0) * cxy, vx + vy + (mx - my) * (mx - my)
        ).alias("ccc"),
    )


def bland_altman(
    df: DataFrame,
    a_col,
    b_col,
    z_crit: float = 1.959963984540054,
) -> DataFrame:
    """Bland-Altman limits of agreement for paired integer-quantized
    measurements — "within what band do two measurement methods
    disagree?", the interval the paired_t p-value does not give:

        bias = mean(a - b);  LoA = bias +/- z * sd(a - b)
        pct_within = share of pairs inside the band

    One exact-decimal moment pass sets the band; one second pass over
    the (already grouped upstream) pair table counts coverage — the
    band constants broadcast, so no extra shuffle of the pairs.
    Returns one row:
    (n_pairs, bias, sd_diff, loa_lo, loa_hi, pct_within).
    """
    d38 = "decimal(38,0)"
    a = F.col(a_col) if isinstance(a_col, str) else a_col
    b = F.col(b_col) if isinstance(b_col, str) else b_col
    pairs = df.filter(a.isNotNull() & b.isNotNull()).select(
        (a.cast("long") - b.cast("long")).alias("d")
    )
    agg = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("d").cast(d38)).cast(d38).alias("s1"),
        F.sum((F.col("d").cast(d38) * F.col("d")).cast(d38))
        .cast(d38)
        .alias("s2"),
    )
    nd = F.col("n_pairs").cast("double")
    bias = F.col("s1").cast("double") / nd
    sd = F.sqrt(
        F.try_divide(
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double") / nd,
            nd - F.lit(1.0),
        )
    )
    zc = F.lit(float(z_crit))
    band = agg.select(
        "n_pairs",
        bias.alias("bias"),
        sd.alias("sd_diff"),
        (bias - zc * sd).alias("loa_lo"),
        (bias + zc * sd).alias("loa_hi"),
    )
    within = pairs.crossJoin(F.broadcast(band)).agg(
        F.sum(
            (
                (F.col("d").cast("double") >= F.col("loa_lo"))
                & (F.col("d").cast("double") <= F.col("loa_hi"))
            ).cast("int")
        )
        .cast("long")
        .alias("n_within")
    )
    return band.crossJoin(F.broadcast(within)).select(
        "n_pairs", "bias", "sd_diff", "loa_lo", "loa_hi",
        (
            F.col("n_within").cast("double")
            / F.col("n_pairs").cast("double")
        ).alias("pct_within"),
    )


def yuen_t(
    df: DataFrame,
    group_col,
    value_col,
    group_a,
    group_b,
    trim: float = 0.2,
) -> DataFrame:
    """Yuen's trimmed-mean test — the robust two-sample comparison
    that survives the heavy tails welch_t chokes on: compare
    ``trim``-trimmed means with winsorized variances:

        t = (xt_a - xt_b) / sqrt(d_a + d_b),
        d_i = (n_i - 1) s2w_i / (h_i (h_i - 1)),  h_i = n_i - 2 g_i,
        g_i = floor(trim * n_i)

    EXACT trimming at scale: per group, the g-th/(n-g)-th order
    statistics come from the distinct-value cumulative table (the q66
    exact-percentile discipline — quantized-input contract), the kept
    mass per value is pure rank arithmetic (min(cum, hi) - max(prior,
    lo), clamped), and the winsorized tails add g copies of the exact
    boundary VALUES — every sum an exact integer, no row ever sorted.
    p from the large-n normal tail (documented; Yuen's
    Welch-Satterthwaite df is fractional and the repo's portable kit
    has no t tail). Returns one row:
    (n_a, n_b, h_a, h_b, tmean_a, tmean_b, t_stat, p_value).
    """
    d38 = "decimal(38,0)"

    def side(tag, grp):
        per = (
            df.filter(F.col(group_col) == grp)
            .select(F.col(value_col).cast("long").alias("v"))
            .filter(F.col("v").isNotNull())
            .groupBy("v")
            .agg(F.count("*").cast("long").alias("c"))
        )
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        cum = per.select(
            "v", "c", F.sum("c").over(w).cast("long").alias("cum")
        ).transform(materialize)
        tot = cum.agg(F.max("cum").cast("long").alias("n"))
        # g = floor(trim * n); kept ranks (g, n - g]
        g = F.floor(F.lit(float(trim)) * F.col("n").cast("double")).cast(
            "long"
        )
        bounds = tot.select(
            F.col("n"), g.alias("g"), (F.col("n") - g).alias("hi")
        )
        b = cum.crossJoin(F.broadcast(bounds))
        kept = F.greatest(
            F.least(F.col("cum"), F.col("hi"))
            - F.greatest(F.col("cum") - F.col("c"), F.col("g")),
            F.lit(0).cast("long"),
        )
        sums = b.agg(
            F.first("n").alias("n"),
            F.first("g").alias("g"),
            F.first("hi").alias("hi"),
            F.sum((kept.cast(d38) * F.col("v")).cast(d38))
            .cast(d38)
            .alias("ts"),
            F.sum(
                (kept.cast(d38) * (F.col("v").cast(d38) * F.col("v")).cast(d38))
                .cast(d38)
            )
            .cast(d38)
            .alias("tss"),
            F.min(
                F.when(F.col("cum") >= F.col("g") + 1, F.col("v"))
            ).alias("v_lo"),
            F.min(F.when(F.col("cum") >= F.col("hi"), F.col("v"))).alias(
                "v_hi"
            ),
        )
        # winsorized moments: add g copies of each boundary value
        ws = (
            F.col("ts")
            + (F.col("g").cast(d38) * F.col("v_lo")).cast(d38)
            + (F.col("g").cast(d38) * F.col("v_hi")).cast(d38)
        ).cast(d38)
        wss = (
            F.col("tss")
            + (
                F.col("g").cast(d38)
                * (F.col("v_lo").cast(d38) * F.col("v_lo")).cast(d38)
            ).cast(d38)
            + (
                F.col("g").cast(d38)
                * (F.col("v_hi").cast(d38) * F.col("v_hi")).cast(d38)
            ).cast(d38)
        ).cast(d38)
        return sums.select(
            F.col("n").alias(f"n_{tag}"),
            (F.col("hi") - F.col("g")).cast("long").alias(f"h_{tag}"),
            F.col("ts").alias(f"ts_{tag}"),
            ws.alias(f"ws_{tag}"),
            wss.alias(f"wss_{tag}"),
        )

    j = side("a", group_a).crossJoin(F.broadcast(side("b", group_b)))

    def stats(tag):
        nd = F.col(f"n_{tag}").cast("double")
        hd = F.col(f"h_{tag}").cast("double")
        tm = F.col(f"ts_{tag}").cast("double") / hd
        s2w = (
            F.col(f"wss_{tag}").cast("double")
            - F.col(f"ws_{tag}").cast("double")
            * F.col(f"ws_{tag}").cast("double")
            / nd
        ) / (nd - F.lit(1.0))
        d = (nd - F.lit(1.0)) * s2w / (hd * (hd - F.lit(1.0)))
        return tm, d

    tma, da = stats("a")
    tmb, db = stats("b")
    t = (tma - tmb) / F.sqrt(da + db)
    return j.select(
        "n_a", "n_b", "h_a", "h_b",
        tma.alias("tmean_a"),
        tmb.alias("tmean_b"),
        t.alias("t_stat"),
        (F.lit(2.0) * normal_sf(F.abs(t))).alias("p_value"),
    )


def cohens_h(
    df: DataFrame,
    group_col,
    outcome_col,
    group_a,
    group_b,
) -> DataFrame:
    """Cohen's h — the effect size for two PROPORTIONS via the
    arcsine-sqrt variance-stabilizing transform (the companion to
    cohens_d for binary outcomes; a 5pp difference near 50% is a much
    smaller h than 5pp near 1%):

        h = 2 asin(sqrt(p_a)) - 2 asin(sqrt(p_b))

    ONE conditional aggregate to the exact 2x2 cells; asin follows the
    PMI/zipf rounding contract (callers round <= 12). Returns one row:
    (n_a, x_a, n_b, x_b, p_a, p_b, h).
    """
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    y = (
        F.col(outcome_col) if isinstance(outcome_col, str) else outcome_col
    ).cast("int")
    agg = df.filter(g.isin([group_a, group_b])).agg(
        F.sum((g == group_a).cast("int")).cast("long").alias("n_a"),
        F.sum(F.when(g == group_a, y).otherwise(F.lit(0)))
        .cast("long")
        .alias("x_a"),
        F.sum((g == group_b).cast("int")).cast("long").alias("n_b"),
        F.sum(F.when(g == group_b, y).otherwise(F.lit(0)))
        .cast("long")
        .alias("x_b"),
    )
    pa = F.col("x_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("x_b").cast("double") / F.col("n_b").cast("double")
    return agg.select(
        "n_a", "x_a", "n_b", "x_b",
        pa.alias("p_a"),
        pb.alias("p_b"),
        (
            F.lit(2.0) * F.asin(F.sqrt(pa))
            - F.lit(2.0) * F.asin(F.sqrt(pb))
        ).alias("h"),
    )


def jackknife_ratio(
    df: DataFrame,
    group_col: str,
    num_col: str,
    den_col: str,
) -> DataFrame:
    """Delete-one-BLOCK jackknife for the ratio metric
    R = sum(num) / sum(den) — bias correction + standard error for
    the per-unit KPI family (revenue per order, clicks per session)
    whose plug-in estimator is biased and whose rows are correlated
    within blocks. Deleting BLOCKS (days, cohorts), not rows, keeps
    the replicate count calendar-bounded and respects within-block
    correlation (the block-bootstrap rationale, without resampling):

        r_g     = (S_num - num_g) / (S_den - den_g)
        R_jack  = n R - (n-1) mean(r_g)
        bias^   = (n-1) (mean(r_g) - R)
        SE^2    = (n-1)/n * sum (r_g - mean)^2

    Scale: one grouped integer aggregate (the only data pass), a
    broadcast total, and two ordered folds over the block table
    (calendar-bounded — the kaplan_meier array contract). Group sums
    are exact integers; each r_g and the fold sums are fixed-order
    IEEE doubles a SQL oracle replays via ordered LIST folds.

    Returns one row:
    (n_blocks, ratio_full, ratio_jack, bias_est, se_jack).
    """
    per = df.groupBy(F.col(group_col).alias("g")).agg(
        F.sum(F.col(num_col).cast("long")).cast("long").alias("y"),
        F.sum(F.col(den_col).cast("long")).cast("long").alias("x"),
    )
    tot = per.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("x").cast("long").alias("sx"),
    )
    reps = per.crossJoin(F.broadcast(tot)).select(
        F.struct(
            "g",
            (
                (F.col("sy") - F.col("y")).cast("double")
                / (F.col("sx") - F.col("x")).cast("double")
            ).alias("r"),
        ).alias("__e"),
        "n",
        "sy",
        "sx",
    )
    one = reps.groupBy("n", "sy", "sx").agg(
        F.array_sort(F.collect_list("__e")).alias("__arr")
    )
    sr = F.aggregate(F.col("__arr"), F.lit(0.0), lambda a, e: a + e["r"])
    sr2 = F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda a, e: a + e["r"] * e["r"]
    )
    nd = F.col("n").cast("double")
    rf = F.col("sy").cast("double") / F.col("sx").cast("double")
    mean = sr / nd
    rj = nd * rf - (nd - F.lit(1.0)) * mean
    bias = (nd - F.lit(1.0)) * (mean - rf)
    se = F.sqrt(
        (nd - F.lit(1.0)) / nd * (sr2 - sr * sr / nd)
    )
    return one.select(
        F.col("n").alias("n_blocks"),
        rf.alias("ratio_full"),
        rj.alias("ratio_jack"),
        bias.alias("bias_est"),
        se.alias("se_jack"),
    )


def kuiper_test(
    df: DataFrame,
    group_col: str,
    value_col,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kuiper statistic V = D+ + D- over the pooled ECDF —
    the rotation-invariant KS (q186): KS sees only the single largest
    gap, so a distribution shifted in BOTH tails (or cyclically) can
    slip under it; Kuiper adds the largest gap in each direction.

    Same shape and contracts as mann_whitney_u: one grouped count on
    the QUANTIZED value grid (band upstream — the distinct-value table
    is the scale bound), one cumulative window over that grid, exact
    integer cumulative counts, and the two ECDF gaps as fixed double
    ratios whose maxima both engines take over identical doubles.

    Returns one row: (n_a, n_b, d_plus, d_minus, kuiper_v).
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    g = F.col(group_col)
    per = (
        df.filter(g.isin([group_a, group_b]) & v.isNotNull())
        .groupBy(v.alias("val"))
        .agg(
            F.sum((g == F.lit(group_a)).cast("int")).cast("long").alias("na"),
            F.sum((g == F.lit(group_b)).cast("int")).cast("long").alias("nb"),
        )
    )
    w = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        F.sum("na").over(w).cast("long").alias("ca"),
        F.sum("nb").over(w).cast("long").alias("cb"),
    )
    tot = per.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    diff = F.col("ca").cast("double") / F.col("n_a").cast("double") - F.col(
        "cb"
    ).cast("double") / F.col("n_b").cast("double")
    agg = j.groupBy("n_a", "n_b").agg(
        F.max(diff).alias("d_plus"),
        F.max(-diff).alias("d_minus"),
    )
    return agg.select(
        "n_a",
        "n_b",
        F.greatest(F.col("d_plus"), F.lit(0.0)).alias("d_plus"),
        F.greatest(F.col("d_minus"), F.lit(0.0)).alias("d_minus"),
        (
            F.greatest(F.col("d_plus"), F.lit(0.0))
            + F.greatest(F.col("d_minus"), F.lit(0.0))
        ).alias("kuiper_v"),
    )


def ansari_bradley(
    df: DataFrame,
    group_col: str,
    value_col,
    group_a,
    group_b,
) -> DataFrame:
    """Ansari-Bradley rank test for SCALE (dispersion) — "same center,
    different spread?", the nonparametric Goldfeld-Quandt sibling
    (mann_whitney_u tests location; AB scores distance from the rank
    EDGES, so tightly-bunched samples score high):

        score a_i = min(r_i, N + 1 - r_i)    (midranks under ties)
        AB = sum of scores over sample A

    Exact-moments-under-ties normal approximation (tie-robust — no
    tabulated constants):

        E[AB]   = m/N * SUM a
        Var[AB] = m n (N SUM a^2 - (SUM a)^2) / (N^2 (N-1))

    Doubled-unit discipline throughout (2*midrank and 2*score are
    pure int64 — the mann_whitney determinism contract; the doubling
    cancels inside z). One grouped count on the quantized value grid,
    one cumulative window, one aggregate. Callers round p per the
    normal_sf contract.

    Returns one row: (n_a, n_b, ab_stat, z, p_value).
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    g = F.col(group_col)
    per = (
        df.filter(g.isin([group_a, group_b]) & v.isNotNull())
        .groupBy(v.alias("val"))
        .agg(
            F.sum((g == F.lit(group_a)).cast("int")).cast("long").alias("na"),
            F.sum((g == F.lit(group_b)).cast("int")).cast("long").alias("nb"),
        )
    )
    w = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    t = F.col("na") + F.col("nb")
    ranked = per.select(
        "na",
        "nb",
        t.alias("t"),
        (F.lit(2) * (F.sum(t).over(w) - t) + t + F.lit(1)).alias("r2"),
    )
    tot = ranked.agg(
        F.sum(F.col("na") + F.col("nb")).cast("long").alias("nn")
    )
    scored = ranked.crossJoin(F.broadcast(tot)).select(
        "na",
        "nb",
        "t",
        "nn",
        F.least(
            F.col("r2"), F.lit(2) * (F.col("nn") + 1) - F.col("r2")
        ).alias("a2"),
    )
    agg = scored.groupBy("nn").agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum(F.col("na") * F.col("a2")).cast("long").alias("ab2"),
        F.sum(F.col("t") * F.col("a2")).cast("long").alias("sa2"),
        F.sum(F.col("t") * F.col("a2") * F.col("a2"))
        .cast("long")
        .alias("sa2sq"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = F.col("nn").cast("double")
    e2 = na / n * F.col("sa2").cast("double")
    var2 = (
        na
        * nb
        * (
            n * F.col("sa2sq").cast("double")
            - F.col("sa2").cast("double") * F.col("sa2").cast("double")
        )
        / (n * n * (n - F.lit(1.0)))
    )
    z = F.try_divide(F.col("ab2").cast("double") - e2, F.sqrt(var2))
    return agg.select(
        "n_a",
        "n_b",
        (F.col("ab2").cast("double") / F.lit(2.0)).alias("ab_stat"),
        z.alias("z"),
        (F.lit(2.0) * normal_sf(F.abs(z))).alias("p_value"),
    )


def ks_uniform_test(
    df: DataFrame,
    value_col,
    n_terms: int = 8,
) -> DataFrame:
    """One-sample Kolmogorov-Smirnov test against the UNIFORM law on
    the observed [min, max] — "is this id/band column actually
    uniform?", the allocation-audit sibling of the two-sample drift
    KS (q186, which has no p). D compares the empirical CDF with the
    uniform CDF at each distinct value (both step corners), and the
    p-value is the elementary Kolmogorov series

        p = 2 SUM_{j=1..n_terms} (-1)^(j-1) exp(-2 j^2 D^2 n)

    — a fixed exp sum both engines evaluate identically (the
    chi2_sf_even convention; callers round p at <= 9).

    Scale: one grouped count on the quantized value grid, one
    cumulative window over the grid, exact integer counts; D and p
    are fixed double trees.

    Returns one row: (n, v_min, v_max, d_stat, p_value).
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = (
        df.filter(v.isNotNull())
        .groupBy(v.cast("long").alias("val"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per.agg(
        F.sum("c").cast("long").alias("n"),
        F.min("val").cast("long").alias("v_min"),
        F.max("val").cast("long").alias("v_max"),
    )
    cum = per.select(
        "val",
        "c",
        F.sum("c").over(w).cast("long").alias("ca"),
    ).crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    u = (F.col("val") - F.col("v_min")).cast("double") / (
        F.col("v_max") - F.col("v_min")
    ).cast("double")
    ecdf_hi = F.col("ca").cast("double") / nd
    ecdf_lo = (F.col("ca") - F.col("c")).cast("double") / nd
    gap = F.greatest(F.abs(ecdf_hi - u), F.abs(u - ecdf_lo))
    agg = cum.groupBy("n", "v_min", "v_max").agg(
        F.max(gap).alias("d_stat")
    )
    d = F.col("d_stat")
    p = F.lit(0.0)
    for j in range(1, int(n_terms) + 1):
        term = F.exp(F.lit(-2.0 * j * j) * d * d * nd)
        p = p + (term if j % 2 == 1 else -term)
    p = F.lit(2.0) * p
    return agg.select(
        "n", "v_min", "v_max",
        d.alias("d_stat"),
        F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0)).alias("p_value"),
    )


def bartlett_test(
    df: DataFrame,
    group_col: str,
    value_col,
    n_groups: int | None = None,
) -> DataFrame:
    """Bartlett's test for variance homogeneity across k groups — the
    parametric (normality-assuming) sibling of Brown-Forsythe (q423):

        T = ((N - k) ln(Sp^2) - SUM (n_i - 1) ln(S_i^2)) / C
        C = 1 + (SUM 1/(n_i-1) - 1/(N-k)) / (3 (k - 1))

    p uses the even-df elementary chi-square form, so k must be ODD
    (df = k - 1 even) — ValueError otherwise; the caller picks the
    grouping. Pass ``n_groups`` (the known post-NULL-filter group
    count) to keep plan construction action-free — an in-plan
    raise_error guard then checks it against the folded k_groups at
    execution. Without it, a one-off eager distinct count runs over
    the SAME NULL-filtered frame the aggregate uses.

    Scale: ONE grouped exact-integer moment pass over a k-bounded
    group table.

    Determinism (r12 hardening, the q434 lesson): both ln sites
    quantize to the 1e-9 decimal grid before their big-N multipliers
    — (n_i - 1) * ROUND(ln(S_i^2), 9)::decimal(12,9) summed as exact
    decimals, and nk * ROUND(ln(Sp^2), 9) in the statistic — because
    (n_i - 1) ~ 3e4 would amplify 1-ulp libm/JIT ln latitude to
    ~3e-10, within an order of the readout grid. The w/inv folds stay
    ordered double folds (pure arithmetic of exact-integer-derived
    doubles — no libm inside). Callers round per the log contract.

    Returns one row: (k_groups, n_total, t_stat, p_value).
    """
    d38 = "decimal(38,0)"
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    g = (
        df.filter(v.isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count("*").cast("long").alias("ni"),
            F.sum(v.cast("long")).cast("long").alias("s"),
            F.sum((v.cast(d38) * v).cast(d38)).cast(d38).alias("ss"),
        )
    )
    nid = F.col("ni").cast("double")
    s2i = (
        nid * F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
    ) / (nid * (nid - F.lit(1.0)))
    lnq = F.round(F.log(s2i), 9).cast("decimal(12,9)")
    terms = g.select(
        "ni",
        "s",
        "ss",
        ((F.col("ni") - F.lit(1)).cast("decimal(15,0)") * lnq).alias(
            "tq"
        ),
        F.struct(
            "grp",
            ((nid - F.lit(1.0)) * s2i).alias("w"),
            (F.lit(1.0) / (nid - F.lit(1.0))).alias("inv"),
        ).alias("__e"),
    )
    one = terms.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sum("ni").cast("long").alias("n_total"),
        F.sum("tq").cast("double").alias("fold_t"),
        F.array_sort(F.collect_list("__e")).alias("__arr"),
    )
    fold_t = F.col("fold_t")
    fold_w = F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda a, e: a + e["w"]
    )
    fold_i = F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda a, e: a + e["inv"]
    )
    nd = F.col("n_total").cast("double")
    kd = F.col("k_groups").cast("double")
    nk = nd - kd
    sp2 = fold_w / nk
    c = F.lit(1.0) + (fold_i - F.lit(1.0) / nk) / (
        F.lit(3.0) * (kd - F.lit(1.0))
    )
    t = (nk * F.round(F.log(sp2), 9) - fold_t) / c
    out = one.select("k_groups", "n_total", t.alias("t_stat"))
    # df = k - 1 must be even for the elementary p. chi2_sf_even needs
    # the literal df at plan time: take it from n_groups (action-free)
    # or, failing that, one eager distinct count over the SAME
    # NULL-filtered frame the aggregate reads (all-NULL groups must
    # not inflate k).
    if n_groups is not None:
        k = int(n_groups)
    else:
        k = (
            df.filter(v.isNotNull())
            .select(F.col(group_col))
            .distinct()
            .count()
        )
    if (k - 1) % 2 or k < 3:
        raise ValueError(
            "bartlett_test needs an odd group count >= 3 (even df) for "
            f"the elementary chi-square p; got k={k}"
        )
    t_checked = F.when(F.col("k_groups") == F.lit(k), F.col("t_stat")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"bartlett_test: n_groups={k} != observed "),
                F.col("k_groups").cast("string"),
            )
        )
    )
    # project the checked stat as a plain column BEFORE the chi-square
    # series so codegen never embeds the guard tree per term (q513
    # codegen lesson)
    checked = out.select("k_groups", "n_total", t_checked.alias("t_stat"))
    return checked.select(
        "k_groups",
        "n_total",
        "t_stat",
        chi2_sf_even(F.col("t_stat"), k - 1).alias("p_value"),
    )


def cvm_uniform_test(
    df: DataFrame,
    value_col,
) -> DataFrame:
    """Cramér-von Mises statistic vs the uniform law on the observed
    [min, max] grid — the WHOLE-CDF companion to :func:`ks_uniform_test`
    (KS sees the worst gap; W² integrates every gap, so diffuse
    misallocation that never spikes still registers):

        W^2 = 1/(12n) + SUM_i (u_(i) - (2i-1)/(2n))^2

    Tie runs collapse in closed form: a value with count c and
    cumulative-before cb contributes c u^2 - u c(2cb+c)/n +
    (4 S2 - 4 S1 + c)/(4 n^2) with S1/S2 the index/index-squared
    range sums — ALL integers, so each per-value term is a fixed
    double tree and only the value-grid fold (quantized-input
    contract) orders the additions.

    Returns one row: (n, v_min, v_max, w2_stat).
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = (
        df.filter(v.isNotNull())
        .groupBy(v.cast("long").alias("val"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per.agg(
        F.sum("c").cast("long").alias("n"),
        F.min("val").cast("long").alias("v_min"),
        F.max("val").cast("long").alias("v_max"),
    )
    cum = per.select(
        "val", "c",
        (F.sum("c").over(w) - F.col("c")).cast("long").alias("cb"),
    ).crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    u = (F.col("val") - F.col("v_min")).cast("double") / (
        F.col("v_max") - F.col("v_min")
    ).cast("double")
    c = F.col("c")
    cb = F.col("cb")
    # S1 = sum i, S2 = sum i^2 for i in (cb+1 .. cb+c), exact integers
    s1 = (c * cb + c * (c + 1) / F.lit(2)).cast("long")
    s2 = (
        c * cb * cb
        + (c * (c + 1)).cast("long") * cb
        + (c * (c + 1) * (F.lit(2) * c + 1) / F.lit(6)).cast("long")
    ).cast("long")
    term = (
        c.cast("double") * u * u
        - u * (c * (F.lit(2) * cb + c)).cast("double") / nd
        + (F.lit(4) * s2 - F.lit(4) * s1 + c).cast("double")
        / (F.lit(4.0) * nd * nd)
    )
    folded = (
        cum.select(
            "n", "v_min", "v_max",
            F.struct("val", term.alias("t")).alias("__e"),
        )
        .groupBy("n", "v_min", "v_max")
        .agg(F.array_sort(F.collect_list("__e")).alias("__arr"))
    )
    s = F.aggregate(F.col("__arr"), F.lit(0.0), lambda a, e: a + e["t"])
    return folded.select(
        "n", "v_min", "v_max",
        (F.lit(1.0) / (F.lit(12.0) * F.col("n").cast("double")) + s).alias(
            "w2_stat"
        ),
    )


def anderson_darling_uniform(
    df: DataFrame,
    value_col,
) -> DataFrame:
    """Anderson-Darling statistic vs the DISCRETE-midpoint uniform on
    the observed value grid — the tail-weighted GOF (CvM weighs all
    gaps equally; AD's 1/(F(1-F)) weight makes endpoint misallocation
    loudest, which is where hash/shard skew lives):

        A^2 = -n - (1/n) SUM_i (2i-1)(ln u_(i) + ln(1 - u_(n+1-i)))

    with u = (val - v_min + 0.5) / (v_max - v_min + 1), the midpoint
    CDF convention that keeps u strictly inside (0, 1) on a discrete
    grid (endpoint observations would otherwise hit ln 0). Tie runs
    collapse exactly: a value with count c, cumulative-before cb
    contributes ln(u) c(2cb+c) + ln(1-u) c(2(n-cb)-c) — integer
    weights.

    Determinism (r12 hardening, the q434 lesson): each ln factor
    quantizes ROUND(ln, 9)::decimal(12,9) BEFORE the exact-integer
    weight multiplies it in decimal — the big weights (~n per value)
    would otherwise amplify 1-ulp libm/JIT ln latitude to ~n*ulp,
    within two orders of the readout grid. The weighted sum is an
    exact order-free decimal add (log contract: callers round).

    Returns one row: (n, v_min, v_max, a2_stat).
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = (
        df.filter(v.isNotNull())
        .groupBy(v.cast("long").alias("val"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per.agg(
        F.sum("c").cast("long").alias("n"),
        F.min("val").cast("long").alias("v_min"),
        F.max("val").cast("long").alias("v_max"),
    )
    cum = per.select(
        "val", "c",
        (F.sum("c").over(w) - F.col("c")).cast("long").alias("cb"),
    ).crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    u = (
        (F.col("val") - F.col("v_min")).cast("double") + F.lit(0.5)
    ) / ((F.col("v_max") - F.col("v_min")).cast("double") + F.lit(1.0))
    c = F.col("c")
    cb = F.col("cb")
    w1 = (c * (F.lit(2) * cb + c)).cast("decimal(18,0)")
    w2 = (c * (F.lit(2) * (F.col("n") - cb) - c)).cast("decimal(18,0)")
    lq1 = F.round(F.log(u), 9).cast("decimal(12,9)")
    lq2 = F.round(F.log(F.lit(1.0) - u), 9).cast("decimal(12,9)")
    term = lq1 * w1 + lq2 * w2
    folded = cum.groupBy("n", "v_min", "v_max").agg(
        F.sum(term).cast("double").alias("s")
    )
    return folded.select(
        "n", "v_min", "v_max",
        (-nd - F.col("s") / nd).alias("a2_stat"),
    )


def chisq_gof_uniform(
    df: DataFrame,
    value_col,
    n_bands: int,
) -> DataFrame:
    """Chi-square goodness-of-fit vs the uniform over ``n_bands``
    equiprobable bands (values must already BE the band ids,
    0..n_bands-1) — the binned member of the uniformity battery, and
    the one with an exact elementary p:

        X^2 = (B / n) SUM_b o_b^2 - n,     df = B - 1

    (empty bands contribute 0 to the sum and are handled by the
    identity — no dense band table needed). df must be EVEN, so
    ``n_bands`` must be odd (ValueError otherwise; the caller picks
    the banding). One grouped count; exact integer sum of squares;
    fixed p tree rounded by callers.

    Returns one row: (n, n_bands, x2_stat, p_value).
    """
    b = int(n_bands)
    if b < 3 or (b - 1) % 2:
        raise ValueError(
            "chisq_gof_uniform needs an odd n_bands >= 3 (even df) for "
            f"the elementary chi-square p; got {b}"
        )
    d38 = "decimal(38,0)"
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = df.groupBy(v.cast("long").alias("band")).agg(
        F.count("*").cast("long").alias("o")
    )
    tot = per.agg(
        F.sum("o").cast("long").alias("n"),
        F.sum((F.col("o").cast(d38) * F.col("o")).cast(d38))
        .cast(d38)
        .alias("so2"),
    )
    nd = F.col("n").cast("double")
    x2 = F.lit(float(b)) / nd * F.col("so2").cast("double") - nd
    # project x2 FIRST so the (b-1)/2-term Horner p-tree references a
    # plain column, not (b-1)/2 nested copies of the x2 expression —
    # Catalyst's subexpression elimination blows up on the latter for
    # wide dfs (measured: codegen OOM at df=100 without the split)
    staged = tot.select("n", x2.alias("x2_stat"))
    return staged.select(
        "n",
        F.lit(b).cast("long").alias("n_bands"),
        "x2_stat",
        chi2_sf_even(F.col("x2_stat"), b - 1).alias("p_value"),
    )


def bayes_ab_beta(
    df: DataFrame,
    variant_col: str,
    success_col,
    variant_a,
    variant_b,
    prior_alpha: int = 1,
    prior_beta: int = 1,
    max_terms: int = 500_000,
) -> DataFrame:
    """EXACT Bayesian A/B readout for a binary metric: with
    independent Beta(prior_alpha + conv, prior_beta + n - conv)
    posteriors for the two variants, the probability that B's true
    rate exceeds A's has the closed form (integer parameters)

        P(pB > pA) = SUM_{i=0}^{aB-1} B(aA+i, bA+bB)
                     / ((bB+i) B(1+i, bB) B(aA, bA))

    Evaluated WITHOUT any gamma/log-gamma call: the leading term
    t_0 = prod_{j=0}^{bB-1} (bA+j)/(aA+bA+j) and the ratio

        t_{i+1}/t_i = (aA+i)/(aA+i+bA+bB)
                      * (bB+i)/(bB+i+1) * (1+i+bB)/(1+i)

    are pure rationals, so the whole probability is two in-row
    ``aggregate`` folds over integer sequences — a fixed IEEE
    +,*,/ chain both engines replay bit-for-bit (terms that
    underflow to 0 do so identically). This is the exact posterior
    readout the normal-approximation z-test (q278) and bootstrap
    (q279) only approximate.

    Scale: ONE grouped integer aggregate over the data; the fold
    length is bB + aB ≈ posterior B trials — in-row sequential work,
    so guard decision readouts with ``max_terms`` (raise rather than
    silently burn minutes on a billion-trial variant; aggregate or
    subsample upstream for those — at that scale P is 0/1 anyway).

    Returns one row: (n_a, conv_a, n_b, conv_b, mean_a, mean_b,
    prob_b_gt_a).
    """
    v = F.col(variant_col)
    s = (
        F.col(success_col)
        if isinstance(success_col, str)
        else success_col
    ).cast("long")
    agg = df.filter(v.isin([variant_a, variant_b])).agg(
        F.count(F.when(v == variant_a, 1)).cast("long").alias("n_a"),
        F.sum(F.when(v == variant_a, s)).cast("long").alias("conv_a"),
        F.count(F.when(v == variant_b, 1)).cast("long").alias("n_b"),
        F.sum(F.when(v == variant_b, s)).cast("long").alias("conv_b"),
    )
    pa, pb = int(prior_alpha), int(prior_beta)
    if pa < 1 or pb < 1:
        raise ValueError("priors must be positive integers")
    aA = (F.lit(pa) + F.col("conv_a")).cast("long")
    bA = (F.lit(pb) + F.col("n_a") - F.col("conv_a")).cast("long")
    aB = (F.lit(pa) + F.col("conv_b")).cast("long")
    bB = (F.lit(pb) + F.col("n_b") - F.col("conv_b")).cast("long")
    par = agg.select(
        "n_a", "conv_a", "n_b", "conv_b",
        aA.alias("aa"), bA.alias("ba"), aB.alias("ab"), bB.alias("bb"),
    )
    guard = F.when(
        (F.col("ab") + F.col("bb")) <= F.lit(int(max_terms)),
        F.lit(1),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("bayes_ab_beta: fold length exceeds max_terms="),
                F.lit(str(int(max_terms))),
            )
        )
    )
    aad = F.col("aa").cast("double")
    bad = F.col("ba").cast("double")
    bbd = F.col("bb").cast("double")
    t0 = F.aggregate(
        F.sequence(F.lit(0).cast("long"), F.col("bb") - 1),
        F.lit(1.0),
        lambda acc, j: acc
        * ((bad + j.cast("double")) / (aad + bad + j.cast("double"))),
    )
    # fold i = 0 .. aB-2: carry (p, t); t_{i+1} = t_i * r_i
    def step(acc, i):
        idx = i.cast("double")
        t_new = (
            acc["t"]
            * ((aad + idx) / (aad + idx + bad + bbd))
            * ((bbd + idx) / (bbd + idx + F.lit(1.0)))
            * ((F.lit(1.0) + idx + bbd) / (F.lit(1.0) + idx))
        )
        return F.struct(
            (acc["p"] + t_new).alias("p"), t_new.alias("t")
        )

    with_t0 = par.select(
        "*", (t0 * guard.cast("double")).alias("__t0")
    )
    # ab = 1 would make the end bound -1 (Spark sequence turns
    # DESCENDING and the i = -1 step divides by zero under ANSI);
    # clamp to one harmless step and let the F.when below discard it
    folded = F.aggregate(
        F.sequence(
            F.lit(0).cast("long"),
            F.greatest(F.col("ab") - 2, F.lit(0).cast("long")),
        ),
        F.struct(F.col("__t0").alias("p"), F.col("__t0").alias("t")),
        step,
    )
    prob = F.when(F.col("ab") >= 2, folded["p"]).otherwise(
        F.col("__t0")
    )
    out = with_t0.select(
        "n_a", "conv_a", "n_b", "conv_b",
        (F.col("aa").cast("double") / (aad + bad)).alias("mean_a"),
        (
            F.col("ab").cast("double")
            / (F.col("ab") + F.col("bb")).cast("double")
        ).alias("mean_b"),
        prob.alias("prob_b_gt_a"),
    )
    return out


def msprt_always_valid(
    df: DataFrame,
    unit_col: str,
    success_col,
    look_col,
    tau: float = 0.1,
) -> DataFrame:
    """Mixture-SPRT ALWAYS-VALID p-value sequence for a binary-metric
    A/B split (Johari et al.'s mSPRT with a N(0, tau^2) mixture over
    the effect): at every look the likelihood ratio against delta=0 is

        LR = sqrt(V / (V + tau^2))
             * exp(delta^2 tau^2 / (2 V (V + tau^2)))

    with delta the cumulative rate difference and V its pooled
    variance; p_n = min(1, running min of 1/LR). Unlike the Pocock
    schedule (group_sequential_looks, which needs the look count
    fixed in advance), this p is valid at EVERY moment — the
    peek-whenever-you-want experiment monitor.

    Same scalable shape as q392: one (look, variant) aggregate pass,
    cumulative + running-min windows over the K-row look table
    (post-aggregate contract). ``tau`` is the effect-size prior scale
    (policy): small tau is sensitive to small lifts but slower.
    Zero-variance looks yield NULL LR and don't move the running
    min. exp/ln only — callers round per the log contract.

    Returns one row per look: (look, n_a, n_b, x_a, x_b, delta, lr,
    p_always_valid).
    """
    success = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    ).cast("int")
    look = (F.col(look_col) if isinstance(look_col, str) else look_col).cast(
        "int"
    )
    per = (
        df.select(
            look.alias("look"),
            ab_assign(unit_col).alias("__v"),
            success.alias("__s"),
        )
        .groupBy("look")
        .agg(
            F.sum(F.when(F.col("__v") == 0, 1).otherwise(0))
            .cast("long")
            .alias("da"),
            F.sum(F.when(F.col("__v") == 1, 1).otherwise(0))
            .cast("long")
            .alias("db"),
            F.sum(F.when(F.col("__v") == 0, F.col("__s")).otherwise(0))
            .cast("long")
            .alias("xa"),
            F.sum(F.when(F.col("__v") == 1, F.col("__s")).otherwise(0))
            .cast("long")
            .alias("xb"),
        )
    )
    w = Window.orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "look",
        F.sum("da").over(w).cast("long").alias("n_a"),
        F.sum("db").over(w).cast("long").alias("n_b"),
        F.sum("xa").over(w).cast("long").alias("x_a"),
        F.sum("xb").over(w).cast("long").alias("x_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    delta = F.col("x_b").cast("double") / nb - F.col("x_a").cast(
        "double"
    ) / na
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    vv = pp * (F.lit(1.0) - pp) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    t2 = F.lit(float(tau) * float(tau))
    lr = F.sqrt(F.try_divide(vv, vv + t2)) * F.exp(
        F.try_divide(delta * delta * t2, F.lit(2.0) * vv * (vv + t2))
    )
    scored = cum.select(
        "look", "n_a", "n_b", "x_a", "x_b",
        delta.alias("delta"),
        F.when(vv > 0, lr).alias("lr"),
    )
    pinv = F.when(
        F.col("lr").isNotNull(),
        F.least(F.lit(1.0), F.lit(1.0) / F.col("lr")),
    )
    return scored.select(
        "look", "n_a", "n_b", "x_a", "x_b", "delta", "lr",
        F.min(pinv).over(w).alias("p_always_valid"),
    )


def lilliefors_normal(
    df: DataFrame,
    value_col,
) -> DataFrame:
    """Lilliefors statistic: the KS distance between the empirical CDF
    and a normal FITTED from the same data (estimated mean/sd is
    exactly what makes plain KS tables invalid — Lilliefors is the
    version you may legally run after estimating the parameters):

        D = max over values of max(F_n(v) - Phi(z_v),
                                   Phi(z_v) - F_n(v-))

    Values reduce to distinct-value counts first (quantized-input
    contract — band a continuous metric upstream), cumulated by one
    prefix window over the value grid; mean/sd come from exact
    integer moments and Phi is the fixed Zelen-Severo tree
    (1 - normal_sf(z) for z >= 0, normal_sf(-z) below — branch
    mirrored in SQL). The statistic is reported with the classic
    large-sample 5% line 0.886/sqrt(n); exact small-n p needs Monte
    Carlo tables, which is the caller's lookup.

    Returns one row: (n, mean, sd, d_stat, d_crit_05, reject_05).
    """
    d38 = "decimal(38,0)"
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = (
        df.filter(v.isNotNull())
        .groupBy(v.cast("long").alias("val"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = per.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum((F.col("val").cast(d38) * F.col("c")).cast(d38))
        .cast(d38)
        .alias("s"),
        F.sum(
            (
                (F.col("val").cast(d38) * F.col("val")).cast(d38)
                * F.col("c")
            ).cast(d38)
        )
        .cast(d38)
        .alias("ss"),
    )
    w = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "val", "c",
        F.sum("c").over(w).cast("long").alias("cum"),
    ).crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    sd = F.sqrt(
        (
            nd * F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double")
        )
        / (nd * (nd - F.lit(1.0)))
    )
    z = (F.col("val").cast("double") - mean) / sd
    phi = F.when(z >= 0, F.lit(1.0) - normal_sf(z)).otherwise(
        normal_sf(-z)
    )
    gap = F.greatest(
        F.col("cum").cast("double") / nd - phi,
        phi - (F.col("cum") - F.col("c")).cast("double") / nd,
    )
    agg = cum.groupBy("n").agg(
        F.max(gap).alias("d_stat"),
        F.max(mean).alias("mean"),
        F.max(sd).alias("sd"),
    )
    crit = F.lit(0.886) / F.sqrt(F.col("n").cast("double"))
    return agg.select(
        "n", "mean", "sd", "d_stat",
        crit.alias("d_crit_05"),
        (F.col("d_stat") > crit).alias("reject_05"),
    )


def rdd_estimate(
    df: DataFrame,
    running_col,
    outcome_col,
    cutoff: int,
    bandwidth: int,
) -> DataFrame:
    """Sharp regression-discontinuity estimate: fit separate local
    linear trends on each side of ``cutoff`` within ``bandwidth`` of
    it and read the treatment effect as the JUMP of the two fitted
    lines at the cutoff — the quasi-experimental design for
    threshold-assigned treatments (credit granted at balance 0,
    discounts above a spend line), complementing DiD (q288) and IPW
    (q330) in the causal toolkit.

        effect = (b0_R + b1_R c) - (b0_L + b1_L c)

    Left window is [c - h, c), right [c, c + h]. Both fits are the
    standard OLS closed form over EXACT integer conditional moments
    (one aggregate pass, map-side combinable, the goldfeld_quandt
    regime pattern); the jump is a fixed double tree. Bandwidth is
    the bias-variance POLICY knob — report several, never tune
    silently.

    Returns one row: (n_left, n_right, b0_left, b1_left, b0_right,
    b1_right, effect).
    """
    c = int(cutoff)
    h = int(bandwidth)
    if h <= 0:
        raise ValueError("bandwidth must be positive")
    d38 = "decimal(38,0)"
    x = (
        F.col(running_col)
        if isinstance(running_col, str)
        else running_col
    ).cast("long")
    y = (
        F.col(outcome_col)
        if isinstance(outcome_col, str)
        else outcome_col
    ).cast("long")
    base = df.select(x.alias("x"), y.alias("y")).filter(
        (F.col("x") >= c - h) & (F.col("x") <= c + h)
    )
    left = F.col("x") < c

    def moments(cond, tag):
        return [
            F.count(F.when(cond, F.lit(1))).cast("long").alias(f"{tag}n"),
            F.sum(F.when(cond, F.col("x"))).cast("long").alias(f"{tag}sx"),
            F.sum(F.when(cond, F.col("y"))).cast("long").alias(f"{tag}sy"),
            F.sum(
                F.when(
                    cond,
                    (F.col("x").cast(d38) * F.col("x")).cast(d38),
                )
            )
            .cast(d38)
            .alias(f"{tag}sxx"),
            F.sum(
                F.when(
                    cond,
                    (F.col("x").cast(d38) * F.col("y")).cast(d38),
                )
            )
            .cast(d38)
            .alias(f"{tag}sxy"),
        ]

    agg = base.agg(*moments(left, "l_"), *moments(~left, "r_"))

    def fit(tag):
        n = F.col(f"{tag}n").cast("double")
        sx = F.col(f"{tag}sx").cast("double")
        sy = F.col(f"{tag}sy").cast("double")
        sxx = F.col(f"{tag}sxx").cast("double")
        sxy = F.col(f"{tag}sxy").cast("double")
        b1 = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        b0 = (sy - b1 * sx) / n
        return b0, b1

    b0l, b1l = fit("l_")
    b0r, b1r = fit("r_")
    cd = F.lit(float(c))
    return agg.select(
        F.col("l_n").alias("n_left"),
        F.col("r_n").alias("n_right"),
        b0l.alias("b0_left"),
        b1l.alias("b1_left"),
        b0r.alias("b0_right"),
        b1r.alias("b1_right"),
        ((b0r + b1r * cd) - (b0l + b1l * cd)).alias("effect"),
    )


def tost_equivalence(
    df: DataFrame,
    unit_col: str,
    success_col,
    margin: float,
    alpha: float = 0.05,
) -> DataFrame:
    """Two-one-sided-tests (TOST) EQUIVALENCE readout for a binary
    metric under the standard hash A/B split: is |pB - pA| smaller
    than the practical margin? — the question a non-significant
    superiority test (q278) does NOT answer (absence of evidence);
    TOST gives positive evidence of "no meaningful difference"
    (ship-the-refactor / non-inferiority launches).

        z_lower = (delta + margin) / se     H0: delta <= -margin
        z_upper = (margin - delta) / se     H0: delta >=  margin
        p_equiv = max(normal_sf(z_lower), normal_sf(z_upper))

    with the unpooled two-proportion standard error. One conditional
    aggregate; fixed trees; p via the Zelen-Severo normal_sf (round
    per the contract). Returns one row: (n_a, x_a, n_b, x_b, delta,
    se, z_lower, z_upper, p_equiv, equivalent).
    """
    m = float(margin)
    if m <= 0:
        raise ValueError("margin must be positive")
    success = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    ).cast("int")
    agg = df.select(
        ab_assign(unit_col).alias("__v"), success.alias("__s")
    ).agg(
        F.sum(F.when(F.col("__v") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("__v") == 0, F.col("__s")).otherwise(0))
        .cast("long")
        .alias("x_a"),
        F.sum(F.when(F.col("__v") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("__v") == 1, F.col("__s")).otherwise(0))
        .cast("long")
        .alias("x_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("x_a").cast("double") / na
    pb = F.col("x_b").cast("double") / nb
    delta = pb - pa
    se = F.sqrt(
        pa * (F.lit(1.0) - pa) / na + pb * (F.lit(1.0) - pb) / nb
    )
    zl = (delta + F.lit(m)) / se
    zu = (F.lit(m) - delta) / se

    def sf_signed(z):
        # Zelen-Severo is a right-tail form for z >= 0; reflect below
        return F.when(z >= 0, normal_sf(z)).otherwise(
            F.lit(1.0) - normal_sf(-z)
        )

    pl = sf_signed(zl)
    pu = sf_signed(zu)
    pe = F.greatest(pl, pu)
    return agg.select(
        "n_a", "x_a", "n_b", "x_b",
        delta.alias("delta"),
        se.alias("se"),
        zl.alias("z_lower"),
        zu.alias("z_upper"),
        pe.alias("p_equiv"),
        (pe < F.lit(float(alpha))).alias("equivalent"),
    )


def lepage_test(
    df: DataFrame,
    group_col: str,
    value_col,
    group_a,
    group_b,
) -> DataFrame:
    """Lepage joint location-scale test: the sum of the squared
    standardized Wilcoxon (location, :func:`mann_whitney_u`) and
    Ansari-Bradley (scale, :func:`ansari_bradley`) statistics,

        L = z_W^2 + z_AB^2  ~  chi2(2)

    — the omnibus "did ANYTHING change?" two-sample screen: a shift
    alone, a spread change alone, or both, all register (each
    component test alone misses its blind spot). df = 2 is even, so
    p = exp(-L/2) is elementary.

    Both components are the repo's tie-robust exact-moment versions
    (distinct-value grid, quantized-input contract); the combination
    is one broadcast join of two 1-row results. Returns one row:
    (n_a, n_b, z_w, z_ab, l_stat, p_value).
    """
    mw = mann_whitney_u(df, group_col, value_col, group_a, group_b)
    ab = ansari_bradley(df, group_col, value_col, group_a, group_b)
    mw1 = mw.select(
        F.col("n_a"), F.col("n_b"), F.col("z").alias("z_w")
    )
    ab1 = ab.select(F.col("z").alias("z_ab"))
    one = mw1.crossJoin(F.broadcast(ab1))
    l = F.col("z_w") * F.col("z_w") + F.col("z_ab") * F.col("z_ab")
    return one.select(
        "n_a", "n_b", "z_w", "z_ab",
        l.alias("l_stat"),
        F.exp(F.lit(-0.5) * l).alias("p_value"),
    )


def hodges_lehmann_shift(
    df: DataFrame,
    group_col: str,
    value_col,
    group_a,
    group_b,
) -> DataFrame:
    """Hodges-Lehmann shift estimator: the MEDIAN of all pairwise
    differences v_b - v_a between two samples — the effect SIZE that
    goes with the Mann-Whitney test (q373 gives the p; HL answers
    "shifted by how much?", robustly, in the metric's own units).

    Exact at scale by the Qn census trick (q539): each sample
    collapses to its distinct-value grid, the grid x grid join
    carries integer pair multiplicities c_a c_b, differences group by
    value, and the median pair falls out of one cumulative count —
    never n_a x n_b materialized rows. Ties in the middle pair
    average (lower/upper order statistics both reported).

    Returns one row: (n_a, n_b, n_pairs, hl_lo, hl_hi, hl_shift).
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    g = F.col(group_col)
    pa = (
        df.filter(g == group_a)
        .groupBy(v.cast("long").alias("va"))
        .agg(F.count("*").cast("long").alias("ca"))
    )
    pb = (
        df.filter(g == group_b)
        .groupBy(v.cast("long").alias("vb"))
        .agg(F.count("*").cast("long").alias("cb"))
    )
    pairs = pa.crossJoin(pb).select(
        (F.col("vb") - F.col("va")).alias("diff"),
        (F.col("ca") * F.col("cb")).cast("long").alias("m"),
    )
    byd = pairs.groupBy("diff").agg(F.sum("m").cast("long").alias("m"))
    tots = pa.agg(F.sum("ca").cast("long").alias("n_a")).crossJoin(
        pb.agg(F.sum("cb").cast("long").alias("n_b"))
    )
    w = Window.orderBy("diff").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = byd.select(
        "diff", F.sum("m").over(w).cast("long").alias("cum")
    ).crossJoin(F.broadcast(tots))
    np_ = F.col("n_a") * F.col("n_b")
    klo = F.floor((np_ + 1) / 2).cast("long")
    khi = (F.floor(np_ / 2) + 1).cast("long")
    lo = cum.filter(F.col("cum") >= klo).agg(
        F.min("diff").cast("long").alias("hl_lo"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    )
    hi = cum.filter(F.col("cum") >= khi).agg(
        F.min("diff").cast("long").alias("hl_hi")
    )
    one = lo.crossJoin(F.broadcast(hi))
    return one.select(
        "n_a", "n_b",
        (F.col("n_a") * F.col("n_b")).cast("long").alias("n_pairs"),
        "hl_lo", "hl_hi",
        (
            (F.col("hl_lo") + F.col("hl_hi")).cast("double")
            / F.lit(2.0)
        ).alias("hl_shift"),
    )


def meta_fixed_effect(
    df: DataFrame,
    y_col: str,
    v_col: str,
) -> DataFrame:
    """Fixed-effect inverse-variance meta-analysis over per-study
    (effect, variance) rows: pooled effect Σwy/Σw with w = 1/v,
    its standard error 1/sqrt(Σw), Cochran's Q heterogeneity
    statistic Σw(y - pooled)^2 = Σwy^2 - (Σwy)^2/Σw, and the
    I^2 = max(0, (Q - (k-1))/Q) inconsistency percentage — the
    evidence-synthesis primitive (study = any grouping whose effect
    was estimated independently: experiment cohorts, regions, data
    slices). Charter §2B extension.

    Determinism: callers feed y/v as fixed double trees (identical in
    both engines); the per-study terms w, wy, wy^2 are QUANTIZED to
    decimal(38,12) before the one global sum (order-independent
    float-sum convention), and every readout is a fixed tree over the
    exact sums; callers ROUND (<= 9).

    Scale design: ONE map-side-combinable aggregate, single-row
    output; studies with non-positive variance are dropped (weight
    domain).
    """
    dq = "decimal(38,12)"
    y = F.col(y_col).cast("double")
    v = F.col(v_col).cast("double")
    w = F.lit(1.0) / v
    base = df.filter(v > 0).select(
        F.round(w, 12).cast(dq).alias("w"),
        F.round(w * y, 12).cast(dq).alias("wy"),
        F.round(w * y * y, 12).cast(dq).alias("wy2"),
    )
    agg = base.agg(
        F.count("*").cast("long").alias("k_studies"),
        F.sum("w").cast(dq).alias("sw"),
        F.sum("wy").cast(dq).alias("swy"),
        F.sum("wy2").cast(dq).alias("swy2"),
    )
    swd = F.col("sw").cast("double")
    swyd = F.col("swy").cast("double")
    swy2d = F.col("swy2").cast("double")
    q = swy2d - swyd * swyd / swd
    dfree = (F.col("k_studies") - F.lit(1)).cast("double")
    i2 = F.when(
        (F.col("k_studies") > 1) & (q > dfree),
        (q - dfree) / q * F.lit(100.0),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "k_studies",
        (swyd / swd).alias("pooled"),
        (F.lit(1.0) / F.sqrt(swd)).alias("se_pooled"),
        q.alias("q_stat"),
        i2.alias("i2_pct"),
    )


def meta_random_effects(
    df: DataFrame,
    y_col: str,
    v_col: str,
) -> DataFrame:
    """DerSimonian-Laird random-effects meta-analysis: method-of-
    moments between-study variance tau^2 = max(0, (Q - (k-1)) / C)
    with C = Σw - Σw^2/Σw from the fixed-effect pass, then a second
    weighting w* = 1/(v + tau^2) pools under heterogeneity — the
    standard random-effects synthesis beside meta_fixed_effect's
    common-effect model. Charter §2B extension.

    Scale design: TWO map-side-combinable aggregates — the stage-1
    moment row (w, wy, wy^2, w^2 quantized to decimal(38,12))
    broadcast-joins back onto the study rows to form the stage-2
    weights (tau^2 is a fixed double tree over stage-1 sums, so the
    stage-2 terms stay engine-identical before their own
    quantization). Single-row output; non-positive variances drop.
    """
    dq = "decimal(38,12)"
    y = F.col(y_col).cast("double")
    v = F.col(v_col).cast("double")
    w = F.lit(1.0) / v
    studies = df.filter(v > 0).select(
        y.alias("y"),
        v.alias("v"),
        F.round(w, 12).cast(dq).alias("w"),
        F.round(w * y, 12).cast(dq).alias("wy"),
        F.round(w * y * y, 12).cast(dq).alias("wy2"),
        F.round(w * w, 12).cast(dq).alias("w2"),
    )
    s1 = studies.agg(
        F.count("*").cast("long").alias("k_studies"),
        F.sum("w").cast(dq).alias("sw"),
        F.sum("wy").cast(dq).alias("swy"),
        F.sum("wy2").cast(dq).alias("swy2"),
        F.sum("w2").cast(dq).alias("sw2"),
    )
    swd = F.col("sw").cast("double")
    swyd = F.col("swy").cast("double")
    swy2d = F.col("swy2").cast("double")
    sw2d = F.col("sw2").cast("double")
    q = swy2d - swyd * swyd / swd
    dfree = (F.col("k_studies") - F.lit(1)).cast("double")
    c = swd - sw2d / swd
    tau2 = F.when(
        (F.col("k_studies") > 1) & (q > dfree) & (c > 0),
        (q - dfree) / c,
    ).otherwise(F.lit(0.0))
    head = s1.select("k_studies", q.alias("q_stat"), tau2.alias("tau2"))
    stage2 = studies.crossJoin(F.broadcast(head)).select(
        "k_studies",
        "q_stat",
        "tau2",
        F.round(F.lit(1.0) / (F.col("v") + F.col("tau2")), 12)
        .cast(dq)
        .alias("ws"),
        F.round(
            F.col("y") / (F.col("v") + F.col("tau2")), 12
        )
        .cast(dq)
        .alias("wsy"),
    )
    s2 = stage2.groupBy("k_studies", "q_stat", "tau2").agg(
        F.sum("ws").cast(dq).alias("sws"),
        F.sum("wsy").cast(dq).alias("swsy"),
    )
    swsd = F.col("sws").cast("double")
    return s2.select(
        "k_studies",
        "q_stat",
        "tau2",
        (F.col("swsy").cast("double") / swsd).alias("pooled_re"),
        (F.lit(1.0) / F.sqrt(swsd)).alias("se_re"),
    )


def egger_test(
    df: DataFrame,
    y_col: str,
    v_col: str,
) -> DataFrame:
    """Egger funnel-plot asymmetry regression: the standardized effect
    z = y/se regressed on precision x = 1/se; a non-zero INTERCEPT
    signals small-study (publication) bias. Emits intercept b0, slope
    b1, the intercept's standard error, and its t statistic with
    df = k - 2. Charter §2B extension.

    Determinism: x and z are fixed double trees per study; the five
    OLS moment terms quantize to decimal(38,12) before the one global
    sum; b0/b1/se/t are fixed trees over the exact sums (SSE folds
    from the same moments: szz - b0*sz - b1*sxz); callers ROUND
    (<= 9). Scale: ONE aggregate, single-row output.
    """
    dq = "decimal(38,12)"
    y = F.col(y_col).cast("double")
    v = F.col(v_col).cast("double")
    se = F.sqrt(v)
    x = F.lit(1.0) / se
    z = y / se
    base = df.filter(v > 0).select(
        F.round(x, 12).cast(dq).alias("x"),
        F.round(z, 12).cast(dq).alias("z"),
        F.round(x * z, 12).cast(dq).alias("xz"),
        F.round(x * x, 12).cast(dq).alias("xx"),
        F.round(z * z, 12).cast(dq).alias("zz"),
    )
    agg = base.agg(
        F.count("*").cast("long").alias("k_studies"),
        F.sum("x").cast(dq).alias("sx"),
        F.sum("z").cast(dq).alias("sz"),
        F.sum("xz").cast(dq).alias("sxz"),
        F.sum("xx").cast(dq).alias("sxx"),
        F.sum("zz").cast(dq).alias("szz"),
    )
    nd = F.col("k_studies").cast("double")
    sx = F.col("sx").cast("double")
    sz = F.col("sz").cast("double")
    sxz = F.col("sxz").cast("double")
    sxx = F.col("sxx").cast("double")
    szz = F.col("szz").cast("double")
    den = nd * sxx - sx * sx
    b1 = (nd * sxz - sx * sz) / den
    b0 = (sz - b1 * sx) / nd
    sse = szz - b0 * sz - b1 * sxz
    s2 = sse / (nd - F.lit(2.0))
    se_b0 = F.sqrt(s2 * sxx / den)
    return agg.select(
        "k_studies",
        b0.alias("intercept"),
        b1.alias("slope"),
        F.when(F.col("k_studies") > 2, se_b0).alias("se_intercept"),
        F.when(F.col("k_studies") > 2, b0 / se_b0).alias("t_intercept"),
    )


def breslow_day(
    df: DataFrame,
    a_col: str,
    b_col: str,
    c_col: str,
    d_col: str,
) -> DataFrame:
    """Breslow-Day test of odds-ratio homogeneity across strata (with
    Tarone's correction) over per-stratum 2x2 counts (a=exposed
    cases, b=exposed non-cases, c=unexposed cases, d=unexposed
    non-cases): the Mantel-Haenszel common OR psi = sum(ad/n) /
    sum(bc/n), each stratum's expected exposed-case count E solves
    the psi-quadratic (the root inside the margin box), V is the
    harmonic variance at E, and BD = sum (a-E)^2 / V; Tarone
    subtracts (sum(a-E))^2 / sum(V). Pairs with q443's CMH pooled
    test: CMH asks IF there is an effect, Breslow-Day whether it is
    the SAME effect everywhere. Charter §2B extension.

    Determinism: counts are exact integers; the MH terms ad/n, bc/n
    quantize to decimal(38,12) before their global sum, psi is one
    fixed tree, E/V per stratum are fixed trees over (integers, psi)
    with the root chosen by an in-margin validity CASE (identical in
    both engines), and the three readout sums quantize again;
    callers ROUND (<= 9).

    Scale design: ONE aggregate for psi, broadcast of the single-row
    psi back onto strata, ONE final aggregate — strata parallelize
    freely. Strata with any empty margin drop (E/V domain).
    """
    dq = "decimal(38,12)"
    base = df.select(
        F.col(a_col).cast("long").alias("a"),
        F.col(b_col).cast("long").alias("b"),
        F.col(c_col).cast("long").alias("c"),
        F.col(d_col).cast("long").alias("d"),
    ).filter(
        (F.col("a") + F.col("b") > 0)
        & (F.col("c") + F.col("d") > 0)
        & (F.col("a") + F.col("c") > 0)
        & (F.col("b") + F.col("d") > 0)
    )
    nd_ = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    mh = base.agg(
        F.count("*").cast("long").alias("k_strata"),
        F.sum(
            F.round(
                (F.col("a") * F.col("d")).cast("double") / nd_, 12
            ).cast(dq)
        )
        .cast(dq)
        .alias("s_ad"),
        F.sum(
            F.round(
                (F.col("b") * F.col("c")).cast("double") / nd_, 12
            ).cast(dq)
        )
        .cast(dq)
        .alias("s_bc"),
    )
    psi_row = mh.select(
        "k_strata",
        (F.col("s_ad").cast("double") / F.col("s_bc").cast("double")).alias(
            "psi"
        ),
    )
    st = base.crossJoin(F.broadcast(psi_row))
    n1 = (F.col("a") + F.col("b")).cast("double")
    n2 = (F.col("c") + F.col("d")).cast("double")
    m1 = (F.col("a") + F.col("c")).cast("double")
    psi = F.col("psi")
    aa = psi - F.lit(1.0)
    bb = -((n1 + m1) * psi + (n2 - m1))
    cc = psi * n1 * m1
    disc = F.sqrt(bb * bb - F.lit(4.0) * aa * cc)
    e1 = (-bb - disc) / (F.lit(2.0) * aa)
    e2 = (-bb + disc) / (F.lit(2.0) * aa)
    lo = F.greatest(F.lit(0.0), m1 - n2)
    hi = F.least(n1, m1)
    e = F.when((e1 >= lo) & (e1 <= hi), e1).otherwise(e2)
    v = F.lit(1.0) / (
        F.lit(1.0) / e
        + F.lit(1.0) / (n1 - e)
        + F.lit(1.0) / (m1 - e)
        + F.lit(1.0) / (n2 - m1 + e)
    )
    dev = F.col("a").cast("double") - e
    terms = st.select(
        "k_strata",
        "psi",
        F.round(dev * dev / v, 12).cast(dq).alias("t"),
        F.round(dev, 12).cast(dq).alias("dv"),
        F.round(v, 12).cast(dq).alias("vv"),
    )
    agg = terms.groupBy("k_strata", "psi").agg(
        F.sum("t").cast(dq).alias("st"),
        F.sum("dv").cast(dq).alias("sdv"),
        F.sum("vv").cast(dq).alias("svv"),
    )
    bd = F.col("st").cast("double")
    corr = (
        F.col("sdv").cast("double")
        * F.col("sdv").cast("double")
        / F.col("svv").cast("double")
    )
    return agg.select(
        "k_strata",
        F.col("psi").alias("psi_mh"),
        bd.alias("bd_stat"),
        (bd - corr).alias("tarone_stat"),
    )


def bowker_symmetry(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Bowker test of symmetry over paired categorical observations
    (the K-category generalization of McNemar, q424): for each
    unordered category pair {i,j}, i != j, the term
    (n_ij - n_ji)^2 / (n_ij + n_ji) sums to a chi-square with one df
    per pair with traffic; a large statistic means systematic
    directional drift (rater A upgrades what B downgrades, state
    flow is one-way). Pairs with n_ij + n_ji = 0 are skipped (both
    conventions count df over used pairs only). Charter §2B
    extension.

    Determinism: cell counts are exact integers and each pair term is
    one integer-ratio double, quantized to decimal(38,12) before the
    single global sum. Scale design: ONE groupBy on the CANONICAL
    (least, greatest) pair key with conditional sums — no cell
    self-join, no K x K densification; diagonal cells drop at the
    map side.
    """
    dq = "decimal(38,12)"
    base = df.select(
        F.col(a_col).cast("string").alias("x"),
        F.col(b_col).cast("string").alias("y"),
    ).filter(F.col("x") != F.col("y"))
    pairs = base.groupBy(
        F.least("x", "y").alias("lo"),
        F.greatest("x", "y").alias("hi"),
    ).agg(
        F.sum(F.when(F.col("x") < F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("n_fwd"),
        F.sum(F.when(F.col("x") > F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("n_rev"),
    )
    diff = (F.col("n_fwd") - F.col("n_rev")).cast("long")
    tot = (F.col("n_fwd") + F.col("n_rev")).cast("long")
    terms = pairs.select(
        F.round(
            (diff * diff).cast("double") / tot.cast("double"), 12
        )
        .cast(dq)
        .alias("t")
    )
    return terms.agg(
        F.count("*").cast("long").alias("df_pairs"),
        F.sum("t").cast(dq).alias("s"),
    ).select(
        "df_pairs",
        F.col("s").cast("double").alias("bowker_stat"),
    )


def brunner_munzel(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Brunner-Munzel nonparametric two-sample test (tie-robust,
    variance-free of the shift model): estimates
    p = P(X < Y) + 0.5 P(X = Y) from combined midranks and tests
    p = 1/2 with the rank-variance statistic
    W = n1*n2*(Rbar2 - Rbar1) / ((n1+n2) * sqrt(n1*S1^2 + n2*S2^2))
    — the modern replacement for Mann-Whitney (q373) when variances
    and shapes differ. Charter §2B extension.

    QUANTIZED-INPUT CONTRACT (the q266/q331/q374 post-aggregate-
    window family): ranks come from ONE distinct-VALUE count table
    with cumulative windows ordered by value — callers must band/
    quantize a continuous metric upstream or the distinct table
    approaches the row count through a single-partition window.

    Determinism: midranks are exact .5-rationals over integer counts
    (fixed trees); the mean/variance folds quantize each per-value
    term to decimal(38,12); W and p-hat are final fixed trees;
    callers ROUND (<= 9).
    """
    dq = "decimal(38,12)"
    v = F.col(value_col).cast("long")
    g = F.col(group_col)
    base = df.select(
        v.alias("v"),
        F.when(g == group_a, 1).otherwise(0).alias("ia"),
        F.when(g == group_b, 1).otherwise(0).alias("ib"),
    ).filter((F.col("ia") == 1) | (F.col("ib") == 1))
    cnt = base.groupBy("v").agg(
        F.sum("ia").cast("long").alias("c1"),
        F.sum("ib").cast("long").alias("c2"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = cnt.select(
        "v",
        "c1",
        "c2",
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(w), F.lit(0))
        .cast("long")
        .alias("cb"),
        F.coalesce(F.sum("c1").over(w), F.lit(0)).cast("long").alias("cb1"),
        F.coalesce(F.sum("c2").over(w), F.lit(0)).cast("long").alias("cb2"),
    )
    c = (F.col("c1") + F.col("c2")).cast("double")
    rc = F.col("cb").cast("double") + (c + F.lit(1.0)) / F.lit(2.0)
    r1 = F.col("cb1").cast("double") + (
        F.col("c1").cast("double") + F.lit(1.0)
    ) / F.lit(2.0)
    r2 = F.col("cb2").cast("double") + (
        F.col("c2").cast("double") + F.lit(1.0)
    ) / F.lit(2.0)
    ranked = cum.select(
        "c1",
        "c2",
        rc.alias("rc"),
        r1.alias("r1"),
        r2.alias("r2"),
    )
    tot = ranked.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(
            F.round(F.col("c1").cast("double") * F.col("rc"), 12).cast(dq)
        )
        .cast(dq)
        .alias("sr1"),
        F.sum(
            F.round(F.col("c2").cast("double") * F.col("rc"), 12).cast(dq)
        )
        .cast(dq)
        .alias("sr2"),
    )
    head = tot.select(
        "n1",
        "n2",
        (F.col("sr1").cast("double") / F.col("n1").cast("double")).alias(
            "rb1"
        ),
        (F.col("sr2").cast("double") / F.col("n2").cast("double")).alias(
            "rb2"
        ),
    )
    jo = ranked.crossJoin(F.broadcast(head))
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    dev1 = (
        F.col("rc")
        - F.col("r1")
        - F.col("rb1")
        + (n1d + F.lit(1.0)) / F.lit(2.0)
    )
    dev2 = (
        F.col("rc")
        - F.col("r2")
        - F.col("rb2")
        + (n2d + F.lit(1.0)) / F.lit(2.0)
    )
    terms = jo.select(
        "n1",
        "n2",
        "rb1",
        "rb2",
        F.round(F.col("c1").cast("double") * dev1 * dev1, 12)
        .cast(dq)
        .alias("t1"),
        F.round(F.col("c2").cast("double") * dev2 * dev2, 12)
        .cast(dq)
        .alias("t2"),
    )
    agg = terms.groupBy("n1", "n2", "rb1", "rb2").agg(
        F.sum("t1").cast(dq).alias("ss1"),
        F.sum("t2").cast(dq).alias("ss2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    s1 = F.col("ss1").cast("double") / (n1d - F.lit(1.0))
    s2 = F.col("ss2").cast("double") / (n2d - F.lit(1.0))
    den = (n1d + n2d) * F.sqrt(n1d * s1 + n2d * s2)
    return agg.select(
        "n1",
        "n2",
        ((F.col("rb2") - (n2d + F.lit(1.0)) / F.lit(2.0)) / n1d).alias(
            "p_hat"
        ),
        F.when(
            den > 0,
            n1d * n2d * (F.col("rb2") - F.col("rb1")) / den,
        ).alias("w_stat"),
    )


def welch_anova(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA over integer values: the
    k-group generalization of Welch's t (welch_t above) that q423's
    Brown-Forsythe pairs with — weights w_i = n_i / s_i^2, grand mean
    sum(w*m)/sum(w), F* = A / B with
    A = sum(w*(m - grand)^2) / (k-1),
    B = 1 + (2(k-2)/(k^2-1)) * L,  L = sum((1-w/sw)^2/(n_i-1)),
    and Welch-Satterthwaite df2 = (k^2-1) / (3L). Charter §2B
    extension.

    Determinism: per-group n/s/ss are exact (decimal second moment);
    m and s^2 are fixed trees; the three cross-group folds quantize
    per-group terms to decimal(38,12) (A folds from
    sum(w*m^2) - (sum(w*m))^2/sw, so no second data pass — only the
    L fold needs the broadcast sw); readouts are fixed trees; callers
    ROUND (<= 9). Groups with fewer than 2 rows or zero variance
    drop (weight domain).

    Scale design: ONE grouped moment aggregate (map-side
    combinable), one broadcast of the scalar sums, one k-row fold.
    """
    dq = "decimal(38,12)"
    d38 = "decimal(38,0)"
    v = F.col(value_col).cast("long")
    g = df.filter(v.isNotNull()).groupBy(
        F.col(group_col).alias("grp")
    ).agg(
        F.count("*").cast("long").alias("ni"),
        F.sum(v).cast("long").alias("s"),
        F.sum(v.cast(d38) * v).cast(d38).alias("ss"),
    )
    nid = F.col("ni").cast("double")
    disp = (
        F.col("ni").cast(d38) * F.col("ss")
        - F.col("s").cast(d38) * F.col("s")
    ).cast(d38)
    m = F.col("s").cast("double") / nid
    s2 = disp.cast("double") / (nid * (nid - F.lit(1.0)))
    wi = nid / s2
    per = g.filter((F.col("ni") >= 2) & (disp > 0)).select(
        "ni",
        m.alias("m"),
        F.round(wi, 12).cast(dq).alias("w"),
        F.round(wi * m, 12).cast(dq).alias("wm"),
        F.round(wi * m * m, 12).cast(dq).alias("wm2"),
    )
    s1 = per.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sum("w").cast(dq).alias("sw"),
        F.sum("wm").cast(dq).alias("swm"),
        F.sum("wm2").cast(dq).alias("swm2"),
    )
    jo = per.crossJoin(F.broadcast(s1))
    swd = F.col("sw").cast("double")
    lterm = (
        (F.lit(1.0) - F.col("w").cast("double") / swd)
        * (F.lit(1.0) - F.col("w").cast("double") / swd)
        / (F.col("ni").cast("double") - F.lit(1.0))
    )
    l2 = jo.select(
        "k_groups",
        "sw",
        "swm",
        "swm2",
        F.round(lterm, 12).cast(dq).alias("lt"),
    ).groupBy("k_groups", "sw", "swm", "swm2").agg(
        F.sum("lt").cast(dq).alias("sl")
    )
    kd = F.col("k_groups").cast("double")
    swd = F.col("sw").cast("double")
    swmd = F.col("swm").cast("double")
    swm2d = F.col("swm2").cast("double")
    sld = F.col("sl").cast("double")
    a = (swm2d - swmd * swmd / swd) / (kd - F.lit(1.0))
    b = F.lit(1.0) + (
        F.lit(2.0) * (kd - F.lit(2.0)) / (kd * kd - F.lit(1.0))
    ) * sld
    return l2.select(
        "k_groups",
        (swmd / swd).alias("grand_mean"),
        F.when(F.col("k_groups") > 1, a / b).alias("f_stat"),
        F.when(
            (F.col("k_groups") > 1) & (sld > 0),
            (kd * kd - F.lit(1.0)) / (F.lit(3.0) * sld),
        ).alias("df2"),
    )


def empirical_bernstein_bound(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ln_inv_delta_num: int = 60,
) -> DataFrame:
    """Empirical-Bernstein confidence bound on each group's mean of a
    BOUNDED integer metric: mean +/- (sqrt(2*V*ln(3/delta)/n)
    + 3*R*ln(3/delta)/n) with V the sample variance and R the
    OBSERVED range (the data-driven proxy for the a-priori bound;
    documented caveat — a true EB bound needs the domain range). The
    variance-adaptive finite-sample interval behind q529's
    always-valid monitoring; much tighter than Hoeffding when the
    metric's variance is small relative to its range.
    ``ln_inv_delta_num`` fixes 3/delta as an integer (default 60 =
    delta 0.05) so the log argument is exact. Charter §2B extension.

    Determinism: one exact moment aggregate (n, s, ss decimal, min,
    max); all readouts fixed trees over exact integers; callers
    ROUND (<= 9). Scale: ONE map-side-combinable grouped aggregate.
    """
    if ln_inv_delta_num < 2:
        raise ValueError("ln_inv_delta_num must be >= 2")
    d38 = "decimal(38,0)"
    v = F.col(value_col).cast("long")
    g = df.filter(v.isNotNull()).groupBy(
        F.col(group_col).alias("grp")
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(v).cast("long").alias("s"),
        F.sum(v.cast(d38) * v).cast(d38).alias("ss"),
        F.min(v).cast("long").alias("mn"),
        F.max(v).cast("long").alias("mx"),
    )
    nd = F.col("n_rows").cast("double")
    mean = F.col("s").cast("double") / nd
    disp = (
        F.col("n_rows").cast(d38) * F.col("ss")
        - F.col("s").cast(d38) * F.col("s")
    ).cast(d38)
    var_s = disp.cast("double") / (nd * (nd - F.lit(1.0)))
    rng = (F.col("mx") - F.col("mn")).cast("double")
    lg = F.log(F.lit(float(ln_inv_delta_num)))
    hw = F.sqrt(F.lit(2.0) * var_s * lg / nd) + F.lit(3.0) * rng * lg / nd
    return g.filter(F.col("n_rows") >= 2).select(
        "grp",
        "n_rows",
        mean.alias("mean"),
        (F.col("mx") - F.col("mn")).alias("range_obs"),
        (mean - hw).alias("eb_lower"),
        (mean + hw).alias("eb_upper"),
    )


def fisher_exact(
    df: DataFrame,
    stratum_col: str,
    a_col: str,
    b_col: str,
    c_col: str,
    d_col: str,
) -> DataFrame:
    """Fisher exact test per 2x2 stratum: the two-sided p-value sums
    every hypergeometric table (fixed margins) whose probability does
    not exceed the observed one (the scipy two-sided convention, with
    the standard 1+1e-7 tie tolerance). Exact small-sample inference
    where q440's G-test / chi-square asymptotics break down. Charter
    §2B extension.

    Determinism + overflow safety: the unnormalized pmf anchors at
    the distribution's MODE with u = 1 and folds the exact-integer-
    ratio recurrence outward in both directions (every u <= 1 — no
    factorials, no overflow however large the margins); both engines
    replay the identical fixed-order fold (Spark array aggregate vs
    a DuckDB recursive CTE — the kaplan_meier q253 discipline), and
    the tail/total sums quantize each u to decimal(38,15) so the
    normalization is order-free. Callers ROUND (<= 9).

    Scale design: ALL work is row-local (one support-sized in-row
    fold per stratum, support <= min(row, column) margin) followed by
    a bounded posexplode + one grouped sum — strata parallelize
    freely. Degenerate strata (empty margin -> single-table support)
    emit p_two = 1.
    """
    dq = "decimal(38,15)"
    base = df.select(
        F.col(stratum_col).alias("stratum"),
        F.col(a_col).cast("long").alias("a"),
        F.col(b_col).cast("long").alias("b"),
        F.col(c_col).cast("long").alias("c"),
        F.col(d_col).cast("long").alias("d"),
    )
    r1 = F.col("a") + F.col("b")
    m1 = F.col("a") + F.col("c")
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    klo = F.greatest(F.lit(0).cast("long"), (r1 + m1 - n).cast("long"))
    khi = F.least(r1, m1).cast("long")
    mode_raw = F.floor(
        ((r1 + 1) * (m1 + 1)).cast("double") / (n + 2).cast("double")
    ).cast("long")
    mode = F.greatest(klo, F.least(mode_raw, khi))
    p = base.select(
        "stratum", "a", "b", "c", "d",
        r1.cast("long").alias("r1"),
        m1.cast("long").alias("m1"),
        n.cast("long").alias("n"),
        klo.alias("klo"),
        khi.alias("khi"),
        mode.alias("mode"),
    )

    def rup(k):
        return (
            (F.col("r1") - k) * (F.col("m1") - k)
        ).cast("double") / (
            (k + 1) * (F.col("n") - F.col("r1") - F.col("m1") + k + 1)
        ).cast("double")

    def rdown(k):
        return (
            k * (F.col("n") - F.col("r1") - F.col("m1") + k)
        ).cast("double") / (
            (F.col("r1") - k + 1) * (F.col("m1") - k + 1)
        ).cast("double")

    up = F.aggregate(
        F.when(
            F.col("khi") > F.col("mode"),
            F.sequence(F.col("mode"), F.col("khi") - 1),
        ).otherwise(F.array().cast("array<long>")),
        F.array(F.lit(1.0)),
        lambda acc, k: F.concat(
            acc, F.array(F.element_at(acc, -1) * rup(k))
        ),
    )
    down = F.aggregate(
        F.when(
            F.col("mode") > F.col("klo"),
            F.sequence(F.col("mode"), F.col("klo") + 1, F.lit(-1)),
        ).otherwise(F.array().cast("array<long>")),
        F.array(F.lit(1.0)),
        lambda acc, k: F.concat(
            acc, F.array(F.element_at(acc, -1) * rdown(k))
        ),
    )
    # full support klo..khi: reversed down-tail (excluding mode) ++ up
    arr = F.concat(
        F.reverse(F.slice(down, 2, F.greatest(F.size(down) - 1, F.lit(0)))),
        up,
    )
    expl = p.select(
        "stratum", "a", "b", "c", "d", "klo",
        F.posexplode(arr).alias("pos", "u"),
    ).select(
        "stratum", "a", "b", "c", "d",
        (F.col("klo") + F.col("pos")).cast("long").alias("k"),
        F.round(F.col("u"), 15).cast(dq).alias("uq"),
    )
    ua = expl.filter(F.col("k") == F.col("a")).select(
        "stratum", F.col("uq").alias("uaq")
    )
    j = expl.join(ua, "stratum")
    agg = j.groupBy("stratum", "a", "b", "c", "d", "uaq").agg(
        F.sum("uq").cast(dq).alias("s_all"),
        F.sum(
            F.when(
                F.col("uq").cast("double")
                <= F.col("uaq").cast("double") * F.lit(1.0000001),
                F.col("uq"),
            ).otherwise(F.lit(0).cast(dq))
        )
        .cast(dq)
        .alias("s_tail"),
    )
    orr = F.when(
        (F.col("b") > 0) & (F.col("c") > 0),
        (F.col("a") * F.col("d")).cast("double")
        / (F.col("b") * F.col("c")).cast("double"),
    )
    return agg.select(
        "stratum", "a", "b", "c", "d",
        orr.alias("odds_ratio"),
        (
            F.col("s_tail").cast("double") / F.col("s_all").cast("double")
        ).alias("p_two"),
    )


def count_model_mom(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Count-model method-of-moments diagnostics per group over a
    non-negative integer metric: the dispersion index var/mean (the
    q515 overdispersion readout), the negative-binomial MoM fit
    r = m^2/(v - m), p = m/v (NULL unless overdispersed v > m), the
    zero-inflated-Poisson MoM fit lambda = m + v/m - 1,
    pi = 1 - m/lambda (NULL unless lambda > 0 and v > m), and the
    observed zero fraction vs the Poisson-implied exp(-m) — which
    count model should this metric get? Charter §2B extension.

    Determinism: one exact moment aggregate (n, s, ss decimal, zero
    count); every readout is a fixed tree; callers ROUND (<= 9).
    Scale: ONE map-side-combinable grouped aggregate.
    """
    d38 = "decimal(38,0)"
    v = F.col(value_col).cast("long")
    g = df.filter(v.isNotNull() & (v >= 0)).groupBy(
        F.col(group_col).alias("grp")
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(v).cast("long").alias("s"),
        F.sum(v.cast(d38) * v).cast(d38).alias("ss"),
        F.sum(F.when(v == 0, 1).otherwise(0)).cast("long").alias("zeros"),
    )
    nd = F.col("n_rows").cast("double")
    m = F.col("s").cast("double") / nd
    disp = (
        F.col("n_rows").cast(d38) * F.col("ss")
        - F.col("s").cast(d38) * F.col("s")
    ).cast(d38)
    var_s = disp.cast("double") / (nd * (nd - F.lit(1.0)))
    idx = var_s / m
    over = (var_s > m) & (m > 0)
    nb_r = F.when(over, m * m / (var_s - m))
    nb_p = F.when(over, m / var_s)
    lam = m + var_s / m - F.lit(1.0)
    zip_ok = over & (lam > 0)
    zip_pi = F.when(zip_ok, F.lit(1.0) - m / lam)
    return g.filter(F.col("n_rows") >= 2).select(
        "grp",
        "n_rows",
        m.alias("mean"),
        var_s.alias("var_s"),
        F.when(m > 0, idx).alias("dispersion_index"),
        nb_r.alias("nb_r"),
        nb_p.alias("nb_p"),
        F.when(zip_ok, lam).alias("zip_lambda"),
        zip_pi.alias("zip_pi"),
        (F.col("zeros").cast("double") / nd).alias("zero_frac"),
        F.exp(-m).alias("poisson_zero_frac"),
    )


def srm_test(
    df: DataFrame,
    variant_col: str,
    expected: dict,
) -> DataFrame:
    """Sample-ratio-mismatch check for an experiment's assignment
    counts: chi-square of observed variant counts against the
    planned integer allocation weights (e.g. {"control": 1,
    "treatment": 1} for 50/50) — the first gate of any A/B readout;
    a tiny SRM p-value means the randomizer or logging is broken and
    every downstream metric is suspect. Variants observed but absent
    from ``expected`` raise in-plan (assignment leakage is exactly
    what this test exists to catch). Charter §2B extension.

    Determinism: observed counts and weights are exact integers;
    each (O - E)^2/E term is a fixed tree over exact integers
    (E = N*w/W), quantized to decimal(38,12) before the k-row sum;
    callers ROUND (<= 9). Scale: ONE groupBy on the variant key.
    """
    if not expected or any(int(w) <= 0 for w in expected.values()):
        raise ValueError("expected must map every variant to weight > 0")
    dq = "decimal(38,12)"
    wtot = sum(int(w) for w in expected.values())
    obs = df.groupBy(F.col(variant_col).alias("variant")).agg(
        F.count("*").cast("long").alias("o")
    )
    wcol = F.create_map(
        *[
            x
            for k, w in sorted(expected.items())
            for x in (F.lit(k), F.lit(int(w)))
        ]
    )[F.col("variant")]
    checked = obs.select(
        "variant",
        "o",
        F.when(wcol.isNotNull(), wcol)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("srm_test: unexpected variant "),
                    F.col("variant"),
                )
            )
        )
        .cast("long")
        .alias("w"),
    )
    tot = checked.agg(F.sum("o").cast("long").alias("n_total"))
    j = checked.crossJoin(F.broadcast(tot))
    e = (
        F.col("n_total").cast("double")
        * F.col("w").cast("double")
        / F.lit(float(wtot))
    )
    dev = F.col("o").cast("double") - e
    terms = j.select(
        "n_total",
        F.round(dev * dev / e, 12).cast(dq).alias("t"),
        F.struct(F.abs(dev).alias("ad"), F.col("variant").alias("v"))
        .alias("__w"),
    )
    agg = terms.groupBy("n_total").agg(
        F.count("*").cast("long").alias("k_variants"),
        F.sum("t").cast(dq).alias("s"),
        F.max("__w").alias("__worst"),
    )
    return agg.select(
        F.col("n_total"),
        "k_variants",
        F.col("s").cast("double").alias("chi2"),
        F.col("__worst.v").alias("worst_variant"),
        F.col("__worst.ad").alias("worst_abs_dev"),
    )


def anova_effect_sizes(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA effect sizes over integer values: eta^2 =
    SSB/SST (variance explained by group membership) and the
    less-biased omega^2 = (SSB - (k-1)*MSW) / (SST + MSW) — the
    magnitude readouts that belong NEXT TO q580's Welch F (a
    significant F with omega^2 = 0.002 is a no-op finding). Charter
    §2B extension.

    Determinism: SSB/SSW/SST fold EXACTLY from integer group moments
    scaled by N*n_i (no means materialize): with S = total sum,
    S_i = group sums, SSB_N = N*sum(S_i^2/n_i) - S^2 needs one
    rational per group — quantized decimal(38,6) — while
    SST_N = N*SS - S^2 is exact decimal; the readouts are fixed
    trees; callers ROUND (<= 9). Scale: ONE grouped moment
    aggregate + one k-row fold.
    """
    d38 = "decimal(38,0)"
    dq6 = "decimal(38,6)"
    v = F.col(value_col).cast("long")
    g = df.filter(v.isNotNull()).groupBy(
        F.col(group_col).alias("grp")
    ).agg(
        F.count("*").cast("long").alias("ni"),
        F.sum(v).cast("long").alias("si"),
        F.sum(v.cast(d38) * v).cast(d38).alias("ssi"),
    )
    per = g.select(
        "ni",
        "si",
        "ssi",
        F.round(
            (F.col("si").cast(d38) * F.col("si")).cast(d38).cast("double")
            / F.col("ni").cast("double"),
            6,
        )
        .cast(dq6)
        .alias("sq_over_n"),
    )
    agg = per.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sum("ni").cast("long").alias("n_total"),
        F.sum("si").cast("long").alias("s"),
        F.sum("ssi").cast(d38).alias("ss"),
        F.sum("sq_over_n").cast(dq6).alias("sqn"),
    )
    nd = F.col("n_total").cast("double")
    kd = F.col("k_groups").cast("double")
    sst = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / nd
    )
    ssb = F.col("sqn").cast("double") - F.col("s").cast(
        "double"
    ) * F.col("s").cast("double") / nd
    ssw = sst - ssb
    msw = ssw / (nd - kd)
    eta2 = ssb / sst
    omega2 = (ssb - (kd - F.lit(1.0)) * msw) / (sst + msw)
    return agg.select(
        "k_groups",
        "n_total",
        F.when(sst > 0, eta2).alias("eta2"),
        F.when((sst > 0) & (nd > kd), omega2).alias("omega2"),
    )


def storey_qvalues(
    df: DataFrame,
    key_cols: list,
    p_col: str,
    lam: float = 0.5,
) -> DataFrame:
    """Storey q-values over a table of p-values: estimate the true-
    null fraction pi0 = min(1, #(p > lambda) / (m * (1 - lambda)))
    from the flat right tail, then q_i = min over j with p_j >= p_i
    of pi0 * m * p_j / rank_j — each test's estimated FDR at its own
    rejection point. Less conservative than BH (q?9's bh_fdr, which
    fixes pi0 = 1) whenever many hypotheses are genuinely non-null.
    Charter §2B extension.

    Determinism: callers feed pre-rounded p-values (the p_round
    boundary-stability contract of holm/BH); ranks order by
    (p, key); the suffix minimum is order-safe (min, not a float
    sum). Callers ROUND q (<= 9).

    Scale design: the test table is metadata-sized (one row per
    hypothesis) — two global windows + one scalar broadcast, the
    post-aggregate-window contract.
    """
    if not (0 < lam < 1):
        raise ValueError("lam must be in (0, 1)")
    keys = [F.col(k) for k in key_cols]
    base = df.select(*keys, F.col(p_col).cast("double").alias("p"))
    tot = base.agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.when(F.col("p") > F.lit(lam), 1).otherwise(0))
        .cast("long")
        .alias("tail"),
    )
    head = tot.select(
        "m",
        F.least(
            F.lit(1.0),
            F.col("tail").cast("double")
            / (F.col("m").cast("double") * F.lit(1.0 - lam)),
        ).alias("pi0"),
    )
    wr = Window.orderBy(F.col("p").asc(), *[k.asc() for k in keys])
    ranked = base.crossJoin(F.broadcast(head)).select(
        *key_cols,
        "p",
        "m",
        "pi0",
        F.row_number().over(wr).cast("long").alias("rank"),
    )
    raw = (
        F.col("pi0")
        * F.col("m").cast("double")
        * F.col("p")
        / F.col("rank").cast("double")
    )
    wmin = Window.orderBy(F.col("rank").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ranked.select(
        *key_cols,
        F.col("p").alias("p_value"),
        "rank",
        F.col("pi0").alias("pi0"),
        F.least(F.lit(1.0), F.min(raw).over(wmin)).alias("q_value"),
    )


def evalue_panel(
    df: DataFrame,
    stratum_col: str,
    a_col: str,
    b_col: str,
    c_col: str,
    d_col: str,
) -> DataFrame:
    """VanderWeele E-values per 2x2 stratum: the risk ratio
    RR = (a/(a+b)) / (c/(c+d)), its Katz log-normal 95% CI, and the
    E-value — the minimum strength of unmeasured confounding (on the
    risk-ratio scale, with both exposure and outcome) that could
    explain the estimate away: E = RR* + sqrt(RR*(RR*-1)) with
    RR* = max(RR, 1/RR), reported for the point estimate and for the
    CI bound closer to 1 (E_ci = 1 when the CI crosses 1). The
    sensitivity-analysis companion to q442's association panel.
    Charter §2B extension.

    Determinism: counts exact integers; RR/CI/E are fixed double
    trees (exp/log/sqrt over exact ratios); callers ROUND (<= 9).
    Scale: row-local arithmetic on the strata table.
    """
    base = df.select(
        F.col(stratum_col).alias("stratum"),
        F.col(a_col).cast("long").alias("a"),
        F.col(b_col).cast("long").alias("b"),
        F.col(c_col).cast("long").alias("c"),
        F.col(d_col).cast("long").alias("d"),
    ).filter(
        (F.col("a") > 0) & (F.col("c") > 0)
        & (F.col("b") >= 0) & (F.col("d") >= 0)
    )
    n1 = (F.col("a") + F.col("b")).cast("double")
    n0 = (F.col("c") + F.col("d")).cast("double")
    rr = (
        F.col("a").cast("double") / n1
    ) / (F.col("c").cast("double") / n0)
    se = F.sqrt(
        F.lit(1.0) / F.col("a").cast("double")
        - F.lit(1.0) / n1
        + F.lit(1.0) / F.col("c").cast("double")
        - F.lit(1.0) / n0
    )
    lo = F.exp(F.log(rr) - F.lit(1.96) * se)
    hi = F.exp(F.log(rr) + F.lit(1.96) * se)

    def evalue(r):
        rs = F.when(r >= 1, r).otherwise(F.lit(1.0) / r)
        return rs + F.sqrt(rs * (rs - F.lit(1.0)))

    bound = F.when(rr >= 1, lo).otherwise(hi)
    e_ci = F.when(
        (lo <= 1) & (hi >= 1), F.lit(1.0)
    ).otherwise(evalue(bound))
    return base.select(
        "stratum",
        "a",
        "b",
        "c",
        "d",
        rr.alias("risk_ratio"),
        lo.alias("rr_ci_lo"),
        hi.alias("rr_ci_hi"),
        evalue(rr).alias("e_value"),
        e_ci.alias("e_value_ci"),
    )


def sidak_correction(
    df: DataFrame,
    key_cols: list,
    p_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Sidak multiplicity correction over a p-value table: adjusted
    p = 1 - (1 - p)^m (exact under independence, marginally less
    conservative than Bonferroni's m*p), plus the step-down
    Holm-Sidak rejection at level ``alpha`` (threshold
    1 - (1-alpha)^(1/(m - rank + 1)) at each rank, rejections stop
    at the first failure) — completes the q436 Holm / q?9 BH /
    q594 Storey multiplicity family. Charter §2B extension.

    Determinism: callers feed pre-rounded p-values (the p_round
    contract); powers are fixed trees; the step-down cut is a
    suffix-min-free conditional on the first failing rank. Callers
    ROUND (<= 9). Scale: the test table is metadata-sized — two
    global windows (post-aggregate-window contract).
    """
    if not (0 < alpha < 1):
        raise ValueError("alpha must be in (0, 1)")
    keys = [F.col(k) for k in key_cols]
    base = df.select(*keys, F.col(p_col).cast("double").alias("p"))
    tot = base.agg(F.count("*").cast("long").alias("m"))
    wr = Window.orderBy(F.col("p").asc(), *[k.asc() for k in keys])
    ranked = base.crossJoin(F.broadcast(tot)).select(
        *key_cols,
        "p",
        "m",
        F.row_number().over(wr).cast("long").alias("rank"),
    )
    md = F.col("m").cast("double")
    adj = F.least(
        F.lit(1.0),
        F.lit(1.0) - F.pow(F.lit(1.0) - F.col("p"), md),
    )
    thr = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.lit(alpha),
        F.lit(1.0) / (md - F.col("rank").cast("double") + F.lit(1.0)),
    )
    flagged = ranked.select(
        *key_cols,
        F.col("p").alias("p_value"),
        "rank",
        adj.alias("p_sidak"),
        thr.alias("step_threshold"),
        (F.col("p") <= thr).alias("ok"),
    )
    cut = flagged.agg(
        F.min(F.when(~F.col("ok"), F.col("rank"))).alias("first_fail")
    )
    return flagged.crossJoin(F.broadcast(cut)).select(
        *key_cols,
        "p_value",
        "rank",
        "p_sidak",
        "step_threshold",
        F.coalesce(
            F.col("rank") < F.col("first_fail"), F.col("ok")
        ).alias("reject"),
    )


def iv_wald(
    df: DataFrame,
    instrument_col: str,
    treatment_col: str,
    outcome_col: str,
) -> DataFrame:
    """Wald instrumental-variable estimator over a BINARY instrument:
    LATE = (ybar_{z=1} - ybar_{z=0}) / (xbar_{z=1} - xbar_{z=0}),
    with the first-stage compliance difference and its strength
    t^2 ~ F (one-regressor first stage, exact moment form) — the
    causal ratio when treatment is confounded but the instrument is
    clean. Weak instruments (F < 10 conventionally) make the ratio
    explode — that is exactly what the emitted first_stage_f is for.
    Charter §2B extension.

    Determinism: all moments are exact integers (treatment/outcome
    integer-coded); every readout is a fixed tree of exact ratios;
    callers ROUND (<= 9). Scale: ONE map-side-combinable aggregate.
    """
    d38 = "decimal(38,0)"
    z = F.col(instrument_col).cast("int")
    x = F.col(treatment_col).cast("long")
    y = F.col(outcome_col).cast("long")
    agg = df.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(z).cast("long").alias("n1"),
        F.sum(F.when(z == 1, x).otherwise(0)).cast("long").alias("sx1"),
        F.sum(F.when(z == 0, x).otherwise(0)).cast("long").alias("sx0"),
        F.sum(F.when(z == 1, y).otherwise(0)).cast("long").alias("sy1"),
        F.sum(F.when(z == 0, y).otherwise(0)).cast("long").alias("sy0"),
        F.sum(x.cast(d38) * x).cast(d38).alias("sxx"),
        F.sum(x).cast("long").alias("sx"),
    )
    n1d = F.col("n1").cast("double")
    n0d = (F.col("n") - F.col("n1")).cast("double")
    dx = F.col("sx1").cast("double") / n1d - F.col("sx0").cast(
        "double"
    ) / n0d
    dy = F.col("sy1").cast("double") / n1d - F.col("sy0").cast(
        "double"
    ) / n0d
    # first-stage F = t^2 of the z coefficient in x ~ z:
    # slope = dx, se^2 = s2 * (1/n1 + 1/n0), s2 from the residual SS
    nd = F.col("n").cast("double")
    disp = (
        F.col("n").cast(d38) * F.col("sxx")
        - F.col("sx").cast(d38) * F.col("sx")
    ).cast(d38)
    sst_x = disp.cast("double") / nd
    ssb_x = (
        n1d * n0d / nd
    ) * dx * dx  # between-group SS of the binary split
    s2 = (sst_x - ssb_x) / (nd - F.lit(2.0))
    f_stat = F.when(
        s2 > 0,
        dx * dx / (s2 * (F.lit(1.0) / n1d + F.lit(1.0) / n0d)),
    )
    return agg.select(
        F.col("n").alias("n_rows"),
        F.col("n1").alias("n_instrumented"),
        dx.alias("first_stage_dx"),
        f_stat.alias("first_stage_f"),
        dy.alias("reduced_form_dy"),
        F.when(F.abs(dx) > 0, dy / dx).alias("late_wald"),
    )


def oaxaca_blinder(
    df: DataFrame,
    group_col: str,
    group_a,
    group_b,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Single-covariate Oaxaca-Blinder decomposition of the mean
    outcome gap between groups A and B:
    gap = ybar_A - ybar_B = EXPLAINED (xbar_A - xbar_B) * beta_B
    + coefficient effect xbar_A * (beta_A - beta_B)
    + intercept effect (alpha_A - alpha_B),
    with per-group OLS (beta, alpha) from exact integer moments —
    how much of a gap is composition vs treatment-of-composition
    (the B-weighted, 'A viewed through B's returns' convention;
    swap arguments for the other reference). Charter §2B extension.

    Determinism: per-group OLS moments are exact decimals; the
    decomposition identity holds to fixed-tree arithmetic; callers
    ROUND (<= 6). Scale: ONE grouped moment aggregate (2 rows).
    """
    d38 = "decimal(38,0)"
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    g = df.filter(F.col(group_col).isin([group_a, group_b])).groupBy(
        F.col(group_col).alias("grp")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x.cast(d38) * y).cast(d38).alias("sxy"),
        F.sum(x.cast(d38) * x).cast(d38).alias("sxx"),
    )
    n38 = F.col("n").cast(d38)
    num = (n38 * F.col("sxy") - F.col("sx").cast(d38) * F.col("sy")).cast(
        d38
    )
    den = (n38 * F.col("sxx") - F.col("sx").cast(d38) * F.col("sx")).cast(
        d38
    )
    nd = F.col("n").cast("double")
    beta = num.cast("double") / den.cast("double")
    xbar = F.col("sx").cast("double") / nd
    ybar = F.col("sy").cast("double") / nd
    per = g.select(
        "grp",
        F.col("n"),
        beta.alias("beta"),
        xbar.alias("xbar"),
        ybar.alias("ybar"),
        (ybar - beta * xbar).alias("alpha"),
    )
    a = per.filter(F.col("grp") == group_a).select(
        F.col("n").alias("n_a"),
        F.col("beta").alias("beta_a"),
        F.col("xbar").alias("xbar_a"),
        F.col("ybar").alias("ybar_a"),
        F.col("alpha").alias("alpha_a"),
    )
    b = per.filter(F.col("grp") == group_b).select(
        F.col("n").alias("n_b"),
        F.col("beta").alias("beta_b"),
        F.col("xbar").alias("xbar_b"),
        F.col("ybar").alias("ybar_b"),
        F.col("alpha").alias("alpha_b"),
    )
    jo = a.crossJoin(b)
    gap = F.col("ybar_a") - F.col("ybar_b")
    explained = (F.col("xbar_a") - F.col("xbar_b")) * F.col("beta_b")
    coef_eff = F.col("xbar_a") * (F.col("beta_a") - F.col("beta_b"))
    icept_eff = F.col("alpha_a") - F.col("alpha_b")
    return jo.select(
        "n_a",
        "n_b",
        gap.alias("gap"),
        explained.alias("explained"),
        coef_eff.alias("coefficient_effect"),
        icept_eff.alias("intercept_effect"),
    )


def quantile_treatment_effect(
    df: DataFrame,
    group_col: str,
    treat_value,
    control_value,
    value_col: str,
    quantiles_pct: tuple = (25, 50, 75),
) -> DataFrame:
    """Quantile treatment effects over a BANDED integer outcome: the
    treated-minus-control gap at each requested percentile (lower-
    quantile convention, exact integer threshold compares) — where
    in the distribution the treatment acts (a mean shift, a tail
    stretch, a floor raise), which the q31-style mean difference
    cannot see. One row per percentile: (pct, q_treat, q_control,
    qte). Charter §2B extension (quantized-input contract).

    Determinism: quantiles are exact order statistics via cumulative
    counts with integer compares (100*cum >= q*n); the gap is an
    integer. Scale: one distinct-value cum window per arm + one
    bounded explode.
    """
    qs = [int(q) for q in quantiles_pct]
    if not qs or any(not (0 < q < 100) for q in qs):
        raise ValueError("quantiles_pct must be integers in (0, 100)")
    g = F.col(group_col)
    base = df.filter(g.isin([treat_value, control_value])).select(
        F.when(g == treat_value, F.lit(1)).otherwise(0).alias("arm"),
        F.col(value_col).cast("long").alias("v"),
    )
    byv = base.groupBy("arm", "v").agg(
        F.count("*").cast("long").alias("c")
    )
    w = Window.partitionBy("arm").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = byv.select(
        "arm",
        "v",
        F.sum("c").over(w).cast("long").alias("cw"),
        F.sum("c").over(Window.partitionBy("arm")).cast("long").alias("tw"),
    )
    aggs = []
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
    arms = cum.groupBy("arm").agg(
        F.max("tw").cast("long").alias("n_rows"), *aggs
    )
    t = arms.filter(F.col("arm") == 1).select(
        F.col("n_rows").alias("n_treat"),
        *[F.col(f"p{q}").alias(f"t{q}") for q in qs],
    )
    c = arms.filter(F.col("arm") == 0).select(
        F.col("n_rows").alias("n_control"),
        *[F.col(f"p{q}").alias(f"c{q}") for q in qs],
    )
    jo = t.crossJoin(c)
    entries = F.array(
        *[
            F.struct(
                F.lit(q).cast("long").alias("pct"),
                F.col(f"t{q}").alias("q_treat"),
                F.col(f"c{q}").alias("q_control"),
                (F.col(f"t{q}") - F.col(f"c{q}"))
                .cast("long")
                .alias("qte"),
            )
            for q in qs
        ]
    )
    return jo.select(
        "n_treat",
        "n_control",
        F.explode(entries).alias("e"),
    ).select(
        "n_treat",
        "n_control",
        F.col("e.pct").alias("pct"),
        F.col("e.q_treat").alias("q_treat"),
        F.col("e.q_control").alias("q_control"),
        F.col("e.qte").alias("qte"),
    )


def panel_fixed_effects(
    df: DataFrame,
    entity_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Within (entity fixed-effects) estimator for y on x over a
    panel: beta_FE = sum_i S_i(x~y~) / sum_i S_i(x~x~) after demeaning
    x and y WITHIN each entity — the workhorse "controls for
    everything time-invariant per entity" regression a warehouse
    panel actually runs (Charter §2B; no reference counterpart).

    Per entity the centered cross-moments are exact rationals:
    S(x~y~)_i = Sxy_i - Sx_i*Sy_i/n_i. Each splits into an integer
    quotient (div) plus a sub-unit remainder ratio; quotients sum as
    integers and the remainder ratios quantize to ROUND(., 12)::
    decimal(38,12) before an ORDER-FREE decimal sum — unlike the
    q540 label-ordered fold this scales to unbounded entity
    cardinality (the estimator is DEFINED on the quantized grid; the
    oracle mirrors it bitwise). x and y must be integer-valued and
    banded so per-entity S*S fits 63 bits.

    Returns one row: (n_obs, n_entities, sxx_within, sxy_within,
    syy_within, beta_within, r2_within).
    """
    d38 = "decimal(38,0)"
    dq12 = "decimal(38,12)"
    per = (
        df.select(
            F.col(entity_col).alias("ent"),
            F.col(x_col).cast("long").alias("x"),
            F.col(y_col).cast("long").alias("y"),
        )
        .groupBy("ent")
        .agg(
            F.count("*").cast("long").alias("n_i"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x").cast(d38) * F.col("y")).cast(d38).alias("sxy"),
            F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
            F.sum(F.col("y").cast(d38) * F.col("y")).cast(d38).alias("syy"),
        )
    )

    def center(stot, sa, sb):
        prod = (F.col(sa).cast(d38) * F.col(sb)).cast(d38)
        qq = F.expr(
            f"CAST((CAST({sa} AS DECIMAL(38,0)) * {sb}) AS DECIMAL(38,0))"
            f" div n_i"
        ).cast(d38)
        fr = (prod - qq * F.col("n_i")).cast("double") / F.col(
            "n_i"
        ).cast("double")
        return (
            (F.col(stot) - qq).cast(d38).alias(f"{stot}_q"),
            F.round(fr, 12).cast(dq12).alias(f"{stot}_f"),
        )

    cq, cf = center("sxy", "sx", "sy")
    xq, xf = center("sxx", "sx", "sx")
    yq, yf = center("syy", "sy", "sy")
    terms = per.select("ent", "n_i", cq, cf, xq, xf, yq, yf)
    tot = terms.agg(
        F.sum("n_i").cast("long").alias("n_obs"),
        F.count("*").cast("long").alias("n_entities"),
        F.sum("sxy_q").cast(d38).alias("nq"),
        F.sum("sxy_f").cast(dq12).alias("nf"),
        F.sum("sxx_q").cast(d38).alias("dq"),
        F.sum("sxx_f").cast(dq12).alias("df_"),
        F.sum("syy_q").cast(d38).alias("yq"),
        F.sum("syy_f").cast(dq12).alias("yf"),
    )
    sxy = F.col("nq").cast("double") - F.col("nf").cast("double")
    sxx = F.col("dq").cast("double") - F.col("df_").cast("double")
    syy = F.col("yq").cast("double") - F.col("yf").cast("double")
    beta = F.when(sxx > 0, sxy / sxx)
    r2 = F.when(
        (sxx > 0) & (syy > 0), (sxy * sxy) / (sxx * syy)
    )
    return tot.select(
        "n_obs",
        "n_entities",
        sxx.alias("sxx_within"),
        sxy.alias("sxy_within"),
        syy.alias("syy_within"),
        F.round(beta, 9).alias("beta_within"),
        F.round(r2, 9).alias("r2_within"),
    )


def runs_test(
    df: DataFrame,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Wald-Wolfowitz runs test for serial randomness of a sequence's
    signs about its LOWER MEDIAN (the order statistic at
    ceil(n/2) — integer-exact; values EQUAL to it are excluded, the
    standard tie convention): R = observed runs, and

        z = (R - mu) / sigma,  mu = 2*n1*n2/n + 1,
        sigma^2 = 2*n1*n2*(2*n1*n2 - n) / (n^2 * (n - 1))

    with n = n1 + n2 survivors. Too FEW runs = positive serial
    dependence (trending); too many = alternation.

    Determinism: counting is exact; mu and sigma are single fixed
    trees of integer ratios (products kept decimal(38,0)); z is one
    division + sqrt. The reject flag compares bitwise-identical
    doubles to 1.96. The sign-change window runs over the
    post-aggregate sequence (the documented bounded-window
    contract).

    Returns one row: (n_used, n_above, n_below, n_runs, z_runs,
    reject_5pct).
    """
    d38 = "decimal(38,0)"
    base = df.select(
        F.col(order_col).alias("o"), F.col(value_col).cast("long").alias("v")
    )
    n_all = base.agg(F.count("*").cast("long").alias("m"))
    med = (
        base.crossJoin(F.broadcast(n_all))
        .withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "o"))
        )
        .filter(F.col("rn") == F.ceil(F.col("m") / 2).cast("int"))
        .select(F.col("v").alias("med"))
    )
    signed = (
        base.crossJoin(F.broadcast(med))
        .filter(F.col("v") != F.col("med"))
        .select("o", (F.col("v") > F.col("med")).alias("up"))
    )
    w = Window.orderBy("o")
    runs = signed.withColumn(
        "chg",
        F.when(
            F.lag("up").over(w).isNull()
            | (F.lag("up").over(w) != F.col("up")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    agg = runs.agg(
        F.count("*").cast("long").alias("n_used"),
        F.sum(F.col("up").cast("int")).cast("long").alias("n_above"),
        F.sum(1 - F.col("up").cast("int")).cast("long").alias("n_below"),
        F.sum("chg").cast("long").alias("n_runs"),
    )
    n = F.col("n_used")
    tw = (F.lit(2).cast(d38) * F.col("n_above") * F.col("n_below")).cast(
        d38
    )
    mu = tw.cast("double") / n.cast("double") + F.lit(1.0)
    var = (
        (tw * (tw - n)).cast(d38).cast("double")
        / (n.cast(d38) * n * (n - 1)).cast(d38).cast("double")
    )
    z = F.when(
        (n > 1) & (var > 0),
        (F.col("n_runs").cast("double") - mu) / F.sqrt(var),
    )
    return agg.select(
        "n_used",
        "n_above",
        "n_below",
        "n_runs",
        F.round(z, 9).alias("z_runs"),
        (F.abs(z) > 1.96).alias("reject_5pct"),
    )


def event_study_panel(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    anchor_pred: Column,
    window_days: int = 3,
) -> DataFrame:
    """Event-study panel around each entity's FIRST anchor event: for
    relative day r in [-window_days, +window_days], the number of
    entities observed and their total event count r days from the
    anchor — the "what changes around adoption/first purchase/outage"
    table, with day 0 = the anchor's calendar day.

    Determinism: pure integer counting on integer epoch days; the
    anchor is a MIN aggregate. events_per_entity is one division.
    Every anchored entity contributes to every relative-day row
    (n_entities is constant across rows by construction — zero-event
    days still count the entity), so the per-day rates are directly
    comparable.

    Scale: one anchor aggregate + one broadcast-join counting pass +
    one (2w+1)-row groupBy; the relative-day table is generated from
    the anchored entities x a literal day range (explode of a
    sequence, never data-quadratic).

    Returns one row per relative day: (rel_day, n_entities, n_events,
    events_per_entity).
    """
    wd = int(window_days)
    # integer day bucketing: epoch micros exceed 2^53, so a double
    # division would misround near midnight boundaries — `div` stays
    # in integer space (positive epochs: div == floor)
    base = events.select(
        F.col(entity_col).alias("ent"),
        F.expr(f"unix_micros({ts_col}) div 86400000000")
        .cast("long")
        .alias("day"),
        anchor_pred.alias("is_anchor"),
    )
    anchors = (
        base.filter(F.col("is_anchor"))
        .groupBy("ent")
        .agg(F.min("day").alias("day0"))
    )
    counted = (
        base.join(anchors, "ent")
        .select("ent", (F.col("day") - F.col("day0")).alias("rel_day"))
        .filter(
            (F.col("rel_day") >= -wd) & (F.col("rel_day") <= wd)
        )
        .groupBy("ent", "rel_day")
        .agg(F.count("*").cast("long").alias("n_ev"))
    )
    grid = anchors.select("ent").crossJoin(
        F.broadcast(
            events.sparkSession.range(-wd, wd + 1).select(
                F.col("id").cast("long").alias("rel_day")
            )
        )
    )
    full = grid.join(counted, ["ent", "rel_day"], "left").select(
        "rel_day",
        F.coalesce("n_ev", F.lit(0).cast("long")).alias("n_ev"),
    )
    return full.groupBy("rel_day").agg(
        F.count("*").cast("long").alias("n_entities"),
        F.sum("n_ev").cast("long").alias("n_events"),
        F.round(
            F.sum("n_ev").cast("double") / F.count("*").cast("double"), 9
        ).alias("events_per_entity"),
    )


def ks_two_sample(
    df: DataFrame,
    group_col: Column | str,
    value_col,
    alpha_c: float = 1.358,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the TRUE and
    FALSE groups of ``group_col``: D = max over values of
    |F1(v) - F2(v)|, computed EXACTLY in integer space —
    D * n1 * n2 = max |n2*cum1 - n1*cum2| over the merged distinct
    values (one ordered window over the value-grain aggregate; value
    cardinality is the scale knob). reject_5pct compares D against
    the asymptotic threshold c(alpha)*sqrt((n1+n2)/(n1*n2)) with
    c(0.05) = 1.358 — both sides are fixed trees of exact integers.

    Returns one row: (n1, n2, d_scaled, d_stat, threshold,
    reject_5pct).
    """
    d38 = "decimal(38,0)"
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    v = (
        F.col(value_col) if isinstance(value_col, str) else value_col
    ).cast("long")
    base = df.select(g.alias("in1"), v.alias("v"))
    per = base.groupBy("v").agg(
        F.sum(F.col("in1").cast("int")).cast("long").alias("c1"),
        F.sum((~F.col("in1")).cast("int")).cast("long").alias("c2"),
    )
    tot = per.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        F.sum("c1").over(w).cast("long").alias("k1"),
        F.sum("c2").over(w).cast("long").alias("k2"),
    ).crossJoin(F.broadcast(tot))
    gap = F.abs(
        (F.col("n2").cast(d38) * F.col("k1")).cast(d38)
        - (F.col("n1").cast(d38) * F.col("k2")).cast(d38)
    ).cast(d38)
    agg = cum.groupBy("n1", "n2").agg(
        F.max(gap).cast("long").alias("d_scaled")
    )
    d = F.col("d_scaled").cast("double") / (
        F.col("n1").cast(d38) * F.col("n2")
    ).cast(d38).cast("double")
    thr = F.lit(float(alpha_c)) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double")
        / (F.col("n1").cast(d38) * F.col("n2")).cast(d38).cast("double")
    )
    return agg.select(
        "n1",
        "n2",
        "d_scaled",
        F.round(d, 9).alias("d_stat"),
        F.round(thr, 9).alias("threshold"),
        (d > thr).alias("reject_5pct"),
    )
