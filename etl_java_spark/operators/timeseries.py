"""Time-series resampling and gap-filling (charter §2B).

The events fixture is an append-only event stream; analytics over it
routinely need a REGULAR grid (one row per key per interval) with gaps
filled — the batch analogue of what streaming windows give online.

Plan shape (all JVM-side, no UDFs):

1. bucket observations with ``date_trunc`` and aggregate per
   (key, bucket) — one shuffle, map-side combine applies;
2. per key, span the grid with ``sequence(min, max, interval)`` +
   ``explode`` — grid rows are generated distributed, never on the
   driver;
3. left-join observations onto the grid — equi-join on (key, bucket),
   AQE-broadcastable when the observed side is small;
4. forward-fill with ``last(ignorenulls)`` over an unbounded-preceding
   row frame — one window shuffle that reuses the same key
   partitioning.

Scale: the grid size is (span / interval) per key, independent of the
event count — a key observed for a year at hourly grain is 8,760 rows
no matter how many raw events it has. ``max_buckets_per_key`` guards
against a pathological key (decades-long span at fine grain) turning
explode into a straggler.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.checkpoints import materialize


def resample_gapfill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    agg: Column,
    unit: str = "hour",
    max_buckets_per_key: int = 1_000_000,
) -> DataFrame:
    """Regularize ``df`` to one row per (key, ``unit`` bucket) between each
    key's first and last observation, forward-filling empty buckets.

    ``agg`` is the per-bucket aggregate expression (pass a deterministic
    one — e.g. decimal-backed ``davg`` — when cross-engine bitwise
    equality matters). Result: (key, bucket, observed, filled, is_gap).
    """
    b = df.withColumn("__bucket", F.date_trunc(unit, F.col(ts_col)))
    obs = b.groupBy(key_col, "__bucket").agg(agg.alias("observed"))
    spans = obs.groupBy(key_col).agg(
        F.min("__bucket").alias("__lo"), F.max("__bucket").alias("__hi")
    )
    n_buckets = F.expr(f"timestampdiff({unit.upper()}, __lo, __hi)") + 1
    # assert_true must feed the SELECTED expression — a free-standing
    # guard column would be dropped by Catalyst's column pruning and
    # never evaluated.
    ok = F.assert_true(
        n_buckets <= max_buckets_per_key,
        F.concat(
            F.lit("resample_gapfill: key "),
            F.col(key_col).cast("string"),
            F.lit(f" spans more than {max_buckets_per_key} {unit} buckets"),
        ),
    )
    grid = spans.select(
        key_col,
        F.explode(
            F.when(
                ok.isNull(),
                F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL 1 {unit}")),
            )
        ).alias("bucket"),
    )
    joined = grid.join(
        obs.withColumnRenamed("__bucket", "bucket"), [key_col, "bucket"], "left"
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        key_col,
        "bucket",
        "observed",
        F.last("observed", ignorenulls=True).over(w).alias("filled"),
        F.col("observed").isNull().alias("is_gap"),
    )


def top_event_paths(
    events: DataFrame,
    n_events: int = 5,
    topk: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Most common event sequences: each user's first ``n_events`` event
    types (time order, id tiebreak) joined into a path string, counted
    across users, top-k by (count DESC, path ASC).

    The journey-analysis staple ("what do users do first?"). Plan: one
    window shuffle on user to rank events, one map-side-combinable
    count shuffle on the path string, TakeOrderedAndProject for the
    top-k (no global sort). Path strings are bounded (n_events types),
    so the count table is tiny regardless of event volume.

    Fully deterministic: integer rank ordering with an id tiebreak and
    string path grouping — no floats anywhere.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    ranked = events.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= n_events
    )
    paths = ranked.groupBy(user_col).agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__rn", type_col))),
                lambda s: s[type_col],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(topk)
    )


def ewma_last(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Exponentially-weighted moving average per key — the sequential
    recurrence EWMA_t = (1-a)*EWMA_{t-1} + a*x_t, folded in event order;
    returns (key, n_points, ewma_last).

    A sequential recurrence cannot be a plain aggregate (it is not
    commutative), so each key's series is collected into one sorted
    array and folded with `F.aggregate` — one shuffle on the key, the
    fold runs inside codegen, and the per-key array is bounded by that
    key's history (the same bound any per-entity state store carries).
    With alpha = 0.5 every step is an exact binary halving, so the fold
    is bit-reproducible and a DuckDB recursive CTE replays it exactly.
    """
    struct = F.struct(*[F.col(c) for c in order_cols], F.col(value_col).alias("__v"))
    arr = F.array_sort(F.collect_list(struct))
    fold = F.aggregate(
        arr,
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x["__v"]).otherwise(
            acc * F.lit(1.0 - alpha) + x["__v"] * F.lit(alpha)
        ),
    )
    return df.groupBy(key_col).agg(
        F.size(arr).alias("n_points"), fold.alias("ewma_last")
    )


def merge_intervals(
    df: DataFrame,
    key_cols: list[str] | str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Merge overlapping (or endpoint-touching) [start, end] intervals per
    key into maximal disjoint "islands" — the interval-consolidation
    primitive behind downtime accounting, coverage analysis, and
    gap-vs-overlap auditing.

    Classic sweep, expressed relationally so it distributes:

    1. order each key's intervals by (start, end);
    2. an interval opens a NEW island iff its start exceeds the running
       max of all previous ends (``max(end) over rows unbounded
       preceding .. 1 preceding``);
    3. the island id is the running sum of those open flags;
    4. group by (key, island): min(start), max(end), merged-row count.

    Scale: one shuffle on the key; both windows and the final group
    reuse that partitioning (Catalyst collapses them into a single
    exchange). Per-key work is a linear sweep. Ties in (start, end) are
    harmless: an interval that shares its start with a predecessor can
    never open an island the predecessor didn't, so the island ids are
    order-independent under tie reordering.

    Requires end >= start on every row (asserted cheaply via the sweep
    itself: a violating row could only shrink islands, never corrupt
    neighbors) and non-null bounds (engines disagree on NULL sort
    placement; filter first).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w = Window.partitionBy(*keys).orderBy(start_col, end_col)
    prev_max_end = (
        F.max(end_col).over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    opens = F.when(
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1
    ).otherwise(0)
    flagged = df.withColumn("__opens", opens)
    islands = flagged.withColumn(
        "__island",
        F.sum("__opens").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(*keys, "__island")
        .agg(
            F.min(start_col).alias(start_col),
            F.max(end_col).alias(end_col),
            F.count("*").alias("n_merged"),
        )
        .drop("__island")
    )


def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    seq_cols: list[str] | None = None,
    cents_scale: int = 100,
) -> DataFrame:
    """Time-weighted average per key (TWAP): each observation's value
    holds until the next observation, so the mean weights each value by
    its holding duration — the correct average for irregularly-sampled
    series (prices, sensor readings, account balances), where a plain
    AVG over-counts bursts.

    One window shuffle on the key (lead over (ts, seq)); weights are
    exact integer seconds x integer scaled values, summed as decimal
    (order-independent), with ONE double division at the end — engine-
    bitwise. The final observation carries no duration and drops out;
    keys with a single observation emit no row (no interval to
    average). Returns (key, n_intervals, total_seconds, twap) with twap
    in ``cents_scale`` units.
    """
    seq = seq_cols or []
    w = Window.partitionBy(key_col).orderBy("__t", *seq)
    cents = F.round(F.col(value_col) * cents_scale).cast("long")
    stepped = df.select(
        F.col(key_col),
        F.col(ts_col).cast("long").alias("__t"),
        *[F.col(c) for c in seq],
        cents.alias("__v"),
    ).withColumn("__tn", F.lead("__t").over(w))
    iv = stepped.filter(F.col("__tn").isNotNull()).withColumn(
        "__dur", F.col("__tn") - F.col("__t")
    )
    d38 = "decimal(38,0)"
    return (
        iv.groupBy(key_col)
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum(F.col("__dur").cast(d38)).alias("__sumdur"),
            F.sum((F.col("__dur").cast(d38) * F.col("__v")).cast(d38)).alias(
                "__wsum"
            ),
        )
        .select(
            key_col,
            "n_intervals",
            F.col("__sumdur").cast("long").alias("total_seconds"),
            (
                F.col("__wsum").cast("double") / F.col("__sumdur").cast("double")
            ).alias("twap"),
        )
    )


def cusum_summary(
    df: DataFrame,
    key_col: str,
    order_col: str,
    cents_col: str,
    alarm_num: int = 1,
    alarm_den: int = 20,
) -> DataFrame:
    """Per-key CUSUM level-shift detector over an ordered integer series
    (amounts in exact cents), bit-reproducible on any engine.

    Textbook CUSUM is the fold s_i = max(0, s_{i-1} + (x_i - mu)) —
    sequential and float-fragile. Two transformations make it a pure
    window computation with EXACT arithmetic instead:

    - closed form: s_i = C_i - min(0, min_{j<=i} C_j) where C is the
      running sum of deviations — so a cumulative sum plus a running
      min replace the fold (one window pass per key, no recursion);
    - integer scaling: deviations are scaled by n (d_i = n*x_i - S with
      S the key's total), keeping every intermediate an exact integer —
      no mean division, no double accumulation, so cumsum order (Spark
      running frame vs DuckDB segment tree) cannot matter.

    Alarm when s_i > (alarm_num/alarm_den) * n * S, evaluated as the
    integer cross-product alarm_den * s_i > alarm_num * n * S.

    Returns one row per key: n_points, total_cents, max_cusum_scaled
    (units of n*cents), n_alarms, first_alarm (order_col value of the
    first breach, NULL when none). One shuffle on the key; every
    aggregate is a window over that partitioning.

    Contract: ``order_col`` must be unique within a key (aggregate to
    the detection grain first — the running frame is RANGE-peer-based,
    so duplicate order values would fold together), and the alarm
    threshold fraction assumes a positive series total (alarming on a
    net-negative series needs a sign-aware threshold).
    """
    w_all = Window.partitionBy(key_col)
    w_run = Window.partitionBy(key_col).orderBy(order_col)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731  (headroom at any n)
    x = dec(F.col(cents_col))
    n = F.count("*").over(w_all)
    s_tot = F.sum(x).over(w_all)
    d = dec(n) * x - s_tot
    c_run = F.sum(d).over(w_run)
    m_run = F.least(F.lit(0).cast("decimal(38,0)"), F.min(c_run).over(w_run))
    s = c_run - m_run
    alarm = (s * alarm_den) > (F.lit(alarm_num) * dec(n) * s_tot)
    stepped = df.select(
        F.col(key_col),
        F.col(order_col).alias("__ord"),
        n.alias("__n"),
        s_tot.alias("__tot"),
        s.alias("__s"),
        alarm.alias("__alarm"),
    )
    return stepped.groupBy(key_col).agg(
        F.max("__n").alias("n_points"),
        F.max("__tot").cast("bigint").alias("total_cents"),
        F.max("__s").cast("decimal(38,0)").alias("max_cusum_scaled"),
        F.sum(F.col("__alarm").cast("long")).alias("n_alarms"),
        F.min(F.when(F.col("__alarm"), F.col("__ord"))).alias("first_alarm"),
    )


def holt_linear(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.25,
    horizon: int = 3,
) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend) per key,
    folded in event order — the next step up from ``ewma_last`` when the
    series trends: EWMA lags a ramp forever; Holt tracks it and can
    extrapolate. Returns (key, n_points, level, trend, forecast) with
    forecast = level + horizon * trend (the h-step-ahead linear
    forecast a capacity planner or anomaly band uses).

    Recurrences (standard Holt):
        l_t = alpha * x_t + (1-alpha) * (l + b)
        b_t = beta * (l_t - l) + (1-beta) * b
    initialized l = x1 then (l, b) = (x2, x2 - x1), recurrence from the
    third point; a 1-point series has trend 0. Like ``ewma_last`` the
    recurrence is non-commutative, so each key's series is collected
    into one sorted array and folded with ``F.aggregate`` inside
    codegen — one shuffle on the key. The defaults are exact binary
    fractions and every step is fixed-order IEEE double arithmetic, so
    any engine replaying the same fold (DuckDB recursive CTE) matches
    bitwise.
    """
    struct = F.struct(*[F.col(c) for c in order_cols], F.col(value_col).alias("__v"))
    arr = F.array_sort(F.collect_list(struct))
    init = F.struct(
        F.lit(None).cast("double").alias("l"), F.lit(None).cast("double").alias("b")
    )

    def step(acc, x):
        v = x["__v"].cast("double")
        l_new = v * F.lit(alpha) + (acc["l"] + acc["b"]) * F.lit(1.0 - alpha)
        b_new = (l_new - acc["l"]) * F.lit(beta) + acc["b"] * F.lit(1.0 - beta)
        return (
            F.when(acc["l"].isNull(), F.struct(v.alias("l"), acc["b"].alias("b")))
            .when(
                acc["b"].isNull(),
                F.struct(v.alias("l"), (v - acc["l"]).alias("b")),
            )
            .otherwise(F.struct(l_new.alias("l"), b_new.alias("b")))
        )

    fold = F.aggregate(arr, init, step)
    return df.groupBy(key_col).agg(
        F.size(arr).alias("n_points"),
        fold["l"].alias("level"),
        F.coalesce(fold["b"], F.lit(0.0)).alias("trend"),
        (
            fold["l"] + F.lit(float(horizon)) * F.coalesce(fold["b"], F.lit(0.0))
        ).alias("forecast"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival estimator over (duration, event) rows —
    the right-censoring-aware lifetime curve behind churn/retention
    analytics (a plain "mean lifetime" is biased low the moment any
    entity is still alive).

    S(t) = prod over event times t' <= t of (1 - d_t' / n_t') where
    d = events at t' and n = entities still at risk (duration >= t',
    censored-at-t' included, the standard convention). Returns one row
    per distinct EVENT time: (t, n_risk, n_event, n_censored,
    survival).

    Shape: rows reduce to per-distinct-duration (d, c) counts first
    (map-side combinable); the risk set is a suffix-cumulative window
    over those distinct times; and the running product folds the
    per-event-time factors in time order via a prefix ``F.aggregate``
    over ONE collected array. The array is bounded by the number of
    distinct event times (calendar-bounded — days of lifetime — not
    row-bounded), which is what makes collecting it safe at 100 TB.
    The prefix refold is O(T^2) for T distinct event times, entirely
    inside codegen; T <= a few thousand for day-granular lifetimes.

    Determinism: d and n are exact integers; each factor and the
    sequential product are fixed-order IEEE double ops, so a DuckDB
    recursive CTE multiplying in the same time order replays the curve
    bitwise (the q253 Holt discipline).
    """
    per = df.groupBy(F.col(duration_col).cast("long").alias("t")).agg(
        F.sum(F.col(event_col).cast("int")).cast("long").alias("d"),
        F.sum(F.lit(1) - F.col(event_col).cast("int")).cast("long").alias("c"),
    )
    w_risk = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    per = per.select(
        "t", "d", "c", F.sum(F.col("d") + F.col("c")).over(w_risk).alias("n")
    )
    ev = per.filter(F.col("d") > 0).select(
        F.struct(
            "t",
            "d",
            "c",
            "n",
            (
                F.lit(1.0)
                - F.col("d").cast("double") / F.col("n").cast("double")
            ).alias("f"),
        ).alias("__e")
    )
    one = ev.agg(F.array_sort(F.collect_list("__e")).alias("__arr"))
    expl = one.select("__arr", F.posexplode("__arr").alias("__i", "__s"))
    surv = F.aggregate(
        F.slice(F.col("__arr"), F.lit(1), F.col("__i") + 1),
        F.lit(1.0),
        lambda acc, x: acc * x["f"],
    )
    return expl.select(
        F.col("__s")["t"].alias("t"),
        F.col("__s")["n"].alias("n_risk"),
        F.col("__s")["d"].alias("n_event"),
        F.col("__s")["c"].alias("n_censored"),
        surv.alias("survival"),
    )


def acf_lags(
    df: DataFrame,
    order_col: str,
    value_col: str,
    max_lag: int = 7,
    scale: int = 2,
) -> DataFrame:
    """Lag-k Pearson autocorrelation of an ordered series for
    k = 1..max_lag — the seasonality/momentum fingerprint read off a
    daily aggregate before choosing forecast features (q253's Holt
    assumes trend; the ACF says whether a weekly term is missing).

    Uses the paired-Pearson form (each lag correlates the overlapping
    pair set), not the fixed-global-mean ACF — documented choice; the
    two agree asymptotically and the paired form is exactly
    SQL-replayable. Pairs come from ONE equi-join: the lagged side is
    exploded per k with join key rn + k, so all max_lag lags resolve in
    a single shuffle rather than max_lag self-joins.

    The row_number over the series order is a single-partition window,
    bounded by the SERIES length (calendar-bounded for a daily series),
    never by raw rows — aggregate first, then call this. Sums are exact
    decimals; each r_k is one fixed double expression; |r| <= 1 so
    ROUND(., 12) is engine-safe.
    """
    d = f"decimal(18,{scale})"
    w = Window.orderBy(order_col)
    base = df.select(
        F.row_number().over(w).alias("__rn"), F.col(value_col).cast(d).alias("__v")
    )
    lagged = base.select(
        F.col("__v").alias("__vl"),
        F.explode(
            F.array(*[F.lit(k) for k in range(1, max_lag + 1)])
        ).alias("lag"),
        F.col("__rn").alias("__rn0"),
    ).select("__vl", "lag", (F.col("__rn0") + F.col("lag")).alias("__rn"))
    pairs = base.join(lagged, "__rn")
    agg = pairs.groupBy("lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum("__v").cast("double").alias("sx"),
        F.sum("__vl").cast("double").alias("sy"),
        F.sum(F.col("__v") * F.col("__vl")).cast("double").alias("sxy"),
        F.sum(F.col("__v") * F.col("__v")).cast("double").alias("sxx"),
        F.sum(F.col("__vl") * F.col("__vl")).cast("double").alias("syy"),
    )
    n = F.col("n_pairs").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "lag", "n_pairs", F.round(num / den, 12).alias("acf")
    ).orderBy("lag")


def sequence_pattern_counts(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    token_col,
    patterns: dict[str, str],
) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence analytics without the clause Spark
    lacks: each key's event tokens are folded (in event order) into one
    string, and every pattern is a regex counted over it — "views that
    eventually convert", "error bursts", any order-sensitive motif a
    funnel report needs beyond fixed-step windows (q109) or path
    truncation (q126).

    One shuffle on the key; the per-key string is bounded by that key's
    history (the same bound any per-entity state store carries — cap
    upstream for hot keys). Non-overlapping greedy regex counting is
    identical across engines, and the (order_cols)-sorted fold makes
    the string itself deterministic, so the whole report replays
    exactly.

    Returns per key: (key, n_events, <name> per pattern).
    """
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    struct = F.struct(
        *[F.col(c) for c in order_cols], tok.alias("__tk")
    )
    arr = F.array_sort(F.collect_list(struct))
    seq = F.concat_ws("", F.transform(arr, lambda s: s["__tk"]))
    per = df.groupBy(key_col).agg(
        F.size(arr).cast("long").alias("n_events"), seq.alias("__seq")
    )
    out = [F.col(key_col), F.col("n_events")]
    for name, pat in patterns.items():
        out.append(
            F.regexp_count(F.col("__seq"), F.lit(pat)).cast("long").alias(name)
        )
    return per.select(*out)


def max_concurrency(
    df: DataFrame,
    key_cols: list[str] | str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Peak concurrent intervals per key — the sweep-line sibling of
    ``merge_intervals``: instead of consolidating overlaps it COUNTS
    them, answering "how many intervals were open at once, and when
    did the pile-up peak?" (capacity planning, connection-pool sizing,
    concurrent-session audits).

    Intervals are half-open [start, end): an interval ending exactly
    when another starts does not overlap it. The sweep is relational:

    1. explode each interval into two boundary events, (+1, start) and
       (-1, end);
    2. order each key's events by (t, delta) — closes sort before
       opens at the same instant, enforcing the half-open semantics;
    3. the running sum of deltas is the number of open intervals just
       after each boundary; its max is the peak;
    4. ``peak_at`` is the EARLIEST boundary where the peak is reached.

    Determinism under ties: permuting equal (t, delta) rows permutes
    which row carries which intermediate running value, but the SET of
    values traversed at that instant is identical, so both the max and
    the earliest-peak timestamp are order-independent.

    Scale: one shuffle on the key serves the window and the final
    aggregate; per-key work is a linear sweep over 2x the interval
    count. No driver state, no collect.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    kc = [F.col(k) for k in keys]
    opens = df.select(
        *kc, F.col(start_col).alias("__t"), F.lit(1).alias("__d")
    )
    closes = df.select(
        *kc, F.col(end_col).alias("__t"), F.lit(-1).alias("__d")
    )
    w = Window.partitionBy(*keys).orderBy("__t", "__d")
    w_all = Window.partitionBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    swept = (
        opens.unionByName(closes)
        .withColumn(
            "__open",
            F.sum("__d").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("__peak", F.max("__open").over(w_all))
    )
    return swept.groupBy(*keys).agg(
        F.sum(F.when(F.col("__d") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_intervals"),
        F.max("__open").cast("long").alias("peak_concurrency"),
        F.min(
            F.when(F.col("__open") == F.col("__peak"), F.col("__t"))
        ).alias("peak_at"),
    )


def theil_sen_slope(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil-Sen robust trend slope per key: the median of all pairwise
    slopes (y_j - y_i) / (x_j - x_i), x_i < x_j. Immune to ~29% outlier
    contamination where OLS (evaluation.ols_regression) is wrecked by a
    single bad point — the right trend estimator for dirty telemetry.

    Expects ONE row per (key, x) — pre-aggregate first (slopes are
    undefined at dx = 0). Exact inputs (integer x, integer-scaled y)
    make every slope a single double division, bit-identical on any
    engine; the median is selected by rank (odd n -> middle, even n ->
    mean of the two middles — one add + one halving, still IEEE-fixed),
    never interpolated by an engine-specific percentile.

    Returns (key, n_points, n_pairs, slope).

    Scale: pairs are O(d^2) in the DISTINCT x count per key (the
    series length — e.g. days in the window), independent of the raw
    row count feeding the pre-aggregation. Keep the window bounded
    (90 days -> ~4k pairs/key); the self-join and both windows share
    one key shuffle.
    """
    pts = df.select(
        F.col(key_col).alias("__k"),
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
    )
    a, b = pts.alias("a"), pts.alias("b")
    pairs = a.join(b, on=(F.col("a.__k") == F.col("b.__k")) & (F.col("a.__x") < F.col("b.__x"))).select(
        F.col("a.__k").alias("__k"),
        (
            (F.col("b.__y") - F.col("a.__y")).cast("double")
            / (F.col("b.__x") - F.col("a.__x")).cast("double")
        ).alias("__s"),
    )
    w = Window.partitionBy("__k").orderBy("__s")
    w_all = Window.partitionBy("__k").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pairs.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__m", F.count("*").over(w_all)
    )
    mid = ranked.filter(
        F.when(
            F.col("__m") % 2 == 1, F.col("__rn") == (F.col("__m") + 1) / 2
        ).otherwise(
            (F.col("__rn") == F.col("__m") / 2)
            | (F.col("__rn") == F.col("__m") / 2 + 1)
        )
    )
    med = mid.groupBy("__k").agg(
        F.max("__m").cast("long").alias("n_pairs"),
        (F.sum("__s") / F.count("*")).alias("slope"),
    )
    npts = pts.groupBy("__k").agg(F.count("*").cast("long").alias("n_points"))
    return (
        npts.join(med, on="__k", how="left")
        .select(
            F.col("__k").alias(key_col), "n_points",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"), "slope",
        )
    )


def rolling_median(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    window_rows: int = 7,
) -> DataFrame:
    """Rolling median over the trailing ``window_rows`` observations per
    key — the robust smoother for monitoring series (a rolling MEAN
    chases every spike; the median only moves when the level really
    shifts).

    Exactness: values should be exact integers (scaled cents); the
    window's values are collected, sorted, and the median selected by
    position — odd count -> the middle element, even -> the mean of the
    two middles (one add + one halving in double). No engine
    percentile interpolation is involved, so the result is
    bit-reproducible.

    Scale: one key shuffle; each row materializes at most
    ``window_rows`` values (collect_list over a ROWS frame), so memory
    per row is O(window), independent of series length.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(window_rows - 1), 0)
    )
    vals = F.array_sort(F.collect_list(F.col(value_col)).over(w))
    n = F.size(vals)
    lo = F.element_at(vals, ((n + 1) / 2).cast("int"))
    hi = F.element_at(vals, (n / 2 + 1).cast("int"))
    med = F.when(n % 2 == 1, lo.cast("double")).otherwise(
        (lo + hi).cast("double") / F.lit(2.0)
    )
    return df.select(
        key_col, order_col, value_col,
        n.cast("long").alias("n_in_window"),
        med.alias("rolling_median"),
    )


def interpolate_linear(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_agg: Column,
    interval: str = "hour",
    max_buckets_per_key: int = 100_000,
) -> DataFrame:
    """Regular-grid resample with LINEAR interpolation across gaps —
    the physically-honest sibling of ``resample_gapfill``'s forward
    fill (a sensor that read 10 then 20 was probably near 15 in
    between, not 10).

    Same distributed grid as resample_gapfill (sequence + explode per
    key, never driver-side), then per grid row:

    - prev observed value/time: ``last(ignorenulls)`` over the
      unbounded-preceding frame;
    - next observed value/time: ``first(ignorenulls)`` over the
      current-to-unbounded-following frame;
    - interior gap -> prev + (next - prev) * elapsed/gap_span (exact
      integer seconds and scaled values in, one fixed double
      expression out — engine-bitwise);
    - leading edge (no prev) -> back-fill from next; trailing edge (no
      next) -> forward-fill from prev.

    Scale: grid size is span/interval per key, independent of event
    volume; ONE key shuffle feeds the grid join and both window passes.
    """
    buckets = df.groupBy(
        F.col(key_col), F.date_trunc(interval, F.col(ts_col)).alias("bucket")
    ).agg(value_agg.alias("observed"))
    spans = buckets.groupBy(key_col).agg(
        F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi")
    )
    grid = spans.select(
        key_col,
        F.explode_outer(
            F.slice(
                F.sequence(
                    "__lo", "__hi", F.expr(f"INTERVAL 1 {interval}")
                ),
                1,
                max_buckets_per_key,
            )
        ).alias("bucket"),
    )
    joined = grid.join(buckets, on=[key_col, "bucket"], how="left")
    w = Window.partitionBy(key_col).orderBy("bucket")
    prev_frame = w.rowsBetween(Window.unboundedPreceding, 0)
    next_frame = w.rowsBetween(0, Window.unboundedFollowing)
    obs_t = F.when(
        F.col("observed").isNotNull(), F.col("bucket").cast("long")
    )
    pv = F.last("observed", ignorenulls=True).over(prev_frame)
    pt = F.last(obs_t, ignorenulls=True).over(prev_frame)
    nv = F.first("observed", ignorenulls=True).over(next_frame)
    nt = F.first(obs_t, ignorenulls=True).over(next_frame)
    t = F.col("bucket").cast("long")
    interp = pv.cast("double") + (nv - pv).cast("double") * (
        (t - pt).cast("double") / (nt - pt).cast("double")
    )
    filled = (
        F.when(F.col("observed").isNotNull(), F.col("observed").cast("double"))
        .when(pv.isNull(), nv.cast("double"))
        .when(nv.isNull(), pv.cast("double"))
        .otherwise(interp)
    )
    return joined.select(
        key_col, "bucket", "observed",
        filled.alias("filled"),
        F.col("observed").isNull().alias("is_gap"),
    )


def running_balance_clamped(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    delta_col: str,
    floor: int = 0,
) -> DataFrame:
    """Floor-clamped running balance per key — the ledger/inventory
    recurrence bal_t = max(floor, bal_{t-1} + delta_t). The clamp makes
    it non-linear, so it is NOT a window sum: a stock that hits zero
    stays zero until replenished, and naive cumulative sums silently
    go negative and mis-state everything after the first stockout.

    Like ``ewma_last`` (the same non-commutative-recurrence shape),
    each key's deltas are collected into one sorted array and folded
    inside codegen. The fold carries (balance, n_clamped, shortfall):
    every time bal+delta would cross the floor it counts one clamp and
    accumulates the lost amount — the stockout/overdraft readout.

    All-integer arithmetic (pass exact scaled deltas): bit-identical on
    any engine; a recursive CTE replays it exactly.

    Returns (key, n_events, final_balance, n_clamped, shortfall).

    Scale: one shuffle on the key; the per-key array is bounded by that
    key's history (the per-entity state-store bound).
    """
    struct = F.struct(
        *[F.col(c) for c in order_cols], F.col(delta_col).alias("__d")
    )
    arr = F.array_sort(F.collect_list(struct))
    zero = F.struct(
        F.lit(int(floor)).cast("long").alias("bal"),
        F.lit(0).cast("long").alias("nc"),
        F.lit(0).cast("long").alias("sh"),
    )
    fl = F.lit(int(floor)).cast("long")

    def step(acc, x):
        raw = acc["bal"] + x["__d"]
        clamped = raw < fl
        return F.struct(
            F.greatest(fl, raw).alias("bal"),
            (acc["nc"] + F.when(clamped, 1).otherwise(0)).alias("nc"),
            (acc["sh"] + F.when(clamped, fl - raw).otherwise(0)).alias("sh"),
        )

    fold = F.aggregate(arr, zero, step)
    return df.groupBy(key_col).agg(
        F.size(arr).cast("long").alias("n_events"),
        fold["bal"].alias("final_balance"),
        fold["nc"].alias("n_clamped"),
        fold["sh"].alias("shortfall"),
    )


def longest_streak(
    df: DataFrame,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """Longest run of CONSECUTIVE active days per key — the
    gaps-and-islands classic behind engagement streaks, SLA
    uptime runs, and habit metrics.

    Relational islands: distinct active days -> rank them -> day_number
    minus rank is constant within a consecutive run -> group by that
    island id. All-integer (epoch days), bit-identical anywhere.

    Returns (key, n_active_days, n_streaks, longest_streak,
    longest_streak_start) — ties on length broken toward the EARLIEST
    streak.

    Scale: one distinct shuffle on (key, day) — the day grid per key is
    calendar-bounded — then a key-local window and aggregate on the
    same partitioning.
    """
    days = df.select(
        F.col(key_col), F.to_date(F.col(ts_col)).alias("__day")
    ).distinct()
    w = Window.partitionBy(key_col).orderBy("__day")
    isl = days.withColumn(
        "__island",
        F.datediff(F.col("__day"), F.lit("1970-01-01"))
        - F.row_number().over(w),
    )
    streaks = isl.groupBy(key_col, "__island").agg(
        F.count("*").alias("__len"), F.min("__day").alias("__start")
    )
    w_all = Window.partitionBy(key_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    streaks = streaks.withColumn("__best", F.max("__len").over(w_all))
    return streaks.groupBy(key_col).agg(
        F.sum("__len").cast("long").alias("n_active_days"),
        F.count("*").cast("long").alias("n_streaks"),
        F.max("__len").cast("long").alias("longest_streak"),
        F.min(
            F.when(F.col("__len") == F.col("__best"), F.col("__start"))
        ).alias("longest_streak_start"),
    )


def sliding_distinct(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """EXACT sliding-window distinct entities per day (e.g. trailing
    7-day active users) — the metric every growth dashboard wants and
    every naive implementation gets wrong, because COUNT(DISTINCT)
    does not merge across window panes.

    Exact distributed shape: reduce to distinct (entity, active day)
    first, then explode each active day into the ``window_days``
    window-END days it contributes to, and count distinct entities per
    window end. The fan-out is x``window_days`` on the already-reduced
    (entity, day) table — bounded by calendar span, not event volume.
    Window ends are emitted only within the observed day span.

    Returns (window_end, n_distinct) for EVERY day in the observed
    span — each counting entities active in [window_end - days + 1,
    window_end]. A day whose trailing window contains no activity at
    all (a gap longer than the window) still gets a row with
    n_distinct = 0: the fan-out left-joins onto the full calendar
    grid, so quiet days read as zeros instead of vanishing.

    Scale: one (entity, day) distinct shuffle + one count-distinct
    shuffle on day keys. For month+ windows at extreme cardinality,
    swap the exact count for the HLL-sketch union path (q238's
    discipline) — same frame, mergeable state.
    """
    days = df.select(
        F.col(entity_col).alias("__e"), F.to_date(F.col(ts_col)).alias("__d")
    ).distinct()
    span = days.agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    fan = days.select(
        "__e",
        F.explode(
            F.sequence(
                F.col("__d"),
                F.date_add(F.col("__d"), window_days - 1),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("window_end"),
    )
    counts = (
        fan.join(
            F.broadcast(span),
            (F.col("window_end") >= F.col("__lo"))
            & (F.col("window_end") <= F.col("__hi")),
        )
        .groupBy("window_end")
        .agg(F.countDistinct("__e").cast("long").alias("n_distinct"))
    )
    # full calendar grid (metadata-sized: one row per day of span) so
    # zero-activity windows appear as 0 rather than being omitted
    grid = span.select(
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("window_end")
    )
    return grid.join(counts, on="window_end", how="left").select(
        "window_end",
        F.coalesce(F.col("n_distinct"), F.lit(0)).cast("long").alias("n_distinct"),
    )


def burn_rate(
    df: DataFrame,
    ts_col: str,
    is_error: Column,
    slo_error_rate_bp: int = 2500,
    fast_buckets: int = 1,
    slow_buckets: int = 6,
    alert_burn_bp: int = 10000,
) -> DataFrame:
    """SLO burn-rate monitor (the SRE-book multiwindow alert): hourly
    error rates over a FAST trailing window and a SLOW trailing
    window, each expressed as a multiple of the error budget; the
    alert fires only when BOTH windows burn hot — fast-only spikes are
    noise, slow-only drifts are stale.

    Exactness: error/total counts per hour are integers; the trailing
    windows use a RANGE frame over integer epoch-hours (correct even
    when quiet hours are missing from the grid); the burn comparison
    is exact integer cross-multiplication in basis points —
    ``rate > burn * slo`` becomes
    ``errors * 10000 * 10000 > total * alert_bp * slo_bp`` — so the
    alert column never touches a float. The two rate/burn readout
    columns are single double divisions for humans.

    Returns per hour: (hour, n, errors, rate_fast, rate_slow,
    burn_fast_bp, burn_slow_bp, alert).

    Scale: one hourly aggregate (map-side combined) then ordered
    windows over the HOURLY table — calendar-bounded input (8,760
    rows/year), not data-bounded, so the global window is metadata-
    sized by construction.
    """
    hours = df.groupBy(
        F.date_trunc("hour", F.col(ts_col)).alias("hour")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(is_error, 1).otherwise(0)).cast("long").alias("errors"),
    ).withColumn("__h", (F.col("hour").cast("long") / 3600).cast("long"))

    def trailing(buckets: int, col: str):
        w = (
            Window.orderBy("__h")
            .rangeBetween(-(buckets - 1), 0)
        )
        return F.sum(col).over(w)

    fast_n, fast_e = trailing(fast_buckets, "n"), trailing(fast_buckets, "errors")
    slow_n, slow_e = trailing(slow_buckets, "n"), trailing(slow_buckets, "errors")
    # burn in basis points, exact: burn_bp = 10000 * rate / slo
    #   = errors * 10000 * 10000 / (total * slo_bp)
    def burn_bp(e, n):
        num = e * F.lit(10000) * F.lit(10000)
        den = n * F.lit(int(slo_error_rate_bp))
        return ((num - num % den) / den).cast("long")

    hot = lambda e, n: (  # noqa: E731
        e * F.lit(10000) * F.lit(10000)
        > n * F.lit(int(alert_burn_bp)) * F.lit(int(slo_error_rate_bp))
    )
    out = hours.select(
        "hour", "n", "errors",
        (fast_e.cast("double") / fast_n.cast("double")).alias("rate_fast"),
        (slow_e.cast("double") / slow_n.cast("double")).alias("rate_slow"),
        burn_bp(fast_e, fast_n).alias("burn_fast_bp"),
        burn_bp(slow_e, slow_n).alias("burn_slow_bp"),
        (hot(fast_e, fast_n) & hot(slow_e, slow_n)).alias("alert"),
    )
    return out


def window_funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    window_seconds: int,
) -> DataFrame:
    """Anchored conversion funnel (the ClickHouse-style windowFunnel):
    per user, the deepest step prefix completed IN ORDER within
    ``window_seconds`` of that user's FIRST step-1 event. q109's
    funnel checks ordering only; this one enforces the time budget —
    "signup, then click, then purchase, all inside one hour".

    Strict-order conditional-min cascade (k-1 equi-joins, no fold, no
    window over raw events):

        t1 = min ts of step1
        t_i = min ts of step_i in (t_{i-1}, t1 + W]

    so a step that misses the window cuts every later step by
    construction. Returns one row per user with step-1 presence:
    (user, level, t1) — level in [1, len(steps)].

    Scale: one conditional-min aggregate per step, each an equi-join
    on the user key against the (tiny) per-user anchor table; the
    event table is scanned once per step with the step predicate
    pushed down.
    """
    u = F.col(user_col)
    anchor = (
        df.filter(F.col(type_col) == steps[0])
        .groupBy(u.alias("__u"))
        .agg(F.min(F.col(ts_col).cast("long")).alias("t1"))
        .withColumn("__dead", (F.col("t1") + window_seconds))
    )
    cur = anchor.withColumn("__prev", F.col("t1"))
    prev_names = ["t1", "__dead", "__prev"]
    for i, step in enumerate(steps[1:], start=2):
        ev = df.filter(F.col(type_col) == step).select(
            u.alias("__u"), F.col(ts_col).cast("long").alias("__t")
        )
        # conditional min, NOT a filter: a user whose step-i events all
        # miss the window must stay in the cascade with t_i = NULL
        hit = F.min(
            F.when(
                (F.col("__t") > F.col("__prev"))
                & (F.col("__t") <= F.col("__dead")),
                F.col("__t"),
            )
        )
        nxt = (
            cur.join(ev, on="__u", how="left")
            .groupBy("__u", *prev_names)
            .agg(hit.alias(f"__t{i}"))
        )
        cur = nxt.withColumn(
            "__prev", F.coalesce(F.col(f"__t{i}"), F.col("__prev"))
        )
        prev_names = [c for c in prev_names if c != "__prev"] + [
            f"__t{i}", "__prev",
        ]
    # a missed step cuts the chain: level counts the CONSECUTIVE prefix
    chain = None
    consec = F.lit(1)
    for i in range(2, len(steps) + 1):
        step_hit = F.col(f"__t{i}").isNotNull()
        chain = step_hit if chain is None else (chain & step_hit)
        consec = consec + F.when(chain, 1).otherwise(0)
    return cur.select(
        F.col("__u").alias(user_col),
        consec.cast("long").alias("level"),
        F.col("t1"),
    )


def lag_features(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    lags: list[int] = [1, 7],
    rolling_windows: list[int] = [7],
) -> DataFrame:
    """ML lag-feature generator over a per-key regular series: for each
    row, the value ``lag`` steps back and the trailing ``window``-row
    mean — the features every demand-forecast / anomaly model starts
    from, generated deterministically in one pass.

    Expects exact integer values (scaled cents) and one row per
    (key, order) — pre-aggregate first. Rolling means divide an exact
    decimal window sum by the actual in-window row count (warm-up rows
    average over what exists). ONE key shuffle serves every lag and
    window frame.

    Output: input columns plus ``lag_<n>`` (long, NULL in warm-up) and
    ``rmean_<n>`` (double).
    """
    w = Window.partitionBy(key_col).orderBy(order_col)
    out = df
    for n in lags:
        out = out.withColumn(f"lag_{n}", F.lag(value_col, n).over(w))
    for n in rolling_windows:
        frame = w.rowsBetween(-(n - 1), 0)
        s = F.sum(F.col(value_col).cast("decimal(38,0)")).over(frame)
        c = F.count(value_col).over(frame)
        out = out.withColumn(
            f"rmean_{n}", s.cast("double") / c.cast("double")
        )
    return out


def sliding_distinct_hll(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    window_days: int = 7,
    abs_tol: int = 5,
    rel_tol_pct: int = 5,
) -> DataFrame:
    """Sliding-window distinct entities via MERGEABLE daily HLL
    sketches — the sketch swap :func:`sliding_distinct` documents for
    month+ windows at extreme cardinality: sketch each day ONCE
    (map-side-combinable hll_sketch_agg over raw events), then every
    window is a UNION OF DAY SKETCHES, so the window fan-out replicates
    kilobyte sketch blobs instead of (entity, day) rows — per-window
    cost is O(days) sketch merges regardless of entity cardinality.

    Carries the exact count beside the estimate (the q135
    exact-companion oracle pattern: HLL bytes are engine-specific, so
    the gate checks ``approx_ok`` = |est - exact| <= abs_tol +
    rel_tol_pct% — a broken sketch or merge flips the boolean). Days
    whose trailing window is empty report 0/0/true via the calendar
    grid.

    Returns (window_end, n_exact, approx_ok).
    """
    daily = (
        df.select(
            F.to_date(F.col(ts_col)).alias("__d"),
            F.col(entity_col).alias("__e"),
        )
        .groupBy("__d")
        .agg(F.hll_sketch_agg("__e").alias("__sk"))
    )
    span = daily.agg(F.min("__d").alias("__lo"), F.max("__d").alias("__hi"))
    fan = daily.select(
        "__sk",
        F.explode(
            F.sequence(
                F.col("__d"),
                F.date_add(F.col("__d"), window_days - 1),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("window_end"),
    )
    approx = (
        fan.join(
            F.broadcast(span),
            (F.col("window_end") >= F.col("__lo"))
            & (F.col("window_end") <= F.col("__hi")),
        )
        .groupBy("window_end")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__est")
        )
    )
    exact = sliding_distinct(df, entity_col, ts_col, window_days)
    joined = exact.join(approx, on="window_end", how="left").select(
        "window_end",
        F.col("n_distinct").alias("n_exact"),
        F.coalesce(F.col("__est"), F.lit(0)).alias("__est"),
    )
    tol = F.lit(abs_tol) + F.col("n_exact") * rel_tol_pct / F.lit(100.0)
    return joined.select(
        "window_end",
        "n_exact",
        (F.abs(F.col("__est") - F.col("n_exact")) <= tol).alias("approx_ok"),
    )


def rolling_corr(
    df: DataFrame,
    time_col: str,
    x_col: str,
    y_col: str,
    window_rows: int = 7,
) -> DataFrame:
    """Rolling Pearson correlation of two ALIGNED series over a
    trailing ``window_rows`` frame — the co-movement monitor behind
    pair dashboards ("are clicks still driving purchases this week?"),
    regime-change triage, and feature drift.

    Input contract: one row per tick with both series' values (the
    ALREADY-AGGREGATED calendar table — build it with a grouped daily
    aggregate first). The single ordered window is therefore bounded
    by calendar span, not event volume — the post-aggregate
    global-window contract shared by the trend/ACF family.

    Moments inside the frame are decimal-exact sums of 2-dp inputs;
    the correlation is a fixed double expression (sqrt is IEEE-exact),
    NULL until the frame is full (n < window_rows) or when either
    series is constant within the frame (zero variance — reported as
    NULL, not a division error).

    Returns (time, x, y, corr).
    """
    w = (
        Window.orderBy(time_col)
        .rowsBetween(-(window_rows - 1), 0)
    )
    x = F.col(x_col).cast("decimal(28,6)")
    y = F.col(y_col).cast("decimal(28,6)")
    dd = lambda c: F.sum(c).over(w).cast("double")  # noqa: E731
    n = F.count(time_col).over(w).cast("double")
    sx, sy = dd(x), dd(y)
    sxx = dd((x * x).cast("decimal(38,12)"))
    syy = dd((y * y).cast("decimal(38,12)"))
    sxy = dd((x * y).cast("decimal(38,12)"))
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    corr = F.when(
        (n >= float(window_rows)) & (vx > 0.0) & (vy > 0.0),
        cov / (F.sqrt(vx) * F.sqrt(vy)),
    )
    return df.select(
        F.col(time_col),
        F.col(x_col),
        F.col(y_col),
        corr.alias("corr"),
    )


def date_spine(
    spark,
    start: str,
    end: str,
) -> DataFrame:
    """Calendar dimension generator: one row per day in [start, end]
    with the attributes every warehouse date spine carries — year,
    month, day, ISO-style week fields, weekday index, weekend flag,
    quarter, and a running business-day sequence. The spine is what
    gap-filling, cohort grids, and fiscal reporting join against.

    Weekday arithmetic is IMPORTED from functions/dates (Monday = 0,
    floor-mod — correct pre-1970 too; no dayofweek(), whose numbering
    differs across engines) so the spine can never diverge from
    business_days_between. Generated with one ``sequence`` explode —
    a calendar is metadata-sized by nature (100 years = 36.5k rows),
    broadcast-joined everywhere it is used.
    """
    from ..functions.dates import weekday_monday0, weekdays_up_to

    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"),
                F.lit(end).cast("date"),
            )
        ).alias("day")
    )
    dow = weekday_monday0("day").cast("int")
    return days.select(
        "day",
        F.year("day").alias("year"),
        F.month("day").alias("month"),
        F.dayofmonth("day").alias("day_of_month"),
        F.quarter("day").alias("quarter"),
        dow.alias("weekday"),  # 0=Mon .. 6=Sun
        (dow >= 5).alias("is_weekend"),
        weekdays_up_to("day").cast("long").alias("busday_seq"),
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator — :func:`kaplan_meier`'s
    additive twin: H(t) = sum over event times t' <= t of d_t'/n_t'.
    Preferred when hazards are the modeling target (H is unbiased where
    the KM product is biased low in small risk sets) and the standard
    input to proportional-hazards diagnostics.

    Same scalable shape as kaplan_meier: rows reduce to per-distinct-
    duration (d, c) counts, the risk set is a suffix window over the
    distinct-time table, and the cumulative sum folds the per-event-time
    hazards in time order via the SAME prefix ``F.aggregate`` refold KM
    uses (a windowed float SUM is not guaranteed to add sequentially on
    every engine — DuckDB's segment-tree window sums associate
    differently — so the explicit fold is the determinism contract,
    replayed by a recursive CTE in SQL). Returns one row per distinct
    event time: (t, n_risk, n_event, n_censored, cum_hazard).
    """
    per = df.groupBy(F.col(duration_col).cast("long").alias("t")).agg(
        F.sum(F.col(event_col).cast("int")).cast("long").alias("d"),
        F.sum(F.lit(1) - F.col(event_col).cast("int")).cast("long").alias("c"),
    )
    w_risk = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    per = per.select(
        "t", "d", "c", F.sum(F.col("d") + F.col("c")).over(w_risk).alias("n")
    )
    ev = per.filter(F.col("d") > 0).select(
        F.struct(
            "t",
            "d",
            "c",
            "n",
            (F.col("d").cast("double") / F.col("n").cast("double")).alias(
                "h"
            ),
        ).alias("__e")
    )
    one = ev.agg(F.array_sort(F.collect_list("__e")).alias("__arr"))
    expl = one.select("__arr", F.posexplode("__arr").alias("__i", "__s"))
    cum = F.aggregate(
        F.slice(F.col("__arr"), F.lit(1), F.col("__i") + 1),
        F.lit(0.0),
        lambda acc, x: acc + x["h"],
    )
    return expl.select(
        F.col("__s")["t"].alias("t"),
        F.col("__s")["n"].alias("n_risk"),
        F.col("__s")["d"].alias("n_event"),
        F.col("__s")["c"].alias("n_censored"),
        cum.alias("cum_hazard"),
    )


def cusum_shift(
    df: DataFrame,
    bucket_col,
    value_col,
    scale: int = 1,
    threshold_num: int = 5,
    threshold_den: int = 1,
) -> DataFrame:
    """One-sided CUSUM drift detector over a bucketed series — the
    change-point readout for "did daily volume/revenue shift upward,
    and when?" that a plain threshold misses (CUSUM accumulates small
    persistent shifts that never individually alarm).

    Exact-integer formulation (no running-recursion float drift):
    with x_t the per-bucket integer total (pre-scaled by ``scale``),
    T buckets and S = sum(x), the classic recursion
    C_t = max(0, C_{t-1} + (x_t - mean)) equals the prefix-sum
    identity C_t = P_t - min(P_0..P_t) where P_t = sum_{i<=t}
    (x_i*T - S) — all int64*decimal exact, computed as one prefix sum
    and one prefix min over the BUCKET table (post-aggregate windows).
    The alarm compares the natural-unit CUSUM C_t/T against the
    rational threshold (num/den) * mean = (num/den) * S/T — cleared of
    denominators to the all-integer test C_t * den > num * S.
    Returns one row per bucket:
    (bucket, x, cusum_scaled, alarm) where cusum_scaled = C_t (in
    x*T units — divide by T for natural units downstream).
    """
    b = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    # per-ROW integer scaling before the sum (order-independent; a
    # float sum-then-round would be engine/order-dependent)
    per = df.groupBy(b.alias("bucket")).agg(
        F.sum(F.round(v * scale).cast("long")).cast("long").alias("x")
    )
    d38 = "decimal(38,0)"
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    per = per.select(
        "bucket", "x",
        F.count("*").over(w_all).alias("tt"),
        F.sum(F.col("x").cast(d38)).over(w_all).alias("s"),
    )
    p = F.sum(
        (F.col("x").cast(d38) * F.col("tt")).cast(d38) - F.col("s")
    ).over(w_cum)
    per = per.select(
        "bucket", "x", "tt", "s", p.alias("p")
    ).select(
        "bucket", "x", "tt", "s", "p",
        F.least(F.min("p").over(w_cum), F.lit(0).cast(d38)).alias("pmin"),
    )
    cus = (F.col("p") - F.col("pmin")).cast(d38)
    alarm = (
        cus * F.lit(threshold_den)
        > F.col("s").cast(d38) * F.lit(threshold_num)
    )
    return per.select(
        "bucket", "x",
        cus.cast("long").alias("cusum_scaled"),
        F.coalesce(alarm, F.lit(False)).alias("alarm"),
    )


def log_rank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col,
    group_a,
) -> DataFrame:
    """Two-group log-rank test — "are these two survival curves the
    same?", the hypothesis-test companion to :func:`kaplan_meier` /
    :func:`nelson_aalen` (eyeballing two KM curves is not a test).
    Group A's observed events are compared with their expectation under
    the null at every distinct event time:

        E_a(t) = d_t * n_a(t) / n(t)
        V(t)   = d_t * (n_a/n) * (1 - n_a/n) * (n - d) / (n - 1)
        chi2   = (sum_t (d_a - E_a))^2 / sum_t V,   p = 2*normal_sf(sqrt)

    (chi-square with 1 df; its tail is exactly 2 * the normal tail of
    the square root, so the p-value reuses the engine-portable
    Zelen-Severo polynomial.)

    Shape: per-distinct-time counts for both groups in ONE aggregate
    pass; risk sets are two suffix windows over the distinct-time
    table; the E and V totals fold in time order through the KM prefix
    refold (float sums, so the fold order IS the determinism contract —
    an unordered SUM would differ across engines in the last ulp).
    Returns one row: (n_a, n_b, o_a, e_a, v, chi2, p_value).
    """
    from .experiments import normal_sf

    g = F.col(group_col) if isinstance(group_col, str) else group_col
    ia = (g == F.lit(group_a)).cast("int")
    per0 = df.groupBy(F.col(duration_col).cast("long").alias("t")).agg(
        F.sum(F.col(event_col).cast("int") * ia).cast("long").alias("da"),
        F.sum(F.col(event_col).cast("int")).cast("long").alias("d"),
        F.sum(ia).cast("long").alias("ca"),
        F.count("*").cast("long").alias("call"),
    )
    w_risk = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    # pinned: the distinct-time table feeds both the E/V fold and the
    # group totals (suffix-cumulative maximum = the value at the
    # earliest time = everyone) — one scan of df, not two
    per0 = per0.select(
        "t", "da", "d",
        F.sum("ca").over(w_risk).alias("na"),
        F.sum("call").over(w_risk).alias("n"),
    ).transform(materialize)
    per = per0.filter((F.col("d") > 0) & (F.col("n") > 1))
    frac = F.col("na").cast("double") / F.col("n").cast("double")
    ev = per.select(
        F.struct(
            "t", "da",
            (F.col("d").cast("double") * frac).alias("e"),
            (
                F.col("d").cast("double")
                * frac
                * (F.lit(1.0) - frac)
                * (F.col("n") - F.col("d")).cast("double")
                / (F.col("n") - F.lit(1)).cast("double")
            ).alias("v"),
        ).alias("__e")
    )
    tots = per0.agg(
        F.max("na").cast("long").alias("n_a"),
        (F.max("n") - F.max("na")).cast("long").alias("n_b"),
    )
    one = ev.agg(
        F.array_sort(F.collect_list("__e")).alias("__arr")
    ).crossJoin(F.broadcast(tots))
    acc0 = F.struct(
        F.lit(0).cast("long").alias("oa"),
        F.lit(0.0).alias("se"),
        F.lit(0.0).alias("sv"),
    )
    fold = F.aggregate(
        F.col("__arr"),
        acc0,
        lambda acc, x: F.struct(
            (acc["oa"] + x["da"]).alias("oa"),
            (acc["se"] + x["e"]).alias("se"),
            (acc["sv"] + x["v"]).alias("sv"),
        ),
    )
    out = one.select("n_a", "n_b", fold.alias("__f"))
    oa = F.col("__f")["oa"]
    diff = oa.cast("double") - F.col("__f")["se"]
    # try_divide: zero pooled variance (e.g. one group empty) -> NULL
    chi2 = F.try_divide(diff * diff, F.col("__f")["sv"])
    return out.select(
        "n_a", "n_b",
        oa.alias("o_a"),
        F.col("__f")["se"].alias("e_a"),
        F.col("__f")["sv"].alias("v"),
        chi2.alias("chi2"),
        (F.lit(2.0) * normal_sf(F.sqrt(chi2))).alias("p_value"),
    )


def seasonal_anomalies(
    df: DataFrame,
    bucket_col,
    value_col,
    period: int = 7,
    k: int = 5,
    scale: int = 1,
) -> DataFrame:
    """Seasonal-naive anomaly detection over a bucketed series: the
    residual is x_t - x_{t-period} (same weekday last week), and a
    bucket alarms when |residual| exceeds ``k`` times the MAD of all
    residuals — the robust changepoint screen that survives both trend
    (differenced away) and weekly shape (lagged away), with breakdown
    point 50% where a z-score threshold dies to one outlier.

    Exactness: per-bucket totals are per-row-scaled exact integers, the
    LAG residual is integer subtraction, the MAD is the exact
    interpolated median of |residuals| (the q66 percentile contract on
    integers), and the alarm comparison is cleared of the 0.5 grid to
    all-integer: |r| * 2 > k * (2 * MAD) where 2*MAD is integral on the
    half-grid. One bucket aggregate + one LAG window + one broadcast
    1-row MAD join. Returns (bucket, x, residual, alarm) for buckets
    with a defined residual.
    """
    b = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = df.groupBy(b.alias("bucket")).agg(
        F.sum(F.round(v * scale).cast("long")).cast("long").alias("x")
    )
    w = Window.orderBy("bucket")
    res = per.select(
        "bucket", "x",
        (F.col("x") - F.lag("x", period).over(w)).alias("residual"),
    ).filter(F.col("residual").isNotNull())
    # 2*median of |r| is integral or half-integral*2 -> exact on both
    # engines via the shared interpolated-percentile definition
    mad2 = res.agg(
        F.round(F.expr("percentile(abs(residual), 0.5)") * 2)
        .cast("long")
        .alias("mad2")
    )
    out = res.crossJoin(F.broadcast(mad2))
    alarm = F.abs(F.col("residual")) * 2 > F.lit(k) * F.col("mad2")
    return out.select(
        "bucket", "x", "residual",
        F.coalesce(alarm, F.lit(False)).alias("alarm"),
    )


def holt_winters_additive(
    df: DataFrame,
    bucket_col,
    value_col,
    period: int = 7,
    horizon: int = 7,
    scale: int = 1,
) -> DataFrame:
    """Additive Holt-Winters (level + trend + seasonal) over a bucketed
    series with DYADIC smoothing weights (alpha=1/2, beta=1/4,
    gamma=1/2) — the seasonal upgrade of q253's Holt: a weekly-shaped
    series forecast with plain Holt lags the shape forever. Binary-
    fraction weights make every update an exact halving/quartering, so
    the fold is bit-reproducible and replays as a recursive CTE (the
    q253 contract, extended with a rotating seasonal register).

        l_t = (x_t - s_{t-m})/2 + (l + b)/2
        b_t = (l_t - l)/4 + 3 b/4
        s_t = (x_t - l_t)/2 + s_{t-m}/2

    Init (standard): l0 = mean of season 1, b0 = (mean of season 2 -
    mean of season 1)/m, s_i = x_i - l0; the fold starts at t = m.
    Seasonal state is ``period`` named struct fields updated by a
    when-chain on t mod m — no arrays in the accumulator, so the
    recursive-CTE twin carries the same flat columns. Requires at
    least 2*period buckets. Returns ``horizon`` rows:
    (h, forecast) plus (level, trend) on each — forecast_h =
    level + h*trend + s_{(n+h-1) mod m}.

    Scale: the data pass is ONE per-bucket integer aggregate; the fold
    runs over the calendar-bounded bucket array inside codegen.
    """
    if period < 2 or period > 16:
        raise ValueError("period must be in [2, 16]")
    if horizon < 1:
        raise ValueError("horizon must be >= 1")
    b = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = df.groupBy(b.alias("bucket")).agg(
        F.sum(F.round(v * scale).cast("long")).cast("long").alias("x")
    )
    one = per.agg(
        F.array_sort(
            F.collect_list(
                F.struct("bucket", F.col("x").cast("double").alias("x"))
            )
        ).alias("__arr")
    )
    m = period
    xs = F.transform(F.col("__arr"), lambda s: s["x"])
    mean1 = (
        F.aggregate(F.slice(xs, 1, m), F.lit(0.0), lambda a, x: a + x)
        / F.lit(float(m))
    )
    mean2 = (
        F.aggregate(F.slice(xs, m + 1, m), F.lit(0.0), lambda a, x: a + x)
        / F.lit(float(m))
    )
    sfields = [F.lit(None).cast("double").alias(f"s{i}") for i in range(m)]
    acc0 = F.struct(
        F.lit(0).alias("t"),
        mean1.alias("l"),
        ((mean2 - mean1) / F.lit(float(m))).alias("b"),
        *sfields,
    )

    def step(acc, x):
        t = acc["t"]
        idx = t % m
        init_phase = t < m
        s_old = F.lit(None).cast("double")
        for i in range(m):
            s_old = F.when(idx == i, acc[f"s{i}"]).otherwise(s_old)
        l_new = F.when(init_phase, acc["l"]).otherwise(
            (x - s_old) * F.lit(0.5) + (acc["l"] + acc["b"]) * F.lit(0.5)
        )
        b_new = F.when(init_phase, acc["b"]).otherwise(
            (l_new - acc["l"]) * F.lit(0.25) + acc["b"] * F.lit(0.75)
        )
        s_new = F.when(init_phase, x - acc["l"]).otherwise(
            (x - l_new) * F.lit(0.5) + s_old * F.lit(0.5)
        )
        fields = [(t + 1).alias("t"), l_new.alias("l"), b_new.alias("b")]
        for i in range(m):
            fields.append(
                F.when(idx == i, s_new).otherwise(acc[f"s{i}"]).alias(f"s{i}")
            )
        return F.struct(*fields)

    # in-plan length guard (the spearman assert_true pattern): with
    # fewer than 2*period buckets the init means read past the series
    # and the fold would return silently-wrong state on BOTH engines.
    guard = F.assert_true(
        F.size(xs) >= F.lit(2 * m),
        F.lit(
            f"holt_winters_additive needs >= {2 * m} buckets "
            f"(2*period) — got fewer"
        ),
    )
    fold = F.when(guard.isNull(), F.aggregate(xs, acc0, step))
    st = one.select(fold.alias("__f"))
    hs = st.select(
        "__f", F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("h")
    )
    season_at = F.lit(None).cast("double")
    for i in range(m):
        season_at = F.when(
            (F.col("__f")["t"] + F.col("h") - 1) % m == i,
            F.col("__f")[f"s{i}"],
        ).otherwise(season_at)
    sc = float(scale)
    return hs.select(
        F.col("h").cast("long").alias("h"),
        (F.col("__f")["l"] / F.lit(sc)).alias("level"),
        (F.col("__f")["b"] / F.lit(sc)).alias("trend"),
        (
            (F.col("__f")["l"] + F.col("h") * F.col("__f")["b"] + season_at)
            / F.lit(sc)
        ).alias("forecast"),
    )


def ljung_box(
    df: DataFrame,
    order_col: str,
    value_col: str,
    max_lag: int = 6,
    scale: int = 2,
) -> DataFrame:
    """Ljung-Box portmanteau whiteness test over an ordered series —
    "is anything autocorrelated in the first ``max_lag`` lags?", the
    standard residual/KPI diagnostic before trusting an i.i.d. model:

        Q = N (N+2) sum_{k=1..h} rho_k^2 / (N - k)

    Unlike :func:`acf_lags` (paired-Pearson per lag), rho_k here is
    the STANDARD fixed-global-mean estimator Q expects:
    rho_k = [S_xy(k) - mean (S_x(k)+S_y(k)) + n_k mean^2] / (Sxx - N mean^2),
    every raw sum an exact decimal (one lag-exploded equi-join = one
    shuffle for all lags), mean/rho one fixed double expression. The
    rho^2/(N-k) terms fold in LAG order (the kruskal determinism
    contract); p is the elementary even-df chi-square series, so
    ``max_lag`` must be EVEN (ValueError otherwise — the caller picks
    the lag window). Returns one row: (n_rows, lags, q_stat, p_value).
    Post-aggregate contract: call on the aggregated series (daily
    KPI), never raw rows — the row_number window is series-length.
    """
    from .experiments import chi2_sf_even

    if max_lag < 2 or max_lag % 2:
        raise ValueError("ljung_box needs an even max_lag >= 2")
    d = f"decimal(18,{scale})"
    w = Window.orderBy(order_col)
    base = df.select(
        F.row_number().over(w).alias("__rn"),
        F.col(value_col).cast(d).alias("__v"),
    )
    tot = base.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("__v").cast("double").alias("s"),
        F.sum(F.col("__v") * F.col("__v")).cast("double").alias("sxx"),
    )
    lagged = base.select(
        F.col("__v").alias("__vl"),
        F.explode(
            F.array(*[F.lit(k) for k in range(1, max_lag + 1)])
        ).alias("lag"),
        (F.col("__rn") + F.col("lag")).alias("__rn2"),
    ).select("__vl", "lag", F.col("__rn2").alias("__rn"))
    agg = (
        base.join(lagged, "__rn")
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n_k"),
            F.sum(F.col("__v") * F.col("__vl")).cast("double").alias("sxy"),
            F.sum("__v").cast("double").alias("sx"),
            F.sum("__vl").cast("double").alias("sy"),
        )
    )
    j = agg.crossJoin(F.broadcast(tot))
    nn = F.col("n_rows").cast("double")
    m = F.col("s") / nn
    rho = (
        F.col("sxy")
        - m * (F.col("sx") + F.col("sy"))
        + F.col("n_k").cast("double") * m * m
    ) / (F.col("sxx") - nn * m * m)
    terms = j.select(
        "n_rows",
        F.struct(
            "lag",
            (rho * rho / (nn - F.col("lag").cast("double"))).alias("term"),
        ).alias("__e"),
    )
    one = terms.groupBy("n_rows").agg(
        F.array_sort(F.collect_list("__e")).alias("__arr")
    )
    ssum = F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda acc, x: acc + x["term"]
    )
    nn2 = F.col("n_rows").cast("double")
    q = nn2 * (nn2 + F.lit(2.0)) * ssum
    return one.select(
        "n_rows",
        F.lit(max_lag).cast("long").alias("lags"),
        q.alias("q_stat"),
        chi2_sf_even(q, max_lag).alias("p_value"),
    )


def ccf_lags(
    df: DataFrame,
    order_col: str,
    x_col: str,
    y_col: str,
    max_lag: int = 5,
    scale: int = 2,
) -> DataFrame:
    """Lagged cross-correlation (CCF) between two aligned series —
    "does X LEAD Y?" (marketing spend vs revenue, orders vs shipments):
    r_k = paired Pearson of (x_t, y_{t-k}) for k = -max_lag..max_lag,
    so POSITIVE lags mean x correlates with EARLIER y (x lags y) and
    negative lags mean x leads. Lag 0 is the plain correlation.

    Same engine-exact shape as :func:`acf_lags`: the y side explodes
    once per lag (one equi-join = one shuffle for all 2*max_lag+1
    lags), sums are exact decimals, each r_k one fixed double
    expression rounded 12. Post-aggregate contract: feed the
    AGGREGATED (e.g. daily) series. Returns (lag, n_pairs, ccf).
    """
    d = f"decimal(18,{scale})"
    w = Window.orderBy(order_col)
    base = df.select(
        F.row_number().over(w).alias("__rn"),
        F.col(x_col).cast(d).alias("__x"),
        F.col(y_col).cast(d).alias("__y"),
    )
    lags = list(range(-max_lag, max_lag + 1))
    lagged = base.select(
        F.col("__y").alias("__yl"),
        F.explode(F.array(*[F.lit(k) for k in lags])).alias("lag"),
        F.col("__rn").alias("__rn0"),
    ).select("__yl", "lag", (F.col("__rn0") + F.col("lag")).alias("__rn"))
    pairs = base.join(lagged, "__rn")
    agg = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("__x").cast("double").alias("sx"),
        F.sum("__yl").cast("double").alias("sy"),
        F.sum(F.col("__x") * F.col("__yl")).cast("double").alias("sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("double").alias("sxx"),
        F.sum(F.col("__yl") * F.col("__yl")).cast("double").alias("syy"),
    )
    n = F.col("n_pairs").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "lag", "n_pairs", F.round(F.try_divide(num, den), 12).alias("ccf")
    ).orderBy("lag")


def durbin_watson(
    df: DataFrame,
    order_col: str,
    value_col: str,
    scale: int = 2,
) -> DataFrame:
    """Durbin-Watson statistic of the residuals from the simple OLS
    trend fit y ~ a + b*t over an ordered series — the classic "did my
    trend model leave autocorrelated residuals?" diagnostic (DW ~ 2
    white, -> 0 positively autocorrelated, -> 4 negatively):

        DW = sum_t (e_t - e_{t-1})^2 / sum_t e_t^2

    EVERY moment is an exact int64 in ``10^scale`` fixed-point units
    (t = the series row_number, y scaled to integer "cents"): int64 ->
    double casts are the SAME IEEE conversion on any engine, where a
    scale>0 decimal -> double cast is a two-step (int/10^s) rounding
    whose path differs between engines at the last ulp (measured on
    this operator at sf0.01 — the reason for the fixed-point detour).
    The whole fit runs in the scaled units: DW is a ratio (scale
    cancels exactly); slope/intercept divide back by 10^scale once at
    the end. One LAG window over the aggregated series (post-aggregate
    contract). No p-value: the DW null distribution depends on the
    design matrix (the classical dL/dU table lookup) — callers compare
    against 2. Returns one row: (n_rows, slope, intercept, dw) with
    slope rounded 9, intercept 6 (magnitude-appropriate — ROUND(.,12)
    on a 1e6-magnitude intercept over-asks a double), dw 12.
    """
    d = f"decimal(18,{scale})"
    mult = 10 ** scale
    w = Window.orderBy(order_col)
    base = df.select(
        F.row_number().over(w).cast("long").alias("__t"),
        (F.col(value_col).cast(d) * mult).cast("long").alias("__yc"),
    )
    mom = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__t").cast("long").cast("double").alias("st"),
        F.sum(F.col("__t") * F.col("__t"))
        .cast("long")
        .cast("double")
        .alias("stt"),
        F.sum("__yc").cast("long").cast("double").alias("sy"),
        F.sum(F.col("__t") * F.col("__yc"))
        .cast("long")
        .cast("double")
        .alias("sty"),
    )
    nd = F.col("n").cast("double")
    slope_c = (nd * F.col("sty") - F.col("st") * F.col("sy")) / (
        nd * F.col("stt") - F.col("st") * F.col("st")
    )
    intercept_c = (F.col("sy") - slope_c * F.col("st")) / nd
    fitted = base.crossJoin(F.broadcast(mom)).select(
        "__t",
        (
            F.col("__yc").cast("double")
            - slope_c * F.col("__t").cast("double")
            - intercept_c
        ).alias("__e"),
    )
    wl = Window.orderBy("__t")
    dd = fitted.select(
        "__e", (F.col("__e") - F.lag("__e").over(wl)).alias("__de")
    )
    out = dd.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col("__de") * F.col("__de")).alias("sdd"),
        F.sum(F.col("__e") * F.col("__e")).alias("see"),
    )
    md = float(mult)
    return out.crossJoin(F.broadcast(mom)).select(
        "n_rows",
        F.round(slope_c / F.lit(md), 9).alias("slope"),
        F.round(intercept_c / F.lit(md), 6).alias("intercept"),
        F.round(F.try_divide(F.col("sdd"), F.col("see")), 12).alias("dw"),
    )


def mann_kendall(
    df: DataFrame,
    order_col: str,
    value_col: str,
    scale: int = 2,
) -> DataFrame:
    """Mann-Kendall monotonic-trend test over an ordered series — "is
    the KPI drifting, without assuming linearity?" (the hypothesis-test
    companion of :func:`theil_sen_slope`, and q403's single-series
    sibling):

        S = sum_{i<j} sign(x_j - x_i),   tie-corrected var,
        z with the +/-1 continuity correction.

    Values go to exact int64 fixed-point (10^scale), so S is an exact
    integer from ONE time-pair self-join — O(n^2) pairs in the SERIES
    length, which is calendar-bounded under the post-aggregate
    contract (feed the daily aggregate, never raw rows; 2400 days =
    5.8M integer comparisons, one shuffle). Returns one row:
    (n_rows, s_stat, z, p_value), p two-sided.
    """
    from .experiments import normal_sf

    d = f"decimal(18,{scale})"
    mult = 10 ** scale
    w = Window.orderBy(order_col)
    base = df.select(
        F.row_number().over(w).cast("long").alias("__t"),
        (F.col(value_col).cast(d) * mult).cast("long").alias("__yc"),
    )
    a = base.select(F.col("__t").alias("ti"), F.col("__yc").alias("xi"))
    b = base.select(F.col("__t").alias("tj"), F.col("__yc").alias("xj"))
    s = (
        a.join(b, F.col("ti") < F.col("tj"))
        .agg(
            F.sum(F.signum((F.col("xj") - F.col("xi")).cast("double")))
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = base.groupBy("__yc").agg(F.count("*").cast("long").alias("t"))
    tot = ties.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
        .cast("long")
        .alias("st25"),
    )
    one = s.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    var = (
        nd * (nd - 1.0) * (2.0 * nd + 5.0) - F.col("st25").cast("double")
    ) / F.lit(18.0)
    sd = F.col("s_stat").cast("double")
    z = F.when(F.col("s_stat") > 0, (sd - 1.0) / F.sqrt(var)).when(
        F.col("s_stat") < 0, (sd + 1.0) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return one.select(
        F.col("n").alias("n_rows"),
        "s_stat",
        z.alias("z"),
        (F.lit(2.0) * normal_sf(F.abs(z))).alias("p_value"),
    )


def runs_test(
    df: DataFrame,
    order_col: str,
    value_col: str,
    scale: int = 2,
) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness around the median —
    "does the KPI alternate like noise, or cluster in regimes?": flag
    each point above/below the pooled LOWER median (an integer order
    statistic on the fixed-point values; exact ties with the median
    drop, the classical convention), count sign RUNS with one LAG
    window, and compare against the exact run-count moments

        mu = 1 + 2 n1 n2 / n,
        var = 2 n1 n2 (2 n1 n2 - n) / (n^2 (n-1)).

    Everything before z is exact int64. Returns one row:
    (n_above, n_below, n_runs, z, p_value), p two-sided.
    """
    from .experiments import normal_sf

    d = f"decimal(18,{scale})"
    mult = 10 ** scale
    w = Window.orderBy(order_col)
    base = df.select(
        F.row_number().over(w).cast("long").alias("__t"),
        (F.col(value_col).cast(d) * mult).cast("long").alias("__yc"),
    )
    per_val = base.groupBy("__yc").agg(F.count("*").cast("long").alias("t"))
    wv = Window.orderBy("__yc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_val.select(
        "__yc", F.sum("t").over(wv).cast("long").alias("cum")
    )
    tots = per_val.agg(F.sum("t").cast("long").alias("nn"))
    half = ((F.col("nn") + 1) - (F.col("nn") + 1) % 2) / 2
    med = (
        cum.crossJoin(F.broadcast(tots))
        .filter(F.col("cum").cast("double") >= half)
        .agg(F.min("__yc").alias("med"))
    )
    flagged = base.crossJoin(F.broadcast(med)).filter(
        F.col("__yc") != F.col("med")
    ).select(
        "__t", (F.col("__yc") > F.col("med")).cast("int").alias("__b")
    )
    wl = Window.orderBy("__t")
    runs = flagged.select(
        "__b",
        F.when(
            F.lag("__b").over(wl).isNull()
            | (F.col("__b") != F.lag("__b").over(wl)),
            1,
        )
        .otherwise(0)
        .alias("__new"),
    )
    agg = runs.agg(
        F.sum("__b").cast("long").alias("n1"),
        F.sum(F.lit(1) - F.col("__b")).cast("long").alias("n2"),
        F.sum("__new").cast("long").alias("n_runs"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    n = n1 + n2
    mu = 1.0 + 2.0 * n1 * n2 / n
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1.0))
    )
    z = F.try_divide(F.col("n_runs").cast("double") - mu, F.sqrt(var))
    return agg.select(
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        "n_runs",
        z.alias("z"),
        (F.lit(2.0) * normal_sf(F.abs(z))).alias("p_value"),
    )


def seasonal_decompose_ma(
    df: DataFrame,
    order_col: str,
    value_col: str,
    period: int = 7,
    scale: int = 2,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method): trend = centered ``period``-point MA, seasonal index =
    phase mean of the detrended series re-centered to sum ~0 — the
    decomposition a dashboard shows as "weekday effect" and a forecast
    subtracts before trending (q213's profile WITH the trend removed
    first, so a drifting level cannot masquerade as seasonality).
    ``period`` must be ODD here (the even case needs a 2x(period) MA;
    callers with weekly data pass 7).

    Exactness: values go to int64 fixed-point; the detrended value is
    kept as the EXACT integer period*y - window_sum (never a double
    mean per row), each phase mean is ONE division of exact int sums,
    and the re-centering fold runs in phase order (the kruskal
    contract). Full windows only (edge rows have no trend estimate).
    Returns (phase, n_obs, seasonal) with phase = (t-1) mod period,
    seasonal in original units rounded 9.
    """
    if period < 3 or period % 2 == 0:
        raise ValueError("seasonal_decompose_ma needs an odd period >= 3")
    d = f"decimal(18,{scale})"
    mult = 10 ** scale
    half = period // 2
    w = Window.orderBy(order_col)
    base = df.select(
        F.row_number().over(w).cast("long").alias("__t"),
        (F.col(value_col).cast(d) * mult).cast("long").alias("__yc"),
    )
    ww = Window.orderBy("__t").rowsBetween(-half, half)
    centered = base.select(
        "__t", "__yc",
        F.count("*").over(ww).alias("__cnt"),
        F.sum("__yc").over(ww).cast("long").alias("__ws"),
    ).filter(F.col("__cnt") == period)
    # exact integer detrended*period: period*y - window_sum
    det = centered.select(
        ((F.col("__t") - 1) % period).cast("long").alias("phase"),
        (F.lit(period) * F.col("__yc") - F.col("__ws")).alias("__d"),
    )
    per_phase = det.groupBy("phase").agg(
        F.count("*").cast("long").alias("n_obs"),
        F.sum("__d").cast("long").alias("__sd"),
    )
    # phase mean of detrended, in original units: sd / (period*mult*n)
    mean_expr = F.col("__sd").cast("double") / (
        F.col("n_obs").cast("double") * F.lit(float(period * mult))
    )
    ev = per_phase.select(
        "phase", "n_obs", F.struct("phase", mean_expr.alias("m")).alias("__e")
    )
    folded = ev.groupBy().agg(
        F.array_sort(F.collect_list("__e")).alias("__arr"),
        F.count("*").cast("double").alias("__k"),
    )
    center = (
        F.aggregate(
            F.col("__arr"), F.lit(0.0), lambda acc, x: acc + x["m"]
        )
        / F.col("__k")
    )
    return (
        per_phase.crossJoin(F.broadcast(folded.select(center.alias("__c"))))
        .select(
            "phase", "n_obs",
            F.round(mean_expr - F.col("__c"), 9).alias("seasonal"),
        )
        .orderBy("phase")
    )


def pacf_lags(
    df: DataFrame,
    order_col: str,
    value_col: str,
    max_lag: int = 4,
    scale: int = 2,
) -> DataFrame:
    """Partial autocorrelation (PACF) of an ordered series for lags
    1..max_lag via the Durbin-Levinson recursion — the ACF's partner
    in ARIMA order identification (ACF tails off + PACF cuts at p =>
    AR(p); q270/q405 read the ACF side, this reads the AR side).

    rho_k is the same fixed-global-mean estimator as
    :func:`ljung_box` (exact decimal sums, one lag-exploded join); the
    recursion is UNROLLED into one fixed double expression tree per
    lag — both engines evaluate the identical arithmetic, so the
    oracle replays it bit-for-bit (the dynamic-loop alternative would
    not be SQL-expressible). Returns (lag, pacf) rounded 12,
    post-aggregate contract as usual.
    """
    d = f"decimal(18,{scale})"
    w = Window.orderBy(order_col)
    base = df.select(
        F.row_number().over(w).alias("__rn"),
        F.col(value_col).cast(d).alias("__v"),
    )
    tot = base.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("__v").cast("double").alias("s"),
        F.sum(F.col("__v") * F.col("__v")).cast("double").alias("sxx"),
    )
    lagged = base.select(
        F.col("__v").alias("__vl"),
        F.explode(
            F.array(*[F.lit(k) for k in range(1, max_lag + 1)])
        ).alias("lag"),
        (F.col("__rn") + F.col("lag")).alias("__rn2"),
    ).select("__vl", "lag", F.col("__rn2").alias("__rn"))
    agg = (
        base.join(lagged, "__rn")
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n_k"),
            F.sum(F.col("__v") * F.col("__vl")).cast("double").alias("sxy"),
            F.sum("__v").cast("double").alias("sx"),
            F.sum("__vl").cast("double").alias("sy"),
        )
    )
    j = agg.crossJoin(F.broadcast(tot))
    nn = F.col("n_rows").cast("double")
    m = F.col("s") / nn
    rho_expr = (
        F.col("sxy")
        - m * (F.col("sx") + F.col("sy"))
        + F.col("n_k").cast("double") * m * m
    ) / (F.col("sxx") - nn * m * m)
    one = j.groupBy().agg(
        *[
            F.max(F.when(F.col("lag") == k, rho_expr)).alias(f"r{k}")
            for k in range(1, max_lag + 1)
        ]
    )
    # Durbin-Levinson unrolled over Column expressions: phi[k][j]
    r = {k: F.col(f"r{k}") for k in range(1, max_lag + 1)}
    phi: dict[int, dict[int, "F.Column"]] = {1: {1: r[1]}}
    for k in range(2, max_lag + 1):
        num = r[k]
        den = F.lit(1.0)
        for jx in range(1, k):
            num = num - phi[k - 1][jx] * r[k - jx]
            den = den - phi[k - 1][jx] * r[jx]
        kk = num / den
        phi[k] = {k: kk}
        for jx in range(1, k):
            phi[k][jx] = phi[k - 1][jx] - kk * phi[k - 1][k - jx]
    out = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag"),
                        F.round(phi[k][k], 12).alias("pacf"),
                    )
                    for k in range(1, max_lag + 1)
                ]
            )
        ).alias("__e")
    )
    return out.select("__e.lag", "__e.pacf").orderBy("lag")


def pacf_sql(
    series_cte: str,
    max_lag: int = 4,
) -> str:
    """DuckDB twin of :func:`pacf_lags` (keep in lockstep): builds the
    SAME unrolled Durbin-Levinson expression tree over rho columns, so
    the two engines share every arithmetic step. ``series_cte`` must
    define base(rn BIGINT, v DECIMAL(18,2)) ordered — the identical
    decimal-sum rho machinery the q405 Ljung-Box gate already proved
    engine-exact."""
    rho = (
        "((sxy - m * (sx + sy) + CAST(n_k AS DOUBLE) * m * m)"
        " / (sxx - nn * m * m))"
    )
    lags_values = ", ".join(f"({k})" for k in range(1, max_lag + 1))
    # build phi expressions as SQL strings with the same loop as the
    # Column construction in pacf_lags
    r = {k: f"r{k}" for k in range(1, max_lag + 1)}
    phi: dict[int, dict[int, str]] = {1: {1: r[1]}}
    for k in range(2, max_lag + 1):
        num = r[k]
        den = "1.0"
        for jx in range(1, k):
            num = f"({num} - {phi[k - 1][jx]} * {r[k - jx]})"
            den = f"({den} - {phi[k - 1][jx]} * {r[jx]})"
        kk = f"({num} / {den})"
        phi[k] = {k: kk}
        for jx in range(1, k):
            phi[k][jx] = f"({phi[k - 1][jx]} - {kk} * {phi[k - 1][k - jx]})"
    selects = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS lag, ROUND({phi[k][k]}, 12) AS pacf"
        f" FROM rhos"
        for k in range(1, max_lag + 1)
    )
    rcols = ", ".join(
        f"MAX(CASE WHEN lag = {k} THEN rho END) AS r{k}"
        for k in range(1, max_lag + 1)
    )
    return f"""
    WITH {series_cte}, tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(v) AS DOUBLE) AS s,
             CAST(SUM(v * v) AS DOUBLE) AS sxx
      FROM base
    ), pairs AS (
      SELECT CAST(k.lag AS INTEGER) AS lag, a.v AS x, b.v AS y
      FROM base a
      JOIN (VALUES {lags_values}) AS k(lag) ON TRUE
      JOIN base b ON a.rn = b.rn + k.lag
    ), agg AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_k,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy
      FROM pairs GROUP BY 1
    ), withm AS (
      SELECT agg.*, CAST(tot.n_rows AS DOUBLE) AS nn,
             tot.s / CAST(tot.n_rows AS DOUBLE) AS m, tot.sxx
      FROM agg, tot
    ), rhos AS (
      SELECT {rcols} FROM (SELECT lag, {rho} AS rho FROM withm)
    )
    {selects}
    ORDER BY lag
    """


def c_index(
    df: DataFrame,
    dur_col: str,
    event_col: str,
    risk_col: str,
) -> DataFrame:
    """Harrell's concordance index for censored survival data — "does
    the risk score rank subjects in the order they actually fail?",
    the discrimination readout beside the KM/Nelson-Aalen curves
    (q269/q379) and the log-rank test (q381):

        comparable pairs: dur_i < dur_j AND event_i = 1
        C = (concordant + 0.5 * risk-ties) / comparable,
        concordant = risk_i > risk_j (higher risk fails earlier)

    Scalable shape (the kendall_tau_b cell-grid discipline): rows
    collapse to the (dur, risk, event) CELL table first, and the pair
    counting is a cell self-join on dur_a < dur_b with the event-side
    filter — O(C^2) for C distinct cells, which is why BOTH duration
    and risk must be quantized/banded upstream (the knob that bounds
    the grid; q420 bands lifetimes to weeks). Same-time pairs are
    excluded (the standard Harrell usable-pair definition). All pair
    counts exact integers in decimal; C = (2*conc + ties) / (2*comp)
    is one double division. Returns one row:
    (n_comparable, n_concordant, n_tied_risk, c_index).
    """
    d38 = "decimal(38,0)"
    cells = (
        df.select(
            F.col(dur_col).cast("long").alias("t"),
            F.col(event_col).cast("int").alias("e"),
            F.col(risk_col).cast("long").alias("r"),
        )
        .filter(
            F.col("t").isNotNull()
            & F.col("e").isNotNull()
            & F.col("r").isNotNull()
        )
        .groupBy("t", "e", "r")
        .agg(F.count("*").cast("long").alias("c"))
        .transform(materialize)
    )
    a = cells.filter(F.col("e") == 1).alias("a")
    b = cells.alias("b")
    prod = (F.col("a.c").cast(d38) * F.col("b.c")).cast(d38)
    z = F.lit(0).cast(d38)
    pq = a.join(b, F.col("a.t") < F.col("b.t")).agg(
        F.sum(prod).alias("comp"),
        F.sum(
            F.when(F.col("a.r") > F.col("b.r"), prod).otherwise(z)
        ).alias("conc"),
        F.sum(
            F.when(F.col("a.r") == F.col("b.r"), prod).otherwise(z)
        ).alias("tied"),
    )
    num = (
        F.lit(2).cast(d38) * F.col("conc") + F.col("tied")
    ).cast("double")
    den = (F.lit(2).cast(d38) * F.col("comp")).cast("double")
    return pq.select(
        F.col("comp").cast("long").alias("n_comparable"),
        F.col("conc").cast("long").alias("n_concordant"),
        F.col("tied").cast("long").alias("n_tied_risk"),
        F.try_divide(num, den).alias("c_index"),
    )


def hurst_rs(
    df: DataFrame,
    time_col: str,
    value_col: str,
    window_sizes: tuple = (8, 16, 32, 64),
) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis — long-range
    dependence of a series ("do busy days clump?"): H = 0.5 for a
    random walk's increments, H > 0.5 for persistent (trending)
    series, H < 0.5 for mean-reverting ones. The memory diagnostic
    beside ACF (q270, fixed lags) and CUSUM (q380, one shift):

        per block of length w: R = range of mean-adjusted cumulative
        deviations, S = population std; H = slope of
        ln(avg R/S) on ln(w) over the window-size ladder.

    Exactness: with integer-quantized values, w * prefix_j - j * S_blk
    keeps every cumulative deviation an EXACT integer (the q411
    multiply-through trick), so R/S = R_scaled / sqrt(w*SS - S^2) is
    one sqrt+division per block; block averages fold in block order
    and the 4-point log-log OLS folds in window order. Zero-variance
    blocks are excluded (R/S undefined; n_blocks reports the kept
    count).

    Shape: the series is an upstream AGGREGATE (calendar-bounded —
    the post-aggregate window contract); one explode over the
    window-size ladder, one prefix window per (w, block), metadata
    folds after. Returns one row per window size:
    (w, n_blocks, rs_avg, hurst) with the shared slope repeated.
    """
    d38 = "decimal(38,0)"
    base = df.select(
        F.row_number()
        .over(Window.orderBy(time_col))
        .cast("long")
        .alias("rn"),
        F.col(value_col).cast("long").alias("v"),
    )
    ws = F.array(*[F.lit(int(w)) for w in window_sizes])
    g = base.select(
        F.explode(ws).alias("w0"), "rn", "v"
    ).select(
        F.col("w0").cast("long").alias("w"), "rn", "v"
    ).select(
        "w", "v",
        F.floor((F.col("rn") - 1) / F.col("w")).cast("long").alias("blk"),
        (
            F.col("rn")
            - F.floor((F.col("rn") - 1) / F.col("w")).cast("long")
            * F.col("w")
        ).cast("long").alias("j"),
    )
    wseq = Window.partitionBy("w", "blk").orderBy("j").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("w", "blk")
    p = g.select(
        "w", "blk", "j", "v",
        F.sum("v").over(wseq).cast("long").alias("pre"),
        F.count("*").over(wall).cast("long").alias("cnt"),
        F.sum("v").over(wall).cast("long").alias("s"),
        F.sum((F.col("v").cast(d38) * F.col("v")).cast(d38))
        .over(wall)
        .cast(d38)
        .alias("ss"),
    ).filter(F.col("cnt") == F.col("w"))
    dev = (
        F.col("w").cast(d38) * F.col("pre").cast(d38)
        - F.col("j").cast(d38) * F.col("s").cast(d38)
    ).cast(d38)
    rb = p.groupBy("w", "blk").agg(
        (F.max(dev) - F.min(dev)).cast(d38).alias("rsc"),
        F.first("s").alias("s"),
        F.first("ss").alias("ss"),
    )
    var2 = (
        F.col("w").cast(d38) * F.col("ss")
        - (F.col("s").cast(d38) * F.col("s").cast(d38)).cast(d38)
    ).cast(d38)
    rs = rb.select(
        "w", "blk",
        (F.col("rsc").cast("double") / F.sqrt(var2.cast("double"))).alias(
            "rs"
        ),
        var2.alias("v2"),
    ).filter(F.col("v2") > 0)
    perw = (
        rs.select("w", F.struct("blk", "rs").alias("__e"))
        .groupBy("w")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.array_sort(F.collect_list("__e")).alias("__arr"),
        )
        .select(
            "w", "n_blocks",
            (
                F.aggregate(
                    F.col("__arr"), F.lit(0.0), lambda a, x: a + x["rs"]
                )
                / F.col("n_blocks").cast("double")
            ).alias("rs_avg"),
        )
    )
    # r12 hardening (the q434 lesson): both ln terms quantize
    # ROUND(ln, 9)::decimal(12,9) before the OLS moment sums — exact
    # order-free decimal adds absorb 1-ulp libm/JIT ln latitude; the
    # slope is one fixed double tree over bitwise-identical sums.
    qx = F.round(F.log(F.col("w").cast("double")), 9).cast(
        "decimal(12,9)"
    )
    qy = F.round(F.log("rs_avg"), 9).cast("decimal(12,9)")
    pts = perw.select(qx.alias("x"), qy.alias("y")).agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = pts.select(
        ((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("hurst")
    )
    return perw.crossJoin(F.broadcast(slope)).select(
        "w", "n_blocks", "rs_avg", "hurst"
    ).orderBy("w")


def rmst(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    tau: int,
) -> DataFrame:
    """Restricted mean survival time — the area under the Kaplan-Meier
    curve up to the horizon ``tau``: "average lifetime within the
    first tau days", the single-number churn summary that stays valid
    under censoring where a raw mean lifetime does not (and unlike the
    median survival, always exists):

        RMST(tau) = integral_0^tau S(t) dt
                  = min(t_1, tau) + SUM_i S(t_i) (min(t_{i+1}, tau)
                                                  - min(t_i, tau))

    Composes :func:`kaplan_meier` (shared counting pass and fold
    contract); the step-area terms are one LEAD window + a time-ordered
    fold over the event-time table (calendar-bounded — the
    post-aggregate window contract). Returns one row:
    (tau, n_event_times, rmst).
    """
    km = kaplan_meier(df, duration_col, event_col)
    taud = F.lit(float(tau))
    wl = Window.orderBy("t")
    seg = km.select(
        "t", "survival",
        F.lead("t").over(wl).cast("double").alias("nt"),
    )
    width = F.greatest(
        F.least(F.coalesce(F.col("nt"), taud), taud)
        - F.least(F.col("t").cast("double"), taud),
        F.lit(0.0),
    )
    folded = seg.select(
        F.struct("t", (F.col("survival") * width).alias("a")).alias("__e"),
        F.col("t"),
    ).agg(
        F.count("*").cast("long").alias("n_event_times"),
        F.min("t").cast("double").alias("t1"),
        F.array_sort(F.collect_list("__e")).alias("__arr"),
    )
    area = F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda acc, x: acc + x["a"]
    )
    return folded.select(
        F.lit(tau).cast("long").alias("tau"),
        "n_event_times",
        (F.least(F.col("t1"), taud) + area).alias("rmst"),
    )


def gumbel_block_maxima(
    df: DataFrame,
    time_col: str,
    value_col: str,
    block_days: int = 7,
    return_period: int = 52,
) -> DataFrame:
    """Gumbel extreme-value fit on block maxima (method of moments) —
    "how bad can a week get?", the tail-risk readout beside the
    bulk-shape stats (q437): fit block maxima to Gumbel(loc, scale)
    and report the T-block return level:

        scale = sqrt(6) s / pi,  loc = m - gamma scale
        x_T = loc - scale ln(-ln(1 - 1/T))

    (gamma = Euler-Mascheroni). Block maxima come from one grouped MAX
    over ID-ranged day blocks (no global window); moments are exact
    decimal sums over the block table; the fit is a fixed double tree
    under the log contract. Returns one row:
    (n_blocks, max_mean, max_sd, loc, scale, return_level).
    """
    d38 = "decimal(38,0)"
    w = Window.orderBy(time_col)
    base = df.select(
        F.row_number().over(w).cast("long").alias("rn"),
        F.col(value_col).cast("long").alias("v"),
    )
    blocks = (
        base.select(
            F.floor((F.col("rn") - 1) / F.lit(block_days))
            .cast("long")
            .alias("blk"),
            "v",
        )
        .groupBy("blk")
        .agg(F.max("v").cast("long").alias("m"), F.count("*").alias("cnt"))
        .filter(F.col("cnt") == block_days)
    )
    agg = blocks.agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum(F.col("m").cast(d38)).cast(d38).alias("s1"),
        F.sum((F.col("m").cast(d38) * F.col("m")).cast(d38))
        .cast(d38)
        .alias("s2"),
    )
    nd = F.col("n_blocks").cast("double")
    mean = F.col("s1").cast("double") / nd
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double") / nd
        )
        / (nd - F.lit(1.0))
    )
    scale = F.lit(2.449489742783178) * sd / F.lit(3.141592653589793)
    loc = mean - F.lit(0.5772156649015329) * scale
    t = float(return_period)
    rl = loc - scale * F.log(-F.log(F.lit(1.0 - 1.0 / t)))
    return agg.select(
        "n_blocks",
        mean.alias("max_mean"),
        sd.alias("max_sd"),
        loc.alias("loc"),
        scale.alias("scale"),
        rl.alias("return_level"),
    )


def seasonal_strength(
    df: DataFrame,
    time_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Seasonal-strength index — ONE number for "how seasonal is this
    series?": the share of detrended variance explained by the
    seasonal phase (eta-squared of the one-way phase ANOVA over the
    q411 centered-MA detrended values):

        strength = max(0, 1 - SS_within / SS_total)

    Exactness: detrended values stay exact integers (period*y - window
    sum — the q411 multiply-through trick; the period^2 scaling
    cancels in the ratio), so SS identities are exact decimal sums;
    the per-phase (sum^2 / n) terms fold in phase order. The centered
    window runs over the calendar-bounded series (post-aggregate
    contract); ``period`` must be odd for a symmetric window (q411's
    contract). Returns one row:
    (period, n_obs, ss_within, ss_total, strength).
    """
    if period % 2 == 0:
        raise ValueError("seasonal_strength requires an odd period")
    d38 = "decimal(38,0)"
    half = period // 2
    w = Window.orderBy(time_col)
    base = df.select(
        F.row_number().over(w).cast("long").alias("t"),
        F.col(value_col).cast("long").alias("y"),
    )
    wc = Window.orderBy("t").rowsBetween(-half, half)
    cent = base.select(
        "t", "y",
        F.count("*").over(wc).cast("long").alias("cnt"),
        F.sum("y").over(wc).cast("long").alias("ws"),
    ).filter(F.col("cnt") == period)
    det = cent.select(
        ((F.col("t") - 1) % period).cast("long").alias("phase"),
        (F.lit(period) * F.col("y") - F.col("ws")).cast("long").alias("d"),
    )
    per = det.groupBy("phase").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("d").cast(d38)).cast(d38).alias("sd"),
        F.sum((F.col("d").cast(d38) * F.col("d")).cast(d38))
        .cast(d38)
        .alias("sd2"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("sd").cast(d38).alias("sdd"),
        F.sum("sd2").cast(d38).alias("sdd2"),
    )
    folded = (
        per.select(
            F.struct(
                "phase",
                (
                    F.col("sd").cast("double")
                    * F.col("sd").cast("double")
                    / F.col("n").cast("double")
                ).alias("t"),
            ).alias("__e")
        )
        .agg(F.array_sort(F.collect_list("__e")).alias("__arr"))
    )
    sfold = F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda a, x: a + x["t"]
    )
    j = tot.crossJoin(F.broadcast(folded))
    ssw = F.col("sdd2").cast("double") - sfold
    sst = (
        F.col("sdd2").cast("double")
        - F.col("sdd").cast("double")
        * F.col("sdd").cast("double")
        / F.col("nn").cast("double")
    )
    return j.select(
        F.lit(period).cast("long").alias("period"),
        F.col("nn").alias("n_obs"),
        ssw.alias("ss_within"),
        sst.alias("ss_total"),
        F.greatest(
            F.lit(0.0), F.lit(1.0) - F.try_divide(ssw, sst)
        ).alias("strength"),
    )


def ohlc_bars(
    df: DataFrame,
    bar_col: str,
    seq_cols: list[str],
    price_col: str,
    qty_col: str,
) -> DataFrame:
    """OHLC + VWAP bar aggregation of a trade tape — the candlestick /
    market-data rollup (one bar per ``bar_col`` bucket): open = price
    of the first trade in sequence order, close = last, high/low =
    extremes, volume = total quantity, vwap = sum(price*qty) /
    sum(qty). Charter §2B extension (the reference,
    src/etl/ETLProcess.java:1-568, has no time-series surface).

    Scale design: ONE map-side-combinable groupBy on the bar key —
    open/close ride along as lexicographic min/max over
    (seq..., price) structs, so no window, no second shuffle, and bars
    parallelize across the full tape. ``seq_cols`` must totally order
    trades within a bar (e.g. orderkey + linenumber) or open/close
    would be nondeterministic under Spark's partition-order ties.

    Determinism: prices/quantities are exact integers; vwap is the one
    double, an exact-integer ratio fixed tree — callers ROUND it (<= 6
    decimals) to absorb the engines' wide-int -> double conversion ulp
    (the chi2_sf_even exp-rounding convention). Returns one row per
    bar: (bar, open_c, high_c, low_c, close_c, volume_q, pv, n_trades,
    vwap_c).
    """
    if not seq_cols:
        raise ValueError(
            "ohlc_bars needs at least one sequence column — open/close "
            "are nondeterministic without a total within-bar order"
        )
    d38 = "decimal(38,0)"
    seq = [F.col(c).cast("long") for c in seq_cols]
    p = F.col(price_col).cast("long")
    q = F.col(qty_col).cast("long")
    base = df.select(
        F.col(bar_col).alias("bar"),
        F.struct(*seq, p.alias("p")).alias("__s"),
        p.alias("p"),
        q.alias("q"),
        (p.cast(d38) * q).cast(d38).alias("pv"),
    )
    out = base.groupBy("bar").agg(
        F.min("__s").alias("__first"),
        F.max("__s").alias("__last"),
        F.max("p").cast("long").alias("high_c"),
        F.min("p").cast("long").alias("low_c"),
        F.sum("q").cast("long").alias("volume_q"),
        F.sum("pv").cast(d38).alias("pv"),
        F.count("*").cast("long").alias("n_trades"),
    )
    return out.select(
        "bar",
        F.col("__first.p").alias("open_c"),
        "high_c",
        "low_c",
        F.col("__last.p").alias("close_c"),
        "volume_q",
        "pv",
        "n_trades",
        (F.col("pv").cast("double") / F.col("volume_q").cast("double")).alias(
            "vwap_c"
        ),
    )


def max_drawdown(
    df: DataFrame,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Maximum drawdown of the cumulative-sum equity curve built from
    per-period integer flows — "the worst peak-to-trough loss an
    investor in this stream ever saw", the tail-risk readout P&L and
    SLA-burndown dashboards share. Drawdown at t = max(equity[..t]) -
    equity[t]; the reported trough is the EARLIEST period attaining
    the maximum drawdown.

    Scale design: one ordered prefix-sum window over the PERIOD table
    (calendar-bounded — days, not rows; everything upstream is a
    map-side-combinable groupBy), then a single argmin-struct global
    aggregate. All quantities are exact integers; the one double
    (drawdown as a fraction of the standing peak) is a fixed ratio
    tree.

    Returns one row: (n_periods, final_equity_c, peak_equity_c,
    max_drawdown_c, trough_t, peak_at_trough_c, drawdown_frac).
    drawdown_frac is NULL when the standing peak at the trough is
    non-positive (a fraction of a <= 0 peak is meaningless; mirrors
    the oracle's CASE WHEN runpeak > 0 guard).
    """
    w = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    base = df.select(
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("v"),
    )
    curve = base.select(
        "t",
        F.sum("v").over(w).cast("long").alias("eq"),
    ).select(
        "t",
        "eq",
        F.max("eq")
        .over(
            Window.orderBy("t").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("long")
        .alias("runpeak"),
    )
    scored = curve.select(
        "t",
        "eq",
        "runpeak",
        (F.col("runpeak") - F.col("eq")).cast("long").alias("dd"),
    )
    agg = scored.agg(
        F.count("*").cast("long").alias("n_periods"),
        F.max(F.struct(F.col("t").alias("tt"), F.col("eq").alias("e")))
        .alias("__fin"),
        F.max("eq").cast("long").alias("peak_equity_c"),
        F.min(
            F.struct(
                (-F.col("dd")).alias("ndd"),
                F.col("t").alias("tt"),
                F.col("runpeak").alias("rp"),
            )
        ).alias("__tr"),
    )
    dd = -F.col("__tr.ndd")
    return agg.select(
        "n_periods",
        F.col("__fin.e").alias("final_equity_c"),
        "peak_equity_c",
        dd.cast("long").alias("max_drawdown_c"),
        F.col("__tr.tt").alias("trough_t"),
        F.col("__tr.rp").alias("peak_at_trough_c"),
        F.when(
            F.col("__tr.rp") > 0,
            dd.cast("double") / F.col("__tr.rp").cast("double"),
        ).alias("drawdown_frac"),
    )


def rolling_band_breaches(
    df: DataFrame,
    time_col: str,
    value_col: str,
    window: int = 7,
    k_sigma: float = 2.0,
) -> DataFrame:
    """Bollinger-band breach detection: flag periods whose value exits
    the trailing ``window``-period mean +/- ``k_sigma`` population
    sigmas — the volatility-scaled outlier screen (vs q128's global
    z-score: the band adapts to local level and spread). Only FULL
    windows emit (the first window-1 periods are warm-up).

    Scale design: one trailing window over the period table
    (calendar-bounded rows), integer prefix sums; no second shuffle.
    mid/sd/bands are fixed double trees over exact integer window
    sums (sd via the n*ss - ws^2 identity, IEEE-exact sqrt), so the
    breach PREDICATE itself is bitwise reproducible — both engines
    flag the identical row set.

    Returns breach rows only: (t, v, mid, lower, upper, pct_b,
    direction) with direction 1 = above, -1 = below.
    """
    d38 = "decimal(38,0)"
    n = int(window)
    if n < 2:
        raise ValueError("window must be >= 2 (sigma needs spread)")
    k = float(k_sigma)
    base = df.select(
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("v"),
    )
    w = Window.orderBy("t").rowsBetween(-(n - 1), 0)
    roll = base.select(
        "t",
        "v",
        F.count("*").over(w).alias("cnt"),
        F.sum("v").over(w).cast("long").alias("ws"),
        F.sum((F.col("v").cast(d38) * F.col("v")).cast(d38))
        .over(w)
        .cast(d38)
        .alias("ss"),
    ).filter(F.col("cnt") == n)
    nd = F.lit(float(n))
    mid = F.col("ws").cast("double") / nd
    sd = (
        F.sqrt(
            (
                nd * F.col("ss").cast("double")
                - F.col("ws").cast("double") * F.col("ws").cast("double")
            )
        )
        / nd
    )
    lower = mid - F.lit(k) * sd
    upper = mid + F.lit(k) * sd
    vd = F.col("v").cast("double")
    scored = roll.select(
        "t",
        "v",
        mid.alias("mid"),
        lower.alias("lower"),
        upper.alias("upper"),
        ((vd - lower) / (upper - lower)).alias("pct_b"),
    )
    return scored.filter(
        (F.col("v").cast("double") > F.col("upper"))
        | (F.col("v").cast("double") < F.col("lower"))
    ).select(
        "t",
        "v",
        "mid",
        "lower",
        "upper",
        "pct_b",
        F.when(F.col("v").cast("double") > F.col("upper"), F.lit(1))
        .otherwise(F.lit(-1))
        .cast("int")
        .alias("direction"),
    )


def aalen_johansen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Aalen-Johansen cumulative incidence under COMPETING risks —
    what :func:`kaplan_meier` gets wrong when there are two ways to
    exit (1 - KM per cause overstates both): event_col is 0 =
    censored, 1 = cause one, 2 = cause two, and

        CIF_k(t) = SUM_{t' <= t} S(t'-) * d_k(t') / n(t')

    with S the ALL-cause KM survival. CIF_1 + CIF_2 + S = 1 at every
    event time (the mass-conservation check the tests pin).

    Shape: identical scale story to kaplan_meier — per-distinct-time
    (d1, d2, c) counts, a suffix-cumulative risk window, ONE collected
    calendar-bounded array, and a prefix refold whose accumulator
    carries (S, CIF1, CIF2); each CIF increment uses the PRE-update S
    (the left limit), then S multiplies its factor. A DuckDB recursive
    CTE replays the same (s, c1, c2) recursion bitwise.

    Returns one row per event time: (t, n_risk, d_cause1, d_cause2,
    n_censored, survival, cif_1, cif_2).
    """
    per = df.groupBy(F.col(duration_col).cast("long").alias("t")).agg(
        F.sum((F.col(event_col) == 1).cast("int")).cast("long").alias("d1"),
        F.sum((F.col(event_col) == 2).cast("int")).cast("long").alias("d2"),
        F.sum((F.col(event_col) == 0).cast("int")).cast("long").alias("c"),
    )
    w_risk = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    per = per.select(
        "t", "d1", "d2", "c",
        F.sum(F.col("d1") + F.col("d2") + F.col("c"))
        .over(w_risk)
        .cast("long")
        .alias("n"),
    )
    ev = per.filter((F.col("d1") + F.col("d2")) > 0).select(
        F.struct(
            "t", "d1", "d2", "c", "n",
            (
                F.lit(1.0)
                - (F.col("d1") + F.col("d2")).cast("double")
                / F.col("n").cast("double")
            ).alias("f"),
            (F.col("d1").cast("double") / F.col("n").cast("double")).alias(
                "r1"
            ),
            (F.col("d2").cast("double") / F.col("n").cast("double")).alias(
                "r2"
            ),
        ).alias("__e")
    )
    one = ev.agg(F.array_sort(F.collect_list("__e")).alias("__arr"))
    expl = one.select("__arr", F.posexplode("__arr").alias("__i", "__s"))
    acc0 = F.struct(
        F.lit(1.0).alias("s"), F.lit(0.0).alias("c1"), F.lit(0.0).alias("c2")
    )
    fold = F.aggregate(
        F.slice(F.col("__arr"), F.lit(1), F.col("__i") + 1),
        acc0,
        lambda a, x: F.struct(
            (a["s"] * x["f"]).alias("s"),
            (a["c1"] + a["s"] * x["r1"]).alias("c1"),
            (a["c2"] + a["s"] * x["r2"]).alias("c2"),
        ),
    )
    return expl.select(
        F.col("__s")["t"].alias("t"),
        F.col("__s")["n"].alias("n_risk"),
        F.col("__s")["d1"].alias("d_cause1"),
        F.col("__s")["d2"].alias("d_cause2"),
        F.col("__s")["c"].alias("n_censored"),
        fold["s"].alias("survival"),
        fold["c1"].alias("cif_1"),
        fold["c2"].alias("cif_2"),
    )


def croston_forecast(
    df: DataFrame,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Croston's method for INTERMITTENT demand — the forecast SES and
    Holt get wrong when most periods are zero (they decay toward zero
    between demands; Croston separates "how much when it happens"
    from "how often it happens"):

        on each nonzero-demand period: z' = q/2 + z/2 (size EWMA)
                                       p' = I/2 + p/2 (interval EWMA)
        demand rate = z / p   per period

    with I the inter-demand interval in periods. Dyadic alpha = 1/2
    (the holt_winters_additive exact-halving contract). Init
    convention: z = first demand size, p = first demand's period
    index (the interval from the series start; documented, pinned by
    test).

    Scale: the data pass is one per-period aggregate; nonzero-demand
    events fold in period order over ONE collected calendar-bounded
    array (the kaplan_meier contract); a recursive CTE replays (z, p)
    bitwise.

    Returns one row: (n_periods, n_demands, size_ewma, interval_ewma,
    demand_rate).
    """
    per = df.groupBy(F.col(time_col).cast("long").alias("t")).agg(
        F.sum(F.col(value_col).cast("long")).cast("long").alias("q")
    )
    tot = per.agg(F.count("*").cast("long").alias("n_periods"))
    ev = per.filter(F.col("q") > 0).select(
        F.struct(
            F.col("t").alias("t"), F.col("q").cast("double").alias("q")
        ).alias("__e")
    )
    one = ev.agg(
        F.array_sort(F.collect_list("__e")).alias("__arr"),
        F.count("*").cast("long").alias("n_demands"),
    )
    acc0 = F.struct(
        F.lit(None).cast("double").alias("z"),
        F.lit(None).cast("double").alias("p"),
        F.lit(0).cast("long").alias("last"),
    )

    def step(acc, x):
        inter = (x["t"] - acc["last"]).cast("double")
        return F.when(
            acc["z"].isNull(),
            F.struct(
                x["q"].alias("z"),
                x["t"].cast("double").alias("p"),
                x["t"].alias("last"),
            ),
        ).otherwise(
            F.struct(
                (x["q"] * F.lit(0.5) + acc["z"] * F.lit(0.5)).alias("z"),
                (inter * F.lit(0.5) + acc["p"] * F.lit(0.5)).alias("p"),
                x["t"].alias("last"),
            )
        )

    fold = F.aggregate(F.col("__arr"), acc0, step)
    return one.crossJoin(F.broadcast(tot)).select(
        "n_periods",
        "n_demands",
        fold["z"].alias("size_ewma"),
        fold["p"].alias("interval_ewma"),
        (fold["z"] / fold["p"]).alias("demand_rate"),
    )


def theta_forecast(
    df: DataFrame,
    time_col: str,
    value_col: str,
    horizon: int = 7,
) -> DataFrame:
    """Theta-method forecast (classic theta = 2, the M3 benchmark
    winner): average a linear-trend extrapolation with the SES of the
    theta-2 line (2 y_t minus the trend), which doubles local
    curvature so SES reacts while the trend half keeps the long-run
    drift:

        trend: a + b t (closed-form OLS on the period index)
        d_t   = 2 y_t - (a + b t)
        SES(d) with dyadic alpha = 1/2, init = d_1
        forecast_h = 0.5 (a + b (n + h)) + 0.5 SES

    Scale: one per-period integer aggregate; Sigma t / t^2 / t*y are
    exact integers from the same pass; the SES fold runs in period
    order over one calendar-bounded array (LIST_REDUCE-replayable —
    first element is the init, the fold covers the rest).

    Returns ``horizon`` rows: (h, trend_part, ses_level, forecast).
    """
    d38 = "decimal(38,0)"
    per = df.groupBy(F.col(time_col).alias("b")).agg(
        F.sum(F.col(value_col).cast("long")).cast("long").alias("y")
    )
    w = Window.orderBy("b")
    idx = per.select(
        F.row_number().over(w).cast("long").alias("t"), "y"
    )
    one = idx.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum((F.col("t").cast(d38) * F.col("t")).cast(d38))
        .cast(d38)
        .alias("stt"),
        F.sum((F.col("t").cast(d38) * F.col("y")).cast(d38))
        .cast(d38)
        .alias("sty"),
        F.array_sort(
            F.collect_list(
                F.struct("t", F.col("y").cast("double").alias("y"))
            )
        ).alias("__arr"),
    )
    nd = F.col("n").cast("double")
    b1 = (
        nd * F.col("sty").cast("double")
        - F.col("st").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("stt").cast("double")
        - F.col("st").cast("double") * F.col("st").cast("double")
    )
    a0 = (F.col("sy").cast("double") - b1 * F.col("st").cast("double")) / nd
    darr = F.transform(
        F.col("__arr"),
        lambda s: F.lit(2.0) * s["y"] - (a0 + b1 * s["t"].cast("double")),
    )
    ses = F.aggregate(
        F.slice(darr, 2, F.greatest(F.size(darr) - 1, F.lit(0))),
        F.element_at(darr, 1),
        lambda acc, x: x * F.lit(0.5) + acc * F.lit(0.5),
    )
    st = one.select(
        "n", a0.alias("a"), b1.alias("bb"), ses.alias("ses_level")
    )
    hs = st.select(
        "*", F.explode(F.sequence(F.lit(1), F.lit(int(horizon)))).alias("h")
    )
    trend_part = F.col("a") + F.col("bb") * (
        F.col("n").cast("double") + F.col("h").cast("double")
    )
    return hs.select(
        F.col("h").cast("long").alias("h"),
        trend_part.alias("trend_part"),
        F.col("ses_level"),
        (
            F.lit(0.5) * trend_part + F.lit(0.5) * F.col("ses_level")
        ).alias("forecast"),
    )


def granger_1lag(
    df: DataFrame,
    time_col: str,
    y_col: str,
    x_col: str,
) -> DataFrame:
    """One-lag Granger predictive-causality screen: does yesterday's X
    help predict today's Y beyond yesterday's Y? Restricted model
    y_t ~ y_{t-1} vs unrestricted y_t ~ y_{t-1} + x_{t-1}:

        F = (SSE_r - SSE_u) / (SSE_u / (n - 3))

    The F STATISTIC and both R²s are reported; no p-value (the F
    distribution has no elementary closed form — the even-df chi2 /
    normal_sf conventions don't reach it; judge the statistic against
    the caller's critical value).

    Scale: one LAG window over the period table (calendar-bounded)
    builds (y, y1, x1) rows; one exact-decimal moment aggregate feeds
    both fits (the restricted model reuses the same moments), so the
    whole test is two fixed Cramer trees over one pass.

    Returns one row: (n_rows, sse_r, sse_u, r2_r, r2_u, f_stat).
    """
    w = Window.orderBy("t")
    base = df.select(
        F.col(time_col).alias("t"),
        F.col(y_col).cast("long").alias("yv"),
        F.col(x_col).cast("long").alias("xv"),
    )
    lagged = base.select(
        F.col("yv").alias("y"),
        F.lag("yv", 1).over(w).alias("y1"),
        F.lag("xv", 1).over(w).alias("x1"),
    ).filter(F.col("y1").isNotNull() & F.col("x1").isNotNull())
    d18 = "decimal(18,0)"
    y = F.col("y").cast(d18)
    x1 = F.col("y1").cast(d18)
    x2 = F.col("x1").cast(d18)
    m = lagged.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x1 * x1).cast("decimal(38,0)")).cast("double").alias("s11"),
        F.sum((x1 * x2).cast("decimal(38,0)")).cast("double").alias("s12"),
        F.sum((x2 * x2).cast("decimal(38,0)")).cast("double").alias("s22"),
        F.sum((x1 * y).cast("decimal(38,0)")).cast("double").alias("s1y"),
        F.sum((x2 * y).cast("decimal(38,0)")).cast("double").alias("s2y"),
        F.sum((y * y).cast("decimal(38,0)")).cast("double").alias("syy"),
    )
    n = F.col("n_rows").cast("double")
    s1, s2, sy = F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    # restricted: y ~ a + b*y1 (simple OLS)
    br = (n * s1y - s1 * sy) / (n * s11 - s1 * s1)
    ar = (sy - br * s1) / n
    sse_r = syy - ar * sy - br * s1y
    # unrestricted: y ~ a + b1*y1 + b2*x1 (Cramer, the q265 tree)
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
    sse_u = (
        syy
        - (det0 / det) * sy
        - (det1 / det) * s1y
        - (det2 / det) * s2y
    )
    sst = syy - sy * sy / n
    f_stat = (sse_r - sse_u) / (sse_u / (n - F.lit(3.0)))
    return m.select(
        "n_rows",
        sse_r.alias("sse_r"),
        sse_u.alias("sse_u"),
        (F.lit(1.0) - sse_r / sst).alias("r2_r"),
        (F.lit(1.0) - sse_u / sst).alias("r2_u"),
        f_stat.alias("f_stat"),
    )


def turning_points_test(
    df: DataFrame,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Turning-point randomness test over an ordered series — "does
    this KPI wiggle like noise or drift like a trend?": count strict
    local extrema (peaks + troughs) among interior points; for an
    i.i.d. series

        E[T] = 2(n-2)/3,  Var[T] = (16n - 29)/90,
        z = (T - E) / sqrt(Var),  p = 2 normal_sf(|z|)

    (too FEW turning points = trending, too many = oscillating — the
    complement of q410's runs test, which sees signs, not extrema).
    Tied neighbors are not extrema (strict inequalities; pinned by
    test).

    Scale: one lag/lead window over the period table; exact integer
    count; fixed double z tree; p rounds per the normal_sf contract.

    Returns one row: (n_obs, n_turning, expected, z, p_value).
    """
    from .experiments import normal_sf

    w = Window.orderBy("t")
    base = df.select(
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("v"),
    )
    tri = base.select(
        F.lag("v", 1).over(w).alias("a"),
        F.col("v").alias("b"),
        F.lead("v", 1).over(w).alias("c"),
    ).filter(F.col("a").isNotNull() & F.col("c").isNotNull())
    turn = (
        (F.col("b") > F.col("a")) & (F.col("b") > F.col("c"))
    ) | ((F.col("b") < F.col("a")) & (F.col("b") < F.col("c")))
    agg = tri.agg(
        (F.count("*") + F.lit(2)).cast("long").alias("n_obs"),
        F.sum(turn.cast("int")).cast("long").alias("n_turning"),
    )
    n = F.col("n_obs").cast("double")
    e = F.lit(2.0) * (n - F.lit(2.0)) / F.lit(3.0)
    var = (F.lit(16.0) * n - F.lit(29.0)) / F.lit(90.0)
    z = (F.col("n_turning").cast("double") - e) / F.sqrt(var)
    return agg.select(
        "n_obs",
        "n_turning",
        e.alias("expected"),
        z.alias("z"),
        (F.lit(2.0) * normal_sf(F.abs(z))).alias("p_value"),
    )


def chow_test(
    df: DataFrame,
    y_col,
    x1_col,
    x2_col,
    split_cond: Column,
    scale: int = 2,
) -> DataFrame:
    """Chow structural-break test for the 2-feature OLS: did the
    COEFFICIENTS change across a known break (``split_cond`` rows vs
    the rest)? Pooled fit vs separate fits:

        F = ((SSE_p - SSE_1 - SSE_2) / k) / ((SSE_1 + SSE_2) / (n - 2k))

    with k = 3 parameters. Statistic-only (no elementary F-dist — the
    granger_1lag convention). Distinct from goldfeld_quandt: GQ
    compares residual VARIANCE between regimes under one set of
    coefficients; Chow asks whether one set of coefficients even fits
    both regimes.

    Scale: ONE conditional exact-moment aggregate (20 sums — pooled
    moments are the regime sums added, no third pass); three Cramer
    trees.

    Returns one row: (n_1, n_2, sse_pooled, sse_1, sse_2, f_stat).
    """
    d = f"decimal(18,{scale})"
    y, x1, x2 = _c2(y_col).cast(d), _c2(x1_col).cast(d), _c2(x2_col).cast(d)

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

    agg = df.agg(*moments(split_cond, "a_"), *moments(~split_cond, "b_"))

    def sse(nc, cols) -> Column:
        n, s1, s2, sy, s11, s12, s22, s1y, s2y, syy = cols
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

    def cols(tag: str):
        return [
            F.col(f"{tag}n").cast("double"),
            F.col(f"{tag}s1"), F.col(f"{tag}s2"), F.col(f"{tag}sy"),
            F.col(f"{tag}s11"), F.col(f"{tag}s12"), F.col(f"{tag}s22"),
            F.col(f"{tag}s1y"), F.col(f"{tag}s2y"), F.col(f"{tag}syy"),
        ]

    a, b = cols("a_"), cols("b_")
    pooled = [a[0] + b[0]] + [ax + bx for ax, bx in zip(a[1:], b[1:])]
    sse_1, sse_2, sse_p = sse(a[0], a), sse(b[0], b), sse(pooled[0], pooled)
    n = a[0] + b[0]
    f_stat = ((sse_p - sse_1 - sse_2) / F.lit(3.0)) / (
        (sse_1 + sse_2) / (n - F.lit(6.0))
    )
    return agg.select(
        F.col("a_n").alias("n_1"),
        F.col("b_n").alias("n_2"),
        sse_p.alias("sse_pooled"),
        sse_1.alias("sse_1"),
        sse_2.alias("sse_2"),
        f_stat.alias("f_stat"),
    )


def _c2(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def rsi_state(
    df: DataFrame,
    time_col: str,
    value_col: str,
    alpha: float = 0.25,
) -> DataFrame:
    """Relative Strength Index terminal state — Wilder's
    smoothed-gain/loss momentum oscillator over an integer series:

        g_t = max(v_t - v_{t-1}, 0),  l_t = max(v_{t-1} - v_t, 0)
        AG' = alpha g + (1-alpha) AG,  AL' = alpha l + (1-alpha) AL
        RSI = 100 AG / (AG + AL)

    (alpha = 1/period in Wilder's formulation). Init: AG/AL = first
    delta's gain/loss (pinned by test). RSI > 70-ish = overbought
    run-up, < 30 = washed out — the mean-reversion screen beside
    q476's Bollinger bands.

    Scale: one lag window over the period table, integer deltas, one
    (AG, AL) ordered fold (recursive-CTE replayable).

    Returns one row: (n_deltas, avg_gain, avg_loss, rsi).
    """
    w = Window.orderBy("t")
    base = df.select(
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("v"),
    )
    deltas = base.select(
        "t", (F.col("v") - F.lag("v", 1).over(w)).alias("d")
    ).filter(F.col("d").isNotNull())
    ev = deltas.select(
        F.struct(
            "t",
            F.greatest(F.col("d"), F.lit(0)).cast("double").alias("g"),
            F.greatest(-F.col("d"), F.lit(0)).cast("double").alias("l"),
        ).alias("__e")
    )
    one = ev.agg(
        F.array_sort(F.collect_list("__e")).alias("__arr"),
        F.count("*").cast("long").alias("n_deltas"),
    )
    a = float(alpha)
    acc0 = F.struct(
        F.lit(None).cast("double").alias("ag"),
        F.lit(None).cast("double").alias("al"),
    )

    def step(acc, x):
        return F.when(
            acc["ag"].isNull(),
            F.struct(x["g"].alias("ag"), x["l"].alias("al")),
        ).otherwise(
            F.struct(
                (x["g"] * F.lit(a) + acc["ag"] * F.lit(1.0 - a)).alias("ag"),
                (x["l"] * F.lit(a) + acc["al"] * F.lit(1.0 - a)).alias("al"),
            )
        )

    fold = F.aggregate(F.col("__arr"), acc0, step)
    return one.select(
        "n_deltas",
        fold["ag"].alias("avg_gain"),
        fold["al"].alias("avg_loss"),
        (
            F.lit(100.0) * fold["ag"] / (fold["ag"] + fold["al"])
        ).alias("rsi"),
    )


def macd_state(
    df: DataFrame,
    time_col: str,
    value_col: str,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
) -> DataFrame:
    """MACD terminal state — the fast-minus-slow EMA momentum spread
    plus its signal EMA:

        alpha_k = 2 / (k + 1)
        e_f' = v a_f + e_f (1 - a_f);  e_s' = v a_s + e_s (1 - a_s)
        macd = e_f' - e_s';  sig' = macd a_g + sig (1 - a_g)

    Init: both EMAs = first value (macd_1 = 0, signal_1 = 0 — pinned
    by test). histogram = macd - signal: positive and rising = upward
    momentum building; sign flips are the classic crossover signal.

    Scale: ONE ordered fold carrying (e_f, e_s, sig) over the
    calendar-bounded period array; recursive-CTE replayable.

    Returns one row: (n_periods, ema_fast, ema_slow, macd,
    signal_line, histogram).
    """
    af = 2.0 / (float(fast) + 1.0)
    asl = 2.0 / (float(slow) + 1.0)
    ag = 2.0 / (float(signal) + 1.0)
    base = df.select(
        F.col(time_col).alias("t"),
        F.col(value_col).cast("double").alias("v"),
    )
    one = base.agg(
        F.array_sort(
            F.collect_list(F.struct("t", F.col("v").alias("v")))
        ).alias("__arr"),
        F.count("*").cast("long").alias("n_periods"),
    )
    acc0 = F.struct(
        F.lit(None).cast("double").alias("ef"),
        F.lit(None).cast("double").alias("es"),
        F.lit(None).cast("double").alias("sig"),
    )

    def step(acc, x):
        ef = x["v"] * F.lit(af) + acc["ef"] * F.lit(1.0 - af)
        es = x["v"] * F.lit(asl) + acc["es"] * F.lit(1.0 - asl)
        m = ef - es
        return F.when(
            acc["ef"].isNull(),
            F.struct(
                x["v"].alias("ef"),
                x["v"].alias("es"),
                F.lit(0.0).alias("sig"),
            ),
        ).otherwise(
            F.struct(
                ef.alias("ef"),
                es.alias("es"),
                (m * F.lit(ag) + acc["sig"] * F.lit(1.0 - ag)).alias("sig"),
            )
        )

    fold = F.aggregate(F.col("__arr"), acc0, step)
    macd = fold["ef"] - fold["es"]
    return one.select(
        "n_periods",
        fold["ef"].alias("ema_fast"),
        fold["es"].alias("ema_slow"),
        macd.alias("macd"),
        fold["sig"].alias("signal_line"),
        (macd - fold["sig"]).alias("histogram"),
    )


def safety_stock(
    df: DataFrame,
    group_col: str,
    time_col: str,
    demand_col: str,
    lead_time: int = 7,
    z: float = 1.645,
) -> DataFrame:
    """Per-group safety stock + reorder point from demand-day
    statistics — the classic inventory-control readout:

        sigma_d = sample sd of per-period demand
        safety  = z * sigma_d * sqrt(L)
        reorder = mu_d * L + safety

    (z = 1.645 for a 95% cycle service level; L in periods.) Stats
    run over OBSERVED demand periods — zero-demand periods are not
    imputed (demand-day convention, documented; join a date spine
    upstream for calendar-day semantics).

    Scale: one (group, period) integer aggregate then one grouped
    exact-moment pass — both map-side combinable; the readout is a
    fixed +,-,*,/,sqrt tree per group.

    Returns one row per group: (grp, n_periods, mu, sigma,
    safety_stock, reorder_point).
    """
    d38 = "decimal(38,0)"
    per = df.groupBy(
        F.col(group_col).alias("grp"), F.col(time_col).alias("t")
    ).agg(F.sum(F.col(demand_col).cast("long")).cast("long").alias("q"))
    m = per.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_periods"),
        F.sum("q").cast("long").alias("s"),
        F.sum((F.col("q").cast(d38) * F.col("q")).cast(d38))
        .cast(d38)
        .alias("ss"),
    )
    nd = F.col("n_periods").cast("double")
    mu = F.col("s").cast("double") / nd
    sigma = F.sqrt(
        (
            nd * F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double")
        )
        / (nd * (nd - F.lit(1.0)))
    )
    saf = F.lit(float(z)) * sigma * F.sqrt(F.lit(float(lead_time)))
    return m.select(
        "grp",
        "n_periods",
        mu.alias("mu"),
        sigma.alias("sigma"),
        saf.alias("safety_stock"),
        (mu * F.lit(float(lead_time)) + saf).alias("reorder_point"),
    )


def ltv_curve(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    value_col: str,
    max_age: int = 12,
) -> DataFrame:
    """Cohort lifetime-value curve: entities grouped by FIRST-activity
    month, then average CUMULATIVE value per entity at each month age
    — the revenue reading of the retention triangle (q112 counts who
    comes back; this prices what they're worth by age):

        ltv(cohort, age) = sum of cohort value in months <= age
                           / cohort size

    Activity beyond ``max_age`` months after first activity is
    EXCLUDED (the curve is truncated at the horizon, not folded into
    the last bucket): the cumulative value at the last emitted age
    covers exactly months 0..max_age. Callers wanting whole-life
    totals in the tail bucket should clamp the age upstream.

    Scale: one (entity) min-month pass, one (cohort, age) grouped
    integer aggregate, and a cumulative window over the
    cohort-x-age table (calendar-bounded). Exact integer sums; the
    per-entity average is one fixed ratio.

    Returns (cohort, age, n_entities, cum_value_c, ltv_c) rows.
    """
    per = df.select(
        F.col(entity_col).alias("e"),
        F.date_trunc("month", F.col(time_col)).cast("date").alias("m"),
        F.col(value_col).cast("long").alias("v"),
    )
    first = per.groupBy("e").agg(F.min("m").alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count("*").cast("long").alias("n_entities")
    )
    j = per.join(first, "e").select(
        "cohort",
        (
            (F.year("m") - F.year("cohort")) * 12
            + (F.month("m") - F.month("cohort"))
        )
        .cast("long")
        .alias("age"),
        "v",
    ).filter(F.col("age") <= int(max_age))
    cell = j.groupBy("cohort", "age").agg(
        F.sum("v").cast("long").alias("mv")
    )
    w = Window.partitionBy("cohort").orderBy("age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cell.select(
        "cohort", "age",
        F.sum("mv").over(w).cast("long").alias("cum_value_c"),
    )
    out = cum.join(sizes, "cohort")
    return out.select(
        "cohort",
        "age",
        "n_entities",
        "cum_value_c",
        (
            F.col("cum_value_c").cast("double")
            / F.col("n_entities").cast("double")
        ).alias("ltv_c"),
    )


def control_rules(
    df: DataFrame,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Western Electric control-chart rule screen over a period series
    vs its GLOBAL mean/sigma (population): the run-pattern alarms a
    single-point sigma rule (q128) and an adaptive band (q476) both
    miss —

        rule 1: the point is beyond 3 sigma
        rule 2: 2 of the last 3 points beyond 2 sigma, same side
        rule 3: 4 of the last 5 points beyond 1 sigma, same side
        rule 4: 8 consecutive points on the same side of the mean

    Sigma thresholds compare n-scaled INTEGER deviations against
    integer variance bounds: point v with deviation d = n*v - S is
    beyond k sigma iff d^2 > k^2 * (n*SS - S^2), since d^2 =
    n^2 (v - mean)^2 and n*SS - S^2 = n^2 var_pop (strict; exact
    integers — no float boundary anywhere).

    Scale: one total-moment pass broadcast back, lag windows over the
    calendar-bounded period table. Returns flagged rows only:
    (t, v, rule1, rule2, rule3, rule4).
    """
    d38 = "decimal(38,0)"
    base = df.select(
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("v"),
    )
    tot = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum((F.col("v").cast(d38) * F.col("v")).cast(d38))
        .cast(d38)
        .alias("ss"),
    )
    j = base.crossJoin(F.broadcast(tot))
    dev = (F.col("n") * F.col("v") - F.col("s")).cast(d38)
    varn = (
        F.col("n").cast(d38) * F.col("ss")
        - F.col("s").cast(d38) * F.col("s")
    ).cast(d38)

    def beyond(k: int):
        return (dev * dev).cast(d38) > F.lit(k * k) * varn

    sided = j.select(
        "t",
        "v",
        F.when(dev > 0, 1).when(dev < 0, -1).otherwise(0).alias("side"),
        beyond(3).cast("int").alias("b3"),
        (beyond(2) & (dev > 0)).cast("int").alias("b2p"),
        (beyond(2) & (dev < 0)).cast("int").alias("b2n"),
        (beyond(1) & (dev > 0)).cast("int").alias("b1p"),
        (beyond(1) & (dev < 0)).cast("int").alias("b1n"),
        (dev > 0).cast("int").alias("sp"),
        (dev < 0).cast("int").alias("sn"),
    )
    w3 = Window.orderBy("t").rowsBetween(-2, 0)
    w5 = Window.orderBy("t").rowsBetween(-4, 0)
    w8 = Window.orderBy("t").rowsBetween(-7, 0)
    flags = sided.select(
        "t",
        "v",
        (F.col("b3") == 1).alias("rule1"),
        (
            (F.sum("b2p").over(w3) >= 2) | (F.sum("b2n").over(w3) >= 2)
        ).alias("rule2"),
        (
            (F.sum("b1p").over(w5) >= 4) | (F.sum("b1n").over(w5) >= 4)
        ).alias("rule3"),
        (
            (F.sum("sp").over(w8) == 8) | (F.sum("sn").over(w8) == 8)
        ).alias("rule4"),
    )
    return flags.filter(
        F.col("rule1") | F.col("rule2") | F.col("rule3") | F.col("rule4")
    )


def interarrival_burstiness(
    df: DataFrame,
    group_col: str,
    entity_col: str,
    time_col: str,
) -> DataFrame:
    """Per-group burstiness of entity inter-event gaps — "do orders
    arrive like clockwork or in bursts?", the event-gap sibling of
    the term-burstiness monitor (q435):

        B = (CV - 1) / (CV + 1),  CV = sd(gap) / mean(gap)

    B near -1 = periodic, 0 = Poisson, toward +1 = bursty. Gaps are
    per-entity day differences (lag over the entity's events), pooled
    per group with exact integer moments; CV/B are fixed
    +,-,*,/,sqrt trees.

    POSITIVE-GAP CONVENTION: the series is day-grained, so zero-day
    gaps (same-day repeat events) are EXCLUDED from the CV — a zero
    gap is a sub-resolution tie at this grain, not a measured
    interarrival, and keeping it would drive mean_gap toward 0 and
    make CV unstable. Callers who want same-day bursts measured must
    pre-aggregate to a finer time grain upstream (mirror of the
    demand-day convention in :func:`safety_stock`); note the
    exclusion biases B downward for traffic with heavy same-day
    repetition.

    Returns one row per group: (grp, n_gaps, mean_gap, cv,
    burstiness).
    """
    d38 = "decimal(38,0)"
    w = Window.partitionBy("e").orderBy("d", "tb")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(entity_col).alias("e"),
        F.col(time_col).cast("date").alias("d"),
        F.col(time_col).alias("tb"),
    )
    gaps = base.select(
        "grp",
        F.datediff(F.col("d"), F.lag("d", 1).over(w)).cast("long").alias(
            "g"
        ),
    ).filter(F.col("g").isNotNull() & (F.col("g") > 0))
    m = gaps.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("s"),
        F.sum((F.col("g").cast(d38) * F.col("g")).cast(d38))
        .cast(d38)
        .alias("ss"),
    )
    n = F.col("n_gaps").cast("double")
    mean = F.col("s").cast("double") / n
    sd = F.sqrt(
        (
            n * F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double")
        )
    ) / n
    cv = sd / mean
    return m.select(
        "grp",
        "n_gaps",
        mean.alias("mean_gap"),
        cv.alias("cv"),
        ((cv - F.lit(1.0)) / (cv + F.lit(1.0))).alias("burstiness"),
    )


def overdispersion_test(
    df: DataFrame,
    time_col: str,
    count_col: str,
) -> DataFrame:
    """Poisson overdispersion screen for a count series — "is this
    count KPI Poisson, or clumpier?" (the variance-mean question the
    i.i.d.-rate assumptions in q441's two-rate test and burn-rate
    monitors stand on):

        D = (n - 1) s^2 / xbar        (~ chi2 with n-1 df under H0)
        z = sqrt(2 D) - sqrt(2 (n-1) - 1)

    (the classic sqrt normal approximation for large-df chi-square —
    no parity constraint, unlike the elementary even-df series);
    two-sided p from normal_sf; callers round per the contract.

    Scale: one grouped integer pass; fixed sqrt trees. Returns one
    row: (n_periods, mean_count, var_count, dispersion_index, d_stat,
    z, p_value).
    """
    from .experiments import normal_sf

    d38 = "decimal(38,0)"
    per = df.groupBy(F.col(time_col).alias("t")).agg(
        F.sum(F.col(count_col).cast("long")).cast("long").alias("c")
    )
    m = per.agg(
        F.count("*").cast("long").alias("n_periods"),
        F.sum("c").cast("long").alias("s"),
        F.sum((F.col("c").cast(d38) * F.col("c")).cast(d38))
        .cast(d38)
        .alias("ss"),
    )
    n = F.col("n_periods").cast("double")
    mean = F.col("s").cast("double") / n
    var = (
        n * F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
    ) / (n * (n - F.lit(1.0)))
    dstat = (n - F.lit(1.0)) * var / mean
    z = F.sqrt(F.lit(2.0) * dstat) - F.sqrt(
        F.lit(2.0) * (n - F.lit(1.0)) - F.lit(1.0)
    )
    return m.select(
        "n_periods",
        mean.alias("mean_count"),
        var.alias("var_count"),
        (var / mean).alias("dispersion_index"),
        dstat.alias("d_stat"),
        z.alias("z"),
        (F.lit(2.0) * normal_sf(F.abs(z))).alias("p_value"),
    )


def forecast_backtest(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    season: int = 12,
) -> DataFrame:
    """Rolling-origin backtest of the SEASONAL-NAIVE forecaster over a
    per-(group, period) integer series — the forecast-accuracy
    scorecard (MAE / RMSE / MAPE / sMAPE / MASE) every demand-planning
    pipeline publishes before trusting a model. Seasonal-naive
    (f_t = a_{t-season}) is the standard benchmark: MASE scales the
    model error by the in-sample ONE-step naive MAE, so MASE < 1
    means "beats naive", comparable across series of any magnitude
    (Hyndman & Koehler 2006 semantics).

    Periods are ROW positions in time order within the group (the
    series is assumed regular — aggregate to a calendar grain
    upstream); the first ``season`` rows are warm-up (no forecast) and
    the MASE denominator averages |a_t - a_{t-1}| over t >= 2.

    Determinism: errors are exact integers, so MAE / RMSE / MASE are
    fixed ratio/sqrt trees over integer sums. MAPE and sMAPE sum
    per-row RATIOS of integers (order-dependent in double), so both
    fold a bounded per-group array in time order (post-aggregate
    contract: periods per group are calendar-bounded, e.g. ~84 months
    for 7 years — same family as the EWMA/Holt folds).

    Returns one row per group: (grp, n_periods, n_evals, mae, rmse,
    mape, smape, mase).
    """
    d38 = "decimal(38,0)"
    w = Window.partitionBy("grp").orderBy("t")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("a"),
    )
    lagged = base.select(
        "grp",
        "t",
        "a",
        F.lag("a", int(season)).over(w).alias("f"),
        F.lag("a", 1).over(w).alias("prev"),
    )
    e = F.col("a") - F.col("f")
    ae = F.abs(e)
    denom = (F.abs(F.col("f")) + F.abs(F.col("a"))).cast("double")
    per = lagged.select(
        "grp",
        "t",
        "a",
        "f",
        "prev",
        F.when(F.col("f").isNotNull(), ae).cast("long").alias("ae"),
        F.when(F.col("f").isNotNull(), (e.cast(d38) * e).cast(d38)).alias(
            "se"
        ),
        F.when(F.col("prev").isNotNull(), F.abs(F.col("a") - F.col("prev")))
        .cast("long")
        .alias("nae"),
        F.when(
            F.col("f").isNotNull(),
            F.struct(
                F.col("t").alias("k"),
                F.when(
                    F.col("a") != 0,
                    ae.cast("double") / F.abs(F.col("a")).cast("double"),
                )
                .otherwise(F.lit(0.0))
                .alias("apr"),
                F.when(
                    denom > 0, F.lit(2.0) * ae.cast("double") / denom
                )
                .otherwise(F.lit(0.0))
                .alias("spr"),
            ),
        ).alias("__r"),
    )
    agg = per.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_periods"),
        F.count("ae").cast("long").alias("n_evals"),
        F.sum("ae").cast("long").alias("sae"),
        F.sum("se").cast(d38).alias("sse"),
        F.count("nae").cast("long").alias("n_naive"),
        F.sum("nae").cast("long").alias("snae"),
        F.array_sort(F.collect_list("__r")).alias("__arr"),
    )
    ne = F.col("n_evals").cast("double")
    mae = F.col("sae").cast("double") / ne
    rmse = F.sqrt(F.col("sse").cast("double") / ne)
    mape = (
        F.aggregate(F.col("__arr"), F.lit(0.0), lambda a, x: a + x["apr"])
        / ne
    )
    smape = (
        F.aggregate(F.col("__arr"), F.lit(0.0), lambda a, x: a + x["spr"])
        / ne
    )
    naive_mae = F.col("snae").cast("double") / F.col("n_naive").cast(
        "double"
    )
    return agg.select(
        "grp",
        "n_periods",
        "n_evals",
        mae.alias("mae"),
        rmse.alias("rmse"),
        mape.alias("mape"),
        smape.alias("smape"),
        F.when(F.col("snae") > 0, mae / naive_mae).alias("mase"),
    )


def newsvendor_policy(
    df: DataFrame,
    group_col: str,
    value_col: str,
    cu: int,
    co: int,
) -> DataFrame:
    """Newsvendor order quantity from an empirical demand sample: per
    group, the critical-fractile optimum q* = F^-1(cu / (cu + co))
    over the observed per-period demands (cu = unit underage cost,
    co = unit overage cost) plus the empirical expected cost at q* —
    the single-period stocking decision safety_stock's normal
    approximation sidesteps (this one is distribution-free).

    q* is the k-th smallest demand with k = ceil(n * cu / (cu + co))
    — EXACT integer rank arithmetic, no float quantile. The rank
    lookup is a per-group ordered row_number window (periods per
    group are calendar-bounded — post-aggregate contract), then one
    broadcast-join back for the cost aggregate: expected cost
    = (co * sum(max(q*-d, 0)) + cu * sum(max(d-q*, 0))) / n, all
    integers until the final ratio.

    Ties: k-th order statistic with duplicate demands is still the
    k-th row in (demand, period-rank) order — deterministic.

    Returns (grp, n_periods, k_rank, q_star, over_units, under_units,
    exp_cost).
    """
    cu_i, co_i = int(cu), int(co)
    if cu_i <= 0 or co_i <= 0:
        raise ValueError("cu and co must be positive integers")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("long").alias("d"),
    )
    w = Window.partitionBy("grp").orderBy("d")
    ranked = base.select(
        "grp", "d", F.row_number().over(w).alias("rn")
    )
    sizes = base.groupBy("grp").agg(F.count("*").cast("long").alias("n"))
    # k = ceil(n * cu / (cu + co)) in pure integers
    k = F.floor(
        (F.col("n") * F.lit(cu_i) + F.lit(cu_i + co_i - 1))
        / F.lit(cu_i + co_i)
    ).cast("long")
    pick = sizes.select("grp", "n", k.alias("k_rank"))
    qstar = (
        ranked.join(F.broadcast(pick), "grp")
        .filter(F.col("rn") == F.col("k_rank"))
        .select("grp", "n", "k_rank", F.col("d").alias("q_star"))
    )
    cost = (
        base.join(F.broadcast(qstar), "grp")
        .groupBy("grp", "n", "k_rank", "q_star")
        .agg(
            F.sum(F.greatest(F.col("q_star") - F.col("d"), F.lit(0)))
            .cast("long")
            .alias("over_units"),
            F.sum(F.greatest(F.col("d") - F.col("q_star"), F.lit(0)))
            .cast("long")
            .alias("under_units"),
        )
    )
    return cost.select(
        "grp",
        F.col("n").alias("n_periods"),
        "k_rank",
        "q_star",
        "over_units",
        "under_units",
        (
            (
                F.lit(co_i) * F.col("over_units")
                + F.lit(cu_i) * F.col("under_units")
            ).cast("double")
            / F.col("n").cast("double")
        ).alias("exp_cost"),
    )


def eoq_policy(
    df: DataFrame,
    group_col: str,
    value_col: str,
    order_cost_c: int,
    holding_cost_c: int,
) -> DataFrame:
    """Economic order quantity per group from total observed demand:
    EOQ = sqrt(2 D K / h) with D the demand sum, K the fixed cost per
    order (cents) and h the holding cost per unit per horizon (cents)
    — the classic Wilson lot-size formula, plus the implied order
    count D / EOQ and the optimal total ordering+holding cost
    sqrt(2 D K h) over the horizon.

    One map-side-combinable integer aggregate per group; EOQ and the
    cost readouts are fixed sqrt trees over exact integers.

    Returns (grp, demand, eoq_units, n_orders, cycle_cost_c).
    """
    k_i, h_i = int(order_cost_c), int(holding_cost_c)
    if k_i <= 0 or h_i <= 0:
        raise ValueError("order and holding costs must be positive")
    m = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("long").alias("d"),
        )
        .groupBy("grp")
        .agg(F.sum("d").cast("long").alias("demand"))
    )
    dd = F.col("demand").cast("double")
    eoq = F.sqrt(F.lit(2.0) * dd * F.lit(float(k_i)) / F.lit(float(h_i)))
    return m.select(
        "grp",
        "demand",
        eoq.alias("eoq_units"),
        (dd / eoq).alias("n_orders"),
        F.sqrt(F.lit(2.0) * dd * F.lit(float(k_i)) * F.lit(float(h_i))).alias(
            "cycle_cost_c"
        ),
    )


def erlang_c_staffing(
    df: DataFrame,
    group_col: str,
    count_col: str,
    service_time: float,
    c_max: int = 40,
    target_wait_prob: float = 0.2,
) -> DataFrame:
    """Erlang-C staffing table: per group, the arrival rate over the
    period rows, the offered load a = lambda * service_time, and the
    SMALLEST agent count c <= ``c_max`` whose M/M/c probability of
    wait meets ``target_wait_prob`` — the call-center / worker-pool
    sizing readout (how many parallel consumers does this queue
    need?).

    Erlang B runs the classic one-pass recursion B(c) =
    a B(c-1) / (c + a B(c-1)) from B(0) = 1; Erlang C converts
    P_wait(c) = c B / (c - a (1 - B)) for c > a (an unstable queue,
    c <= a, waits with probability 1). The scan is ONE in-row
    ``aggregate`` fold over sequence(1..c_max) carrying
    (B, c_star, pw) in a struct — a fixed, engine-identical chain of
    IEEE +,*,/ ops (the EWMA fold family), evaluated per GROUP row,
    never a shuffle. lambda is an exact integer ratio
    (arrivals / n_periods).

    Returns (grp, n_periods, arrivals, lam, offered_load, c_star,
    wait_prob); c_star / wait_prob are NULL when even c_max misses
    the target.
    """
    cm = int(c_max)
    if cm < 1:
        raise ValueError("c_max must be >= 1")
    s = float(service_time)
    if s <= 0:
        raise ValueError("service_time must be positive")
    tgt = float(target_wait_prob)
    m = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(count_col).cast("long").alias("c"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_periods"),
            F.sum("c").cast("long").alias("arrivals"),
        )
    )
    lam = F.col("arrivals").cast("double") / F.col("n_periods").cast(
        "double"
    )
    base = m.select("grp", "n_periods", "arrivals", lam.alias("lam"))
    a = F.col("lam") * F.lit(s)
    withload = base.select(
        "grp", "n_periods", "arrivals", "lam", a.alias("offered_load")
    )

    def step(acc, c):
        al = F.col("offered_load")
        cd = c.cast("double")
        b = al * acc["b"] / (cd + al * acc["b"])
        pw = F.when(al < cd, cd * b / (cd - al * (F.lit(1.0) - b))).otherwise(
            F.lit(1.0)
        )
        hit = (acc["cs"] == 0) & (al < cd) & (pw <= F.lit(tgt))
        return F.struct(
            b.alias("b"),
            F.when(hit, c.cast("long")).otherwise(acc["cs"]).alias("cs"),
            F.when(hit, pw).otherwise(acc["pw"]).alias("pw"),
        )

    init = F.struct(
        F.lit(1.0).alias("b"),
        F.lit(0).cast("long").alias("cs"),
        F.lit(0.0).alias("pw"),
    )
    folded = withload.select(
        "grp",
        "n_periods",
        "arrivals",
        "lam",
        "offered_load",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(cm)), init, step
        ).alias("__f"),
    )
    return folded.select(
        "grp",
        "n_periods",
        "arrivals",
        "lam",
        "offered_load",
        F.when(F.col("__f.cs") > 0, F.col("__f.cs")).alias("c_star"),
        F.when(F.col("__f.cs") > 0, F.col("__f.pw")).alias("wait_prob"),
    )


def little_law_audit(
    df: DataFrame,
    group_col: str,
    start_col: str,
    end_col: str,
    window_start: str,
    window_end: str,
) -> DataFrame:
    """Little's-law consistency audit over an interval table: per
    group, measure L (time-average work-in-progress over a FIXED
    audit window), lambda (arrival rate into the window) and W (mean
    residence days of window arrivals), and report L / (lambda W).
    On a stationary system with no boundary truncation the ratio is
    exactly 1 (Little's law); the deviation quantifies edge effects
    and drift — the standard sanity check before trusting
    queue-length or latency dashboards.

    L integrates per-item overlap with the window
    (sum of clipped [start, end) day overlaps / window days) — one
    row-local clip expression + one integer aggregate, NO daily
    explode, so the cost is item count, not item-days. lambda and W
    count items ARRIVING inside the window (their full duration, the
    operational W reading). All sums are exact integers; the three
    readouts and the ratio are fixed ratio trees.

    Returns (grp, n_arrivals, window_days, l_avg, lam_per_day,
    w_days, little_ratio).
    """
    ws = F.lit(window_start).cast("date")
    we = F.lit(window_end).cast("date")
    wdays = F.datediff(we, ws) + 1
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(start_col).cast("date").alias("s"),
        F.col(end_col).cast("date").alias("e"),
    ).filter(F.col("e") >= F.col("s"))
    ov = (
        F.datediff(F.least(F.col("e"), we), F.greatest(F.col("s"), ws))
        + 1
    )
    arrived = (F.col("s") >= ws) & (F.col("s") <= we)
    per = base.select(
        "grp",
        F.greatest(ov, F.lit(0)).cast("long").alias("ov"),
        F.when(arrived, 1).otherwise(0).cast("long").alias("arr"),
        F.when(arrived, F.datediff(F.col("e"), F.col("s")) + 1)
        .cast("long")
        .alias("dur"),
    )
    agg = per.groupBy("grp").agg(
        F.sum("arr").cast("long").alias("n_arrivals"),
        F.sum("ov").cast("long").alias("sov"),
        F.sum("dur").cast("long").alias("sdur"),
    )
    wd = wdays.cast("double")
    l_avg = F.col("sov").cast("double") / wd
    lam = F.col("n_arrivals").cast("double") / wd
    w = F.col("sdur").cast("double") / F.col("n_arrivals").cast("double")
    return agg.select(
        "grp",
        "n_arrivals",
        wdays.cast("long").alias("window_days"),
        l_avg.alias("l_avg"),
        lam.alias("lam_per_day"),
        w.alias("w_days"),
        (l_avg / (lam * w)).alias("little_ratio"),
    )


def seasonal_mann_kendall(
    df: DataFrame,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Seasonal Mann-Kendall trend test (Hirsch-Slack): the MK sign
    statistic computed WITHIN each calendar month across years, then
    summed — so a 12-month seasonal cycle cannot masquerade as (or
    mask) a monotone multi-year trend the plain MK (q409) would
    misread:

        S = SUM_m SUM_{i<j} sign(v_{m,j} - v_{m,i})
        Var = SUM_m [n_m (n_m-1)(2 n_m+5) - SUM_t t(t-1)(2t+5)] / 18
        Z = (S -/+ 1) / sqrt(Var)   (continuity-corrected)

    The pairwise comparison is a per-season (year_i < year_j)
    self-join — bounded at (years choose 2) x 12 pairs, a metadata
    table for any calendar span (7 years = 252 pairs). S and the
    Var numerator (x18) are exact integers; z/p are fixed trees with
    p = 2 normal_sf(|z|).

    Expects one row per (month, year) — aggregate upstream. Returns
    one row: (n_seasons, n_pairs, s_stat, var_num18, z, p_value).
    """
    from .experiments import normal_sf

    base = df.select(
        F.month(F.col(time_col)).cast("long").alias("m"),
        F.year(F.col(time_col)).cast("long").alias("y"),
        F.col(value_col).cast("long").alias("v"),
    )
    a = base.alias("a")
    b = base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.m") == F.col("b.m")) & (F.col("a.y") < F.col("b.y")),
    ).select(
        F.signum((F.col("b.v") - F.col("a.v")).cast("double"))
        .cast("long")
        .alias("sgn")
    )
    sagg = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("sgn").cast("long").alias("s_stat"),
    )
    nm = base.groupBy("m").agg(F.count("*").cast("long").alias("n"))
    ties = (
        base.groupBy("m", "v")
        .agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("m")
        .agg(
            F.sum(
                F.col("t")
                * (F.col("t") - 1)
                * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tcorr")
        )
    )
    var_m = nm.join(ties, "m", "left").select(
        "m",
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.coalesce(F.col("tcorr"), F.lit(0))
        )
        .cast("long")
        .alias("vn18"),
    )
    vagg = var_m.agg(
        F.count("*").cast("long").alias("n_seasons"),
        F.sum("vn18").cast("long").alias("var_num18"),
    )
    one = sagg.crossJoin(F.broadcast(vagg))
    sd = F.col("s_stat").cast("double")
    var = F.col("var_num18").cast("double") / F.lit(18.0)
    z = (
        F.when(F.col("s_stat") > 0, (sd - F.lit(1.0)) / F.sqrt(var))
        .when(F.col("s_stat") < 0, (sd + F.lit(1.0)) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return one.select(
        "n_seasons",
        "n_pairs",
        "s_stat",
        "var_num18",
        z.alias("z"),
        (F.lit(2.0) * normal_sf(F.abs(z))).alias("p_value"),
    )


def pinball_loss(
    df: DataFrame,
    group_col: str,
    time_col: str,
    actual_col: str,
    forecast_col: str,
    quantiles: list[tuple[int, int]] = ((1, 2), (9, 10)),
) -> DataFrame:
    """Pinball (quantile) loss scorecard for quantile forecasts: for
    each target quantile q the loss of forecast f against actual a is

        L_q(a, f) = max(q (a - f), (q - 1) (a - f))

    — the strictly proper score for quantile predictions (a P90
    forecast judged by MAE looks "biased"; pinball is what it is
    actually optimizing). Quantiles are RATIONAL (num, den) pairs so
    the per-row loss scales to the exact integer
    den * L = max(num (a-f), (num-den)(a-f)); sums are exact and the
    mean is one final ratio — no float accumulation anywhere.

    One lag-free pass: rows with NULL forecast (warm-up) are skipped;
    the quantile axis is a literal explode of len(quantiles) structs
    (metadata). Returns one row per (group, quantile):
    (grp, q_num, q_den, n_evals, pinball).
    """
    qs = [(int(n), int(d)) for n, d in quantiles]
    for n, d in qs:
        if not (0 < n < d):
            raise ValueError(f"quantile {n}/{d} must be in (0, 1)")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(actual_col).cast("long").alias("a"),
        F.col(forecast_col).cast("long").alias("f"),
    ).filter(F.col("f").isNotNull())
    qarr = F.array(
        *[
            F.struct(
                F.lit(n).cast("long").alias("qn"),
                F.lit(d).cast("long").alias("qd"),
            )
            for n, d in qs
        ]
    )
    e = F.col("a") - F.col("f")
    per = base.withColumn("__q", F.explode(qarr)).select(
        "grp",
        F.col("__q.qn").alias("q_num"),
        F.col("__q.qd").alias("q_den"),
        F.greatest(
            F.col("__q.qn") * e,
            (F.col("__q.qn") - F.col("__q.qd")) * e,
        )
        .cast("long")
        .alias("sl"),
        F.col("__q.qd").alias("qd"),
    )
    agg = per.groupBy("grp", "q_num", "q_den").agg(
        F.count("*").cast("long").alias("n_evals"),
        F.sum("sl").cast("long").alias("ssl"),
    )
    return agg.select(
        "grp", "q_num", "q_den", "n_evals",
        (
            F.col("ssl").cast("double")
            / (F.col("n_evals") * F.col("q_den")).cast("double")
        ).alias("pinball"),
    )


def inventory_policy_sim(
    df: DataFrame,
    group_col: str,
    time_col: str,
    demand_col: str,
    s_reorder: int,
    s_target: int,
) -> DataFrame:
    """Deterministic (s, S) inventory policy replay over a per-period
    demand series: start at S; each period sell min(demand, on_hand)
    (unmet demand is LOST, not backordered); if the ending position
    drops below s, order up to S (delivered before the next period —
    zero lead; compose with safety_stock/q498 for lead-time buffers).
    Emits the service readouts a replenishment policy is judged by:
    fill rate, lost units, order count, average ending inventory.

        carry (on_hand, lost, orders, sum_end) — ALL integers

    The replay is an ordered per-group fold over the calendar-bounded
    period array (EWMA/Holt fold family; the oracle replays it as a
    recursive CTE stepping all groups in lockstep). One grouped
    collect per group — never a row window over raw data.

    Returns (grp, n_periods, total_demand, lost_units, fill_rate,
    n_orders, avg_end_inventory).
    """
    s_r, s_t = int(s_reorder), int(s_target)
    if not (0 <= s_r < s_t):
        raise ValueError("need 0 <= s_reorder < s_target")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(demand_col).cast("long").alias("d"),
    )
    per = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_periods"),
        F.sum("d").cast("long").alias("total_demand"),
        F.array_sort(
            F.collect_list(F.struct("t", "d"))
        ).alias("__arr"),
    )

    def step(acc, e):
        sold = F.least(e["d"], acc["oh"])
        lost = e["d"] - sold
        end = acc["oh"] - sold
        reorder = end < F.lit(s_r)
        return F.struct(
            F.when(reorder, F.lit(s_t).cast("long"))
            .otherwise(end)
            .alias("oh"),
            (acc["lost"] + lost).cast("long").alias("lost"),
            F.when(reorder, acc["orders"] + 1)
            .otherwise(acc["orders"])
            .cast("long")
            .alias("orders"),
            (acc["send"] + end).cast("long").alias("send"),
        )

    init = F.struct(
        F.lit(s_t).cast("long").alias("oh"),
        F.lit(0).cast("long").alias("lost"),
        F.lit(0).cast("long").alias("orders"),
        F.lit(0).cast("long").alias("send"),
    )
    folded = per.select(
        "grp", "n_periods", "total_demand",
        F.aggregate(F.col("__arr"), init, step).alias("__f"),
    )
    return folded.select(
        "grp", "n_periods", "total_demand",
        F.col("__f.lost").alias("lost_units"),
        (
            (F.col("total_demand") - F.col("__f.lost")).cast("double")
            / F.col("total_demand").cast("double")
        ).alias("fill_rate"),
        F.col("__f.orders").alias("n_orders"),
        (
            F.col("__f.send").cast("double")
            / F.col("n_periods").cast("double")
        ).alias("avg_end_inventory"),
    )


def kingman_wait(
    arrivals: DataFrame,
    services: DataFrame,
    group_col: str,
    count_col: str,
    dur_col: str,
    servers: int,
) -> DataFrame:
    """G/G/m mean-queue-wait approximation (Sakasegawa's form of the
    Kingman formula) from two observable aggregates — the
    back-of-envelope SLA model between q520's Markovian Erlang-C
    (assumes Poisson/exponential) and a full simulation:

        Wq ~= (ca2 + cs2) / 2
              * rho^(sqrt(2 (m + 1)) - 1) / (m (1 - rho)) * E[s]

    ca2 is the arrival burstiness read as the dispersion index of
    per-period counts (var/mean — Poisson = 1, the q515 statistic);
    cs2 the squared CV of service durations; rho = lambda E[s] / m.
    Both inputs reduce to exact integer moment passes; the readout is
    a fixed tree whose one non-elementary piece, rho^p, is
    exp(p ln rho) under the log/exp contract. rho >= 1 (unstable)
    yields NULL Wq.

    Returns per group: (grp, lam, ca2, es, cs2, rho, wq, wq_over_es).
    """
    d38 = "decimal(38,0)"
    m = int(servers)
    if m < 1:
        raise ValueError("servers must be >= 1")
    arr = (
        arrivals.select(
            F.col(group_col).alias("grp"),
            F.col(count_col).cast("long").alias("c"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("np"),
            F.sum("c").cast("long").alias("sc"),
            F.sum((F.col("c").cast(d38) * F.col("c")).cast(d38))
            .cast(d38)
            .alias("scc"),
        )
    )
    svc = (
        services.select(
            F.col(group_col).alias("grp"),
            F.col(dur_col).cast("long").alias("x"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("ns"),
            F.sum("x").cast("long").alias("sx"),
            F.sum((F.col("x").cast(d38) * F.col("x")).cast(d38))
            .cast(d38)
            .alias("sxx"),
        )
    )
    j = arr.join(svc, "grp")
    npd = F.col("np").cast("double")
    lam = F.col("sc").cast("double") / npd
    varc = (
        npd * F.col("scc").cast("double")
        - F.col("sc").cast("double") * F.col("sc").cast("double")
    ) / (npd * (npd - F.lit(1.0)))
    ca2 = varc / lam
    nsd = F.col("ns").cast("double")
    es = F.col("sx").cast("double") / nsd
    vars_ = (
        nsd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) / (nsd * (nsd - F.lit(1.0)))
    cs2 = vars_ / (es * es)
    rho = lam * es / F.lit(float(m))
    p = F.sqrt(F.lit(2.0) * F.lit(float(m + 1))) - F.lit(1.0)
    wq = (
        (ca2 + cs2)
        / F.lit(2.0)
        * F.exp(p * F.log(rho))
        / (F.lit(float(m)) * (F.lit(1.0) - rho))
        * es
    )
    wq_ok = F.when(rho < 1, wq)
    return j.select(
        "grp",
        lam.alias("lam"),
        ca2.alias("ca2"),
        es.alias("es"),
        cs2.alias("cs2"),
        rho.alias("rho"),
        wq_ok.alias("wq"),
        F.when(rho < 1, wq / es).alias("wq_over_es"),
    )


def weibull_mrr(
    df: DataFrame,
    duration_col,
    quant_scale: int = 12,
) -> DataFrame:
    """Weibull fit by MEDIAN-RANK REGRESSION (the reliability
    engineer's probability-plot method): order the observed lifetimes,
    assign Benard median ranks F_i = (i - 0.3)/(n + 0.4), and OLS-fit

        ln(-ln(1 - F_i)) = k ln(t_i) - k ln(lambda)

    — slope k is the Weibull shape (k < 1 infant mortality, k > 1
    wear-out), intercept gives the scale. The distribution-fitting
    complement of the nonparametric survival stack (KM q269,
    Nelson-Aalen q379): MRR answers "WHICH failure regime", not just
    "what's the curve".

    Ranks come from the distinct-duration prefix table (quantized-
    input contract) with each tie run EXPLODED to its exact item
    ranks (a distributed sequence explode — one pass, no window over
    raw rows); the ln/ln-ln terms are per-item fixed trees QUANTIZED
    to decimal(38,``quant_scale``) before the moment sums (|terms|
    <= ~100, far inside the conversion-safety bound), so the five
    OLS moments are order-independent exact decimals. exp/ln only —
    round outputs per the log contract.

    Returns one row: (n, shape_k, scale_lambda, r2).
    """
    d38 = f"decimal(38,{int(quant_scale)})"
    t = (
        F.col(duration_col)
        if isinstance(duration_col, str)
        else duration_col
    ).cast("long")
    per = (
        df.select(t.alias("t"))
        .filter(F.col("t") > 0)
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy("t")
    run = per.select(
        "t", "c",
        (F.sum("c").over(w) - F.col("c")).cast("long").alias("cb"),
    )
    tot = per.agg(F.sum("c").cast("long").alias("n"))
    items = (
        run.crossJoin(F.broadcast(tot))
        .select(
            "t", "n",
            F.explode(
                F.sequence(F.col("cb") + 1, F.col("cb") + F.col("c"))
            ).alias("i"),
        )
    )
    fi = (F.col("i").cast("double") - F.lit(0.3)) / (
        F.col("n").cast("double") + F.lit(0.4)
    )
    x = F.log(F.col("t").cast("double"))
    y = F.log(-F.log(F.lit(1.0) - fi))
    q_ = lambda e: e.cast(d38)
    m = items.select(
        "n",
        q_(x).alias("qx"),
        q_(y).alias("qy"),
        q_(x * y).alias("qxy"),
        q_(x * x).alias("qxx"),
        q_(y * y).alias("qyy"),
    ).groupBy("n").agg(
        F.sum("qx").cast("double").alias("sx"),
        F.sum("qy").cast("double").alias("sy"),
        F.sum("qxy").cast("double").alias("sxy"),
        F.sum("qxx").cast("double").alias("sxx"),
        F.sum("qyy").cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    b1 = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    b0 = (F.col("sy") - b1 * F.col("sx")) / nd
    r2 = (
        (nd * F.col("sxy") - F.col("sx") * F.col("sy"))
        * (nd * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (
            (nd * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (nd * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    return m.select(
        "n",
        b1.alias("shape_k"),
        F.exp(-b0 / b1).alias("scale_lambda"),
        r2.alias("r2"),
    )


def gpd_pwm(
    df: DataFrame,
    value_col,
    threshold: int,
) -> DataFrame:
    """Generalized Pareto fit to threshold EXCEEDANCES by probability-
    weighted moments (Hosking-Wallis): the peaks-over-threshold tail
    model that uses every extreme observation, where block maxima
    (q469's Gumbel) throw away all but one per block:

        b0 = mean(y),  b1 = SUM (i-1)/(n-1) y_(i) / n   (sorted y)
        shape xi = 2 - b0 / (b0 - 2 b1)
        scale    = 2 b0 b1 / (b0 - 2 b1)

    xi > 0 heavy tail, xi < 0 bounded tail. Exceedances y = v - u
    collapse to the distinct-value grid, ranks explode exactly (the
    weibull_mrr discipline), and the rank-weighted terms quantize to
    decimal(38,6) before summing (magnitudes ~ y_max — inside the
    conversion-safe zone for banded inputs). b0 is an exact integer
    ratio.

    Returns one row: (n_exceed, threshold, b0, b1, shape_xi, scale).
    """
    u = int(threshold)
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = (
        df.select(v.cast("long").alias("v"))
        .filter(F.col("v") > u)
        .select((F.col("v") - F.lit(u)).alias("y"))
        .groupBy("y")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy("y")
    run = per.select(
        "y", "c",
        (F.sum("c").over(w) - F.col("c")).cast("long").alias("cb"),
    )
    tot = per.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("y") * F.col("c")).cast("long").alias("sy"),
    )
    items = run.crossJoin(F.broadcast(tot)).select(
        "y", "n", "sy",
        F.explode(
            F.sequence(F.col("cb") + 1, F.col("cb") + F.col("c"))
        ).alias("i"),
    )
    term = (
        (F.col("i").cast("double") - F.lit(1.0))
        / (F.col("n").cast("double") - F.lit(1.0))
        * F.col("y").cast("double")
    )
    m = items.groupBy("n", "sy").agg(
        F.sum(term.cast("decimal(38,6)")).cast("double").alias("sw")
    )
    nd = F.col("n").cast("double")
    b0 = F.col("sy").cast("double") / nd
    b1 = F.col("sw") / nd
    xi = F.lit(2.0) - b0 / (b0 - F.lit(2.0) * b1)
    sc = F.lit(2.0) * b0 * b1 / (b0 - F.lit(2.0) * b1)
    return m.select(
        F.col("n").alias("n_exceed"),
        F.lit(u).cast("long").alias("threshold"),
        b0.alias("b0"),
        b1.alias("b1"),
        xi.alias("shape_xi"),
        sc.alias("scale"),
    )


def adstock_mmm(
    df: DataFrame,
    time_col: str,
    spend_col: str,
    outcome_col: str,
    decay_num: int = 1,
    decay_den: int = 2,
) -> DataFrame:
    """Adstock media-mix regression (single channel): carry spend
    forward with geometric decay theta = decay_num/decay_den,
    saturate with ln(1 + adstock), and OLS-fit the outcome on the
    transformed exposure —

        adstock_t = spend_t + theta * adstock_{t-1}
        outcome_t ~ b0 + b1 ln(1 + adstock_t)

    the canonical reduced form behind marketing-mix attribution
    (q199/q300/q340 allocate credit across touches; MMM asks the
    aggregate "does spend MOVE the metric, with memory and
    diminishing returns?").

    theta is RATIONAL so the adstock recursion folds in exact scaled
    integers: A_t in units of den^t collapses via
    A'_t = spend_t * den^t? — no: the fold carries adstock as a
    double (the EWMA/Holt fold contract, identical IEEE chain on
    both engines, oracle = recursive CTE) and the five OLS moments
    ride INSIDE the same sequential fold — order-fixed by
    construction, so no decimal quantization is needed (and none
    would be safe: x*y reaches ~1e10, outside the conversion-safe
    zone).

    Returns one row: (n_periods, b0, b1, r2).
    """
    th = float(decay_num) / float(decay_den)
    base = df.select(
        F.col(time_col).alias("t"),
        F.col(spend_col).cast("long").alias("s"),
        F.col(outcome_col).cast("long").alias("yv"),
    )
    per = base.groupBy().agg(
        F.count("*").cast("long").alias("n"),
        F.array_sort(
            F.collect_list(F.struct("t", "s", "yv"))
        ).alias("__arr"),
    )

    def step(acc, e):
        a_new = e["s"].cast("double") + F.lit(th) * acc["a"]
        x = F.log(F.lit(1.0) + a_new)
        y = e["yv"].cast("double")
        return F.struct(
            a_new.alias("a"),
            (acc["sx"] + x).alias("sx"),
            (acc["sy"] + y).alias("sy"),
            (acc["sxy"] + x * y).alias("sxy"),
            (acc["sxx"] + x * x).alias("sxx"),
            (acc["syy"] + y * y).alias("syy"),
        )

    init = F.struct(
        F.lit(0.0).alias("a"),
        F.lit(0.0).alias("sx"),
        F.lit(0.0).alias("sy"),
        F.lit(0.0).alias("sxy"),
        F.lit(0.0).alias("sxx"),
        F.lit(0.0).alias("syy"),
    )
    folded = per.select(
        "n", F.aggregate(F.col("__arr"), init, step).alias("__f")
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("__f.sx"), F.col("__f.sy")
    sxy, sxx, syy = (
        F.col("__f.sxy"), F.col("__f.sxx"), F.col("__f.syy"),
    )
    b1 = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    b0 = (sy - b1 * sx) / nd
    r2 = (
        (nd * sxy - sx * sy)
        * (nd * sxy - sx * sy)
        / ((nd * sxx - sx * sx) * (nd * syy - sy * sy))
    )
    return folded.select(
        F.col("n").alias("n_periods"),
        b0.alias("b0"),
        b1.alias("b1"),
        r2.alias("r2"),
    )


def risk_scorecard(
    df: DataFrame,
    group_col: str,
    time_col: str,
    pnl_col: str,
) -> DataFrame:
    """Per-group risk-adjusted return scorecard over an integer P&L
    series: Sharpe, Sortino, max drawdown, and Calmar — the headline
    ratios of a strategy/desk performance report. Charter §2B
    extension (the reference, src/etl/ETLProcess.java:1-568, has no
    analytics surface).

    Conventions (documented, both engines): per-period (no annualizing
    factor), risk-free rate 0, POPULATION dispersion via the exact
    integer identity D = n*ss - s^2 (so sharpe = s / sqrt(D) — the
    algebraic collapse of mean/sd_pop), Sortino target 0 with the
    population downside second moment (sortino = s / sqrt(n*ssd)),
    Calmar = mean pnl / max drawdown. Zero-dispersion, zero-downside,
    or zero-drawdown groups read NULL for the affected ratio.

    Scale design: ONE grouped aggregate carries the integer moments
    (map-side combinable); drawdown needs the ordered equity curve, so
    two windows PARTITIONED BY group ORDER BY time (the per-group
    period table is calendar-bounded — the post-aggregate-window
    contract) feed an integer max(runpeak - eq) back into the same
    aggregate. Doubles appear only in the final readout as fixed
    trees over exact integers; callers ROUND (<= 9) both engines.
    """
    d38 = "decimal(38,0)"
    g = F.col(group_col).alias("grp")
    base = df.select(
        g,
        F.col(time_col).alias("t"),
        F.col(pnl_col).cast("long").alias("d"),
    )
    wt = Window.partitionBy("grp").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = base.select(
        "grp",
        "t",
        "d",
        F.sum("d").over(wt).cast("long").alias("eq"),
    )
    scored = curve.select(
        "grp",
        "d",
        ((F.max("eq").over(wt)).cast("long") - F.col("eq"))
        .cast("long")
        .alias("dd"),
    )
    agg = scored.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_periods"),
        F.sum("d").cast("long").alias("s"),
        F.sum(F.col("d").cast(d38) * F.col("d")).cast(d38).alias("ss"),
        F.sum(
            F.when(F.col("d") < 0, F.col("d").cast(d38) * F.col("d"))
            .otherwise(F.lit(0).cast(d38))
        )
        .cast(d38)
        .alias("ssd"),
        F.max("dd").cast("long").alias("max_dd"),
    )
    nd = F.col("n_periods").cast("double")
    sd_ = F.col("s").cast("double")
    disp = (
        F.col("n_periods").cast(d38) * F.col("ss")
        - F.col("s").cast(d38) * F.col("s")
    ).cast(d38)
    dn = (F.col("n_periods").cast(d38) * F.col("ssd")).cast(d38)
    return agg.select(
        "grp",
        "n_periods",
        F.col("s").alias("total_pnl"),
        (sd_ / nd).alias("mean_pnl"),
        F.when(
            disp > 0, sd_ / F.sqrt(disp.cast("double"))
        ).alias("sharpe"),
        F.when(
            dn > 0, sd_ / F.sqrt(dn.cast("double"))
        ).alias("sortino"),
        "max_dd",
        F.when(
            F.col("max_dd") > 0,
            sd_ / nd / F.col("max_dd").cast("double"),
        ).alias("calmar"),
    )


def var_cvar(
    df: DataFrame,
    group_col: str,
    time_col: str,
    pnl_col: str,
    alpha_num: int = 1,
    alpha_den: int = 20,
) -> DataFrame:
    """Historical Value-at-Risk and Conditional VaR (expected
    shortfall) per group at tail probability ``alpha_num/alpha_den``
    (default 5%): VaR is the k-th worst P&L observation negated,
    CVaR the mean of the k worst, with k = ceil(alpha * n) computed
    by EXACT integer arithmetic (floor((n*num + den - 1) / den)) so
    neither engine ever rounds a float boundary. Ties in the P&L
    value break by time — a total order, so the k-tail is a set, not
    a sample. Charter §2B extension.

    Scale design: one row_number window PARTITIONED BY group ORDER BY
    (pnl, time) over the per-group period table (calendar-bounded —
    the post-aggregate-window contract), count rides the same
    partition; ONE grouped aggregate over the k-tail rows reads the
    integer sum. CVaR is the single double (integer ratio fixed
    tree); callers ROUND (<= 9).
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(pnl_col).cast("long").alias("d"),
    )
    wp = Window.partitionBy("grp")
    wr = Window.partitionBy("grp").orderBy(F.col("d").asc(), F.col("t").asc())
    num, den = int(alpha_num), int(alpha_den)
    if not (0 < num < den):
        raise ValueError("need 0 < alpha_num < alpha_den")
    ranked = base.select(
        "grp",
        "d",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count("*").over(wp).cast("long").alias("n"),
    )
    k = F.floor(
        (F.col("n") * F.lit(num) + F.lit(den - 1)) / F.lit(den)
    ).cast("long")
    tail = ranked.filter(F.col("rn") <= k)
    agg = tail.groupBy("grp").agg(
        F.max("n").cast("long").alias("n_periods"),
        F.count("*").cast("long").alias("k_tail"),
        F.max("d").cast("long").alias("kth"),
        F.sum("d").cast("long").alias("tail_sum"),
    )
    return agg.select(
        "grp",
        "n_periods",
        "k_tail",
        (-F.col("kth")).cast("long").alias("var_c"),
        (
            -(F.col("tail_sum").cast("double"))
            / F.col("k_tail").cast("double")
        ).alias("cvar_c"),
    )


def capm_scorecard(
    df: DataFrame,
    group_col: str,
    asset_col: str,
    market_col: str,
) -> DataFrame:
    """CAPM regression scorecard per group over paired integer
    (asset, market) per-period P&L observations: beta (OLS slope of
    asset on market), per-period alpha (intercept), r-squared,
    population tracking error sd(asset - market), and information
    ratio mean(a-m)/sd_pop(a-m) — which algebraically collapses to
    se / sqrt(n*sse - se^2) over exact integers. Charter §2B
    extension.

    Scale design: ONE map-side-combinable grouped aggregate carries
    all seven integer/decimal moments (n, sa, sm, sam, smm, saa, se,
    sse); every cross moment is exact decimal(38,0), so the slope and
    dispersion NUMERATORS are exact and each engine performs the
    identical decimal -> double conversion before the one division
    per readout (fixed double trees; callers ROUND <= 9).
    Degenerate groups (zero market variance / zero tracking
    dispersion) read NULL for the affected ratios.
    """
    d38 = "decimal(38,0)"
    a = F.col(asset_col).cast("long")
    m = F.col(market_col).cast("long")
    base = df.select(
        F.col(group_col).alias("grp"),
        a.alias("a"),
        m.alias("m"),
        (a - m).cast("long").alias("e"),
    )
    agg = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_periods"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("m").cast("long").alias("sm"),
        F.sum(F.col("a").cast(d38) * F.col("m")).cast(d38).alias("sam"),
        F.sum(F.col("m").cast(d38) * F.col("m")).cast(d38).alias("smm"),
        F.sum(F.col("a").cast(d38) * F.col("a")).cast(d38).alias("saa"),
        F.sum("e").cast("long").alias("se"),
        F.sum(F.col("e").cast(d38) * F.col("e")).cast(d38).alias("sse"),
    )
    n38 = F.col("n_periods").cast(d38)
    cov_n = (n38 * F.col("sam") - F.col("sa").cast(d38) * F.col("sm")).cast(
        d38
    )
    varm_n = (n38 * F.col("smm") - F.col("sm").cast(d38) * F.col("sm")).cast(
        d38
    )
    vara_n = (n38 * F.col("saa") - F.col("sa").cast(d38) * F.col("sa")).cast(
        d38
    )
    de_n = (n38 * F.col("sse") - F.col("se").cast(d38) * F.col("se")).cast(
        d38
    )
    nd = F.col("n_periods").cast("double")
    beta = F.when(
        varm_n > 0, cov_n.cast("double") / varm_n.cast("double")
    )
    alpha = (
        F.col("sa").cast("double") - beta * F.col("sm").cast("double")
    ) / nd
    covd = cov_n.cast("double")
    r2 = F.when(
        (varm_n > 0) & (vara_n > 0),
        covd * covd / (varm_n.cast("double") * vara_n.cast("double")),
    )
    te = F.sqrt(de_n.cast("double")) / nd
    ir = F.when(
        de_n > 0, F.col("se").cast("double") / F.sqrt(de_n.cast("double"))
    )
    return agg.select(
        "grp",
        "n_periods",
        beta.alias("beta"),
        alpha.alias("alpha_c"),
        r2.alias("r2"),
        te.alias("tracking_error_c"),
        ir.alias("information_ratio"),
    )


def range_volatility(
    df: DataFrame,
    group_col: str,
    open_col: str,
    high_col: str,
    low_col: str,
    close_col: str,
) -> DataFrame:
    """Range-based volatility estimators per group over OHLC bars:
    Parkinson (high-low), Garman-Klass (high-low + open-close), and
    Rogers-Satchell (drift-free) per-period variance — the bar-level
    volatility family that extracts ~5-8x more efficiency from a bar
    than close-to-close returns. Charter §2B extension.

    Per bar (integer-cent prices, all positive):
      hl = ln(H/L), co = ln(C/O), hc = ln(H/C), ho = ln(H/O),
      lc = ln(L/C), lo = ln(L/O)
      parkinson term = hl^2            (estimator: sum / (4 ln2 n))
      garman-klass  = 0.5 hl^2 - (2 ln2 - 1) co^2        (sum / n)
      rogers-satchell = hc*ho + lc*lo                    (sum / n)

    Determinism: each per-bar term is one fixed double tree over exact
    integer prices (both engines' ln agree to the ulp on ratio-of-
    integer arguments), then QUANTIZED to decimal(38,12) before the
    grouped sum — the order-independent float-sum convention (q538
    raking / rank-term quantization lesson). Readouts divide by the
    bar count in double; callers ROUND (<= 9).

    Scale design: ONE map-side-combinable grouped aggregate over the
    bar table (already calendar-bounded); no window, no second
    shuffle. Bars with a non-positive low are dropped (log domain).
    """
    dq = "decimal(38,12)"
    o = F.col(open_col).cast("double")
    h = F.col(high_col).cast("double")
    low = F.col(low_col).cast("double")
    c = F.col(close_col).cast("double")
    hl = F.log(h / low)
    co = F.log(c / o)
    hc = F.log(h / c)
    ho = F.log(h / o)
    lc = F.log(low / c)
    lo = F.log(low / o)
    ln2 = F.log(F.lit(2.0))
    park_t = hl * hl
    gk_t = F.lit(0.5) * hl * hl - (F.lit(2.0) * ln2 - F.lit(1.0)) * co * co
    rs_t = hc * ho + lc * lo
    base = df.filter(F.col(low_col) > 0).select(
        F.col(group_col).alias("grp"),
        F.round(park_t, 12).cast(dq).alias("pt"),
        F.round(gk_t, 12).cast(dq).alias("gt"),
        F.round(rs_t, 12).cast(dq).alias("rt"),
    )
    agg = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_bars"),
        F.sum("pt").cast(dq).alias("sp"),
        F.sum("gt").cast(dq).alias("sg"),
        F.sum("rt").cast(dq).alias("sr"),
    )
    nd = F.col("n_bars").cast("double")
    return agg.select(
        "grp",
        "n_bars",
        (
            F.col("sp").cast("double") / (F.lit(4.0) * ln2 * nd)
        ).alias("parkinson_var"),
        (F.col("sg").cast("double") / nd).alias("garman_klass_var"),
        (F.col("sr").cast("double") / nd).alias("rogers_satchell_var"),
    )


def roll_spread(
    df: DataFrame,
    group_col: str,
    time_col: str,
    price_col: str,
) -> DataFrame:
    """Roll (1984) implied effective spread per group: bid-ask bounce
    makes successive price CHANGES negatively autocorrelated, and the
    spread is 2*sqrt(-cov(dp_t, dp_{t-1})) when that first-order
    autocovariance is negative (NULL otherwise — the model is
    undefined on trending/positive-autocov segments). Charter §2B
    extension.

    Determinism: price changes are exact integers (cents); the pair
    moments (n, sx, sy, sxy) are exact decimal(38,0), so the
    POPULATION autocovariance numerator cov_n = n*sxy - sx*sy is
    exact and the spread is one fixed double tree
    2*sqrt(-cov_n)/n; callers ROUND (<= 9).

    Scale design: two lags over one window PARTITIONED BY group ORDER
    BY time (per-group period table, calendar-bounded — the
    post-aggregate-window contract), then ONE map-side-combinable
    grouped aggregate.
    """
    d38 = "decimal(38,0)"
    w = Window.partitionBy("grp").orderBy("t")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(price_col).cast("long").alias("p"),
    )
    dp = base.select(
        "grp",
        "t",
        (F.col("p") - F.lag("p").over(w)).cast("long").alias("dp"),
    )
    pairs = dp.select(
        "grp",
        F.col("dp").alias("y"),
        F.lag("dp").over(w).cast("long").alias("x"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    agg = pairs.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).cast(d38).alias("sxy"),
    )
    covn = (
        F.col("n_pairs").cast(d38) * F.col("sxy")
        - F.col("sx").cast(d38) * F.col("sy")
    ).cast(d38)
    nd = F.col("n_pairs").cast("double")
    return agg.select(
        "grp",
        "n_pairs",
        (covn.cast("double") / (nd * nd)).alias("autocov"),
        F.when(
            covn < 0,
            F.lit(2.0) * F.sqrt((-covn).cast("double")) / nd,
        ).alias("roll_spread_c"),
    )


def amihud_illiquidity(
    df: DataFrame,
    group_col: str,
    time_col: str,
    price_col: str,
    dollar_vol_col: str,
) -> DataFrame:
    """Amihud (2002) illiquidity ratio per group: the mean of
    |price change| / dollar volume across periods, scaled by 1e6 —
    price impact per traded dollar, the standard cross-sectional
    liquidity proxy. Periods with zero/negative dollar volume are
    dropped (ratio domain). Charter §2B extension.

    Determinism: |dp| is an exact integer and dollar volume an exact
    integer/decimal, so each per-period ratio is ONE double division
    (identical in both engines); ratios are QUANTIZED to
    decimal(38,15) before the grouped sum (order-independent
    float-sum convention), and the 1e6-scaled mean is the final
    fixed tree; callers ROUND (<= 9).

    Scale design: one lag window PARTITIONED BY group ORDER BY time
    over the per-group period table (post-aggregate-window contract),
    then ONE map-side-combinable grouped aggregate.
    """
    dq = "decimal(38,15)"
    w = Window.partitionBy("grp").orderBy("t")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(price_col).cast("long").alias("p"),
        F.col(dollar_vol_col).cast("decimal(38,0)").alias("dv"),
    )
    terms = base.select(
        "grp",
        (F.col("p") - F.lag("p").over(w)).cast("long").alias("dp"),
        "dv",
    ).filter(F.col("dp").isNotNull() & (F.col("dv") > 0))
    q = terms.select(
        "grp",
        F.round(
            F.abs(F.col("dp")).cast("double") / F.col("dv").cast("double"),
            15,
        )
        .cast(dq)
        .alias("r"),
    )
    agg = q.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_periods"),
        F.sum("r").cast(dq).alias("s"),
    )
    return agg.select(
        "grp",
        "n_periods",
        (
            F.lit(1000000.0)
            * F.col("s").cast("double")
            / F.col("n_periods").cast("double")
        ).alias("illiq_1e6"),
    )


def diebold_mariano(
    df: DataFrame,
    group_col: str,
    time_col: str,
    loss_a_col: str,
    loss_b_col: str,
    h_lags: int = 1,
) -> DataFrame:
    """Diebold-Mariano equal-predictive-accuracy test per group over
    paired integer per-period forecast losses: d_t = loss_a - loss_b,
    DM = mean(d) / sqrt((gamma_0 + 2*sum_{k<=h} gamma_k) / n) with
    truncated autocovariance correction for h-step-ahead forecasts
    (``h_lags`` = h - 1 lags, default 1). Negative long-run variance
    (possible under truncation) reads NULL. Charter §2B extension.

    Determinism: losses are exact integers, so the n-scaled demeaned
    series u_t = n*d_t - S is exactly integer (the q475 demeaning
    trick) and every autocovariance numerator sum(u_t * u_{t-k}) is
    exact decimal(38,0) — gamma_k = that / n^3. The DM readout is one
    fixed double tree; callers ROUND (<= 9).

    Scale design: one broadcast of the per-group (n, S) totals back
    onto the rows, h lag windows PARTITIONED BY group ORDER BY time
    (post-aggregate-window contract), ONE final grouped aggregate.
    """
    if h_lags < 0:
        raise ValueError("h_lags must be >= 0")
    d38 = "decimal(38,0)"
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        (F.col(loss_a_col).cast("long") - F.col(loss_b_col).cast("long"))
        .cast("long")
        .alias("d"),
    )
    tot = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("long").alias("s"),
    )
    u = base.join(F.broadcast(tot), "grp").select(
        "grp",
        "t",
        "n",
        "s",
        (F.col("n") * F.col("d") - F.col("s")).cast("long").alias("u"),
    )
    w = Window.partitionBy("grp").orderBy("t")
    lag_cols = [
        (F.col("u").cast(d38) * F.lag("u", k).over(w)).alias(f"p{k}")
        for k in range(0, h_lags + 1)
    ]
    prods = u.select("grp", "n", "s", *lag_cols)
    aggs = [
        F.sum(F.coalesce(F.col(f"p{k}"), F.lit(0).cast(d38)))
        .cast(d38)
        .alias(f"g{k}")
        for k in range(0, h_lags + 1)
    ]
    agg = prods.groupBy("grp").agg(
        F.max("n").cast("long").alias("n_periods"),
        F.max("s").cast("long").alias("s"),
        *aggs,
    )
    nd = F.col("n_periods").cast("double")
    mean_d = F.col("s").cast("double") / nd
    lrv_n3 = F.col("g0").cast(d38)
    for k in range(1, h_lags + 1):
        lrv_n3 = (lrv_n3 + F.lit(2).cast(d38) * F.col(f"g{k}")).cast(d38)
    # gamma_k = g_k / n^3 ; var(mean) = lrv / n  => dm = mean/sqrt(...)
    var_mean = lrv_n3.cast("double") / (nd * nd * nd * nd)
    return agg.select(
        "grp",
        "n_periods",
        mean_d.alias("mean_loss_diff"),
        F.when(lrv_n3 > 0, mean_d / F.sqrt(var_mean)).alias("dm_stat"),
    )


def cross_correlation(
    df: DataFrame,
    group_col: str,
    time_col: str,
    x_col: str,
    y_col: str,
    max_lag: int = 5,
) -> DataFrame:
    """Cross-correlation function per group between two integer
    series: for each lag k = 0..max_lag, r_k = sum over the overlap
    of (x_t - xbar)(y_{t+k} - ybar) / sqrt(Dx * Dy) with FULL-sample
    means and denominators (the standard sample CCF normalization —
    |r_k| can slightly exceed the subset-normalized value at long
    lags). Identifies lead/lag structure between aligned series.
    Charter §2B extension.

    Determinism: the n-scaled demeaned series ux = n*x - Sx and
    uy = n*y - Sy are exact integers, every cross product sums in
    decimal(38,0), and r_k = sum(ux_t * uy_{t+k}) / (n * sqrt(Dx*Dy))
    where Dx = n*Sxx - Sx^2 (the u-products carry n^2, the D-product
    n^2 under the root — one residual n divides out) — all exact
    until the one final double tree per lag; callers ROUND (<= 9).

    Scale design: one broadcast totals join, ``max_lag`` lead columns
    over one window PARTITIONED BY group ORDER BY time (post-
    aggregate-window contract; max_lag is the width knob), one
    grouped aggregate, then a bounded explode to (group, lag) rows.
    """
    if max_lag < 0:
        raise ValueError("max_lag must be >= 0")
    d38 = "decimal(38,0)"
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    tot = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).cast(d38).alias("syy"),
    )
    u = base.join(F.broadcast(tot), "grp").select(
        "grp",
        "t",
        "n",
        "sx",
        "sy",
        "sxx",
        "syy",
        (F.col("n") * F.col("x") - F.col("sx")).cast("long").alias("ux"),
        (F.col("n") * F.col("y") - F.col("sy")).cast("long").alias("uy"),
    )
    w = Window.partitionBy("grp").orderBy("t")
    prod_cols = [
        (F.col("ux").cast(d38) * F.lead("uy", k).over(w)).alias(f"p{k}")
        for k in range(0, max_lag + 1)
    ]
    cnt_cols = [
        F.when(F.lead("uy", k).over(w).isNotNull(), 1)
        .otherwise(0)
        .alias(f"c{k}")
        for k in range(0, max_lag + 1)
    ]
    prods = u.select(
        "grp", "n", "sx", "sy", "sxx", "syy", *prod_cols, *cnt_cols
    )
    aggs = []
    for k in range(0, max_lag + 1):
        aggs.append(
            F.sum(F.coalesce(F.col(f"p{k}"), F.lit(0).cast(d38)))
            .cast(d38)
            .alias(f"s{k}")
        )
        aggs.append(F.sum(F.col(f"c{k}")).cast("long").alias(f"m{k}"))
    agg = prods.groupBy("grp").agg(
        F.max("n").cast("long").alias("n_periods"),
        F.max("sx").cast("long").alias("sx"),
        F.max("sy").cast("long").alias("sy"),
        F.max("sxx").cast(d38).alias("sxx"),
        F.max("syy").cast(d38).alias("syy"),
        *aggs,
    )
    n38 = F.col("n_periods").cast(d38)
    dx = (n38 * F.col("sxx") - F.col("sx").cast(d38) * F.col("sx")).cast(d38)
    dy = (n38 * F.col("syy") - F.col("sy").cast(d38) * F.col("sy")).cast(d38)
    entries = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("lag"),
                F.col(f"m{k}").alias("n_overlap"),
                F.when(
                    (dx > 0) & (dy > 0),
                    F.col(f"s{k}").cast("double")
                    / (
                        F.col("n_periods").cast("double")
                        * F.sqrt(dx.cast("double") * dy.cast("double"))
                    ),
                ).alias("ccf"),
            )
            for k in range(0, max_lag + 1)
        ]
    )
    return (
        agg.select("grp", "n_periods", F.explode(entries).alias("e"))
        .select(
            "grp",
            "n_periods",
            F.col("e.lag").alias("lag"),
            F.col("e.n_overlap").alias("n_overlap"),
            F.col("e.ccf").alias("ccf"),
        )
    )


def variance_ratio(
    df: DataFrame,
    group_col: str,
    time_col: str,
    price_col: str,
    q: int = 5,
) -> DataFrame:
    """Lo-MacKinlay variance-ratio test per group over an integer
    price/level series: VR(q) = Var_pop(q-period change) /
    (q * Var_pop(1-period change)) with OVERLAPPING q-period changes
    — VR near 1 is a random walk, below 1 mean reversion, above 1
    momentum. z is the homoskedastic-asymptotics statistic
    (VR - 1) * sqrt(3*q*n / (2*(2q-1)*(q-1))) with n = the 1-period
    change count (the simple population-variance variant; the
    small-sample unbiased corrections are deliberately not applied —
    documented convention). Charter §2B extension.

    Determinism: both change series are exact integers; each variance
    uses its own exact decimal identity D = m*Sxx - Sx^2 over its own
    sample, and VR folds as (DR * nr^2) / (q * Dr * nR^2) in one
    fixed double tree; callers ROUND (<= 9).

    Scale design: two lag columns over one window PARTITIONED BY
    group ORDER BY time (post-aggregate-window contract), ONE grouped
    aggregate carrying both series' moments.
    """
    if q < 2:
        raise ValueError("q must be >= 2")
    d38 = "decimal(38,0)"
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(price_col).cast("long").alias("p"),
    )
    w = Window.partitionBy("grp").orderBy("t")
    ch = base.select(
        "grp",
        (F.col("p") - F.lag("p", 1).over(w)).cast("long").alias("r"),
        (F.col("p") - F.lag("p", q).over(w)).cast("long").alias("rq"),
    )
    agg = ch.groupBy("grp").agg(
        F.count("r").cast("long").alias("nr"),
        F.sum("r").cast("long").alias("sr"),
        F.sum(F.col("r").cast(d38) * F.col("r")).cast(d38).alias("srr"),
        F.count("rq").cast("long").alias("nq"),
        F.sum("rq").cast("long").alias("sq"),
        F.sum(F.col("rq").cast(d38) * F.col("rq")).cast(d38).alias("sqq"),
    )
    dr = (
        F.col("nr").cast(d38) * F.col("srr")
        - F.col("sr").cast(d38) * F.col("sr")
    ).cast(d38)
    dq_ = (
        F.col("nq").cast(d38) * F.col("sqq")
        - F.col("sq").cast(d38) * F.col("sq")
    ).cast(d38)
    nrd = F.col("nr").cast("double")
    nqd = F.col("nq").cast("double")
    vr = (
        dq_.cast("double")
        * (nrd * nrd)
        / (
            F.lit(float(q))
            * dr.cast("double")
            * (nqd * nqd)
        )
    )
    zc = F.sqrt(
        F.lit(3.0 * q)
        * nrd
        / F.lit(2.0 * (2 * q - 1) * (q - 1))
    )
    return agg.select(
        "grp",
        F.col("nr").alias("n_changes"),
        F.lit(q).cast("long").alias("q"),
        F.when(dr > 0, vr).alias("vr"),
        F.when(dr > 0, (vr - F.lit(1.0)) * zc).alias("z_stat"),
    )


def permutation_entropy(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Normalized permutation entropy (Bandt-Pompe, embedding m=3)
    per group: each length-3 window of the ordered series maps to its
    ordinal pattern (ranks with the STABLE tie convention — equal
    values rank by position), the pattern distribution's Shannon
    entropy normalizes by ln(3!) into [0,1] — low means predictable
    motif structure, 1 means pattern-uniform (complex/noisy). The
    complexity companion to q426's Hurst long-memory exponent.
    Charter §2B extension.

    Determinism: ranks come from integer comparisons only; pattern
    counts are exact integers; each -(c/n)ln(c/n) term is a fixed
    tree quantized to decimal(38,12) before the <= 6-row sum;
    callers ROUND (<= 9).

    Scale design: two lead columns over one window PARTITIONED BY
    group ORDER BY time (post-aggregate-window contract), one
    (group, pattern) groupBy (<= 6 patterns per group), one grouped
    fold.
    """
    dq = "decimal(38,12)"
    w = Window.partitionBy("grp").orderBy("t")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("x0"),
    )
    tri = base.select(
        "grp",
        "x0",
        F.lead("x0", 1).over(w).alias("x1"),
        F.lead("x0", 2).over(w).alias("x2"),
    ).filter(F.col("x2").isNotNull())
    x0, x1, x2 = F.col("x0"), F.col("x1"), F.col("x2")

    def rank_of(xi, others):
        # count of (xj, j) strictly before (xi, i) in stable order
        r = F.lit(0)
        for xj, earlier in others:
            lt = xj < xi
            tie = (xj == xi) & F.lit(earlier)
            r = r + F.when(lt | tie, 1).otherwise(0)
        return r

    r0 = rank_of(x0, [(x1, False), (x2, False)])
    r1 = rank_of(x1, [(x0, True), (x2, False)])
    r2 = rank_of(x2, [(x0, True), (x1, True)])
    pat = (r0 * 9 + r1 * 3 + r2).cast("long")
    counts = tri.select("grp", pat.alias("pattern")).groupBy(
        "grp", "pattern"
    ).agg(F.count("*").cast("long").alias("c"))
    tot = counts.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n_windows"),
        F.count("*").cast("long").alias("n_patterns"),
    )
    j = counts.join(F.broadcast(tot), "grp")
    pr = F.col("c").cast("double") / F.col("n_windows").cast("double")
    terms = j.select(
        "grp",
        "n_windows",
        "n_patterns",
        F.round(-(pr * F.log(pr)), 12).cast(dq).alias("h"),
    )
    agg = terms.groupBy("grp", "n_windows", "n_patterns").agg(
        F.sum("h").cast(dq).alias("sh")
    )
    return agg.select(
        "grp",
        "n_windows",
        "n_patterns",
        (
            F.col("sh").cast("double") / F.log(F.lit(6.0))
        ).alias("perm_entropy"),
    )


def ar1_half_life(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """AR(1) mean-reversion half-life per group: OLS of x_t on
    x_{t-1} gives the autoregressive coefficient rho, and a
    stationary 0 < rho < 1 implies shocks decay with half-life
    -ln(2)/ln(rho) periods — how long a deviation takes to halve.
    rho outside (0, 1) reads NULL half-life (no mean reversion to
    time). The parametric companion to q569's variance ratio and
    q426's Hurst. Charter §2B extension.

    Determinism: the lagged pairs are exact integers; the five OLS
    moments are exact decimal(38,0); rho and the half-life are fixed
    double trees over the exact numerators; callers ROUND (<= 9).

    Scale design: one lag column over a window PARTITIONED BY group
    ORDER BY time (post-aggregate-window contract), ONE grouped
    moment aggregate.
    """
    d38 = "decimal(38,0)"
    w = Window.partitionBy("grp").orderBy("t")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("y"),
    )
    pairs = base.select(
        "grp",
        F.col("y"),
        F.lag("y").over(w).cast("long").alias("x"),
    ).filter(F.col("x").isNotNull())
    agg = pairs.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).cast(d38).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
    )
    n38 = F.col("n_pairs").cast(d38)
    num = (n38 * F.col("sxy") - F.col("sx").cast(d38) * F.col("sy")).cast(
        d38
    )
    den = (n38 * F.col("sxx") - F.col("sx").cast(d38) * F.col("sx")).cast(
        d38
    )
    rho = F.when(den > 0, num.cast("double") / den.cast("double"))
    return agg.select(
        "grp",
        "n_pairs",
        rho.alias("rho"),
        F.when(
            (rho > 0) & (rho < 1),
            -F.log(F.lit(2.0)) / F.log(rho),
        ).alias("half_life"),
    )


def dfa_alpha(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    scales: tuple = (4, 8, 16, 32),
) -> DataFrame:
    """Detrended fluctuation analysis per group: the profile
    (cumulative sum of the demeaned series) is split into full boxes
    of each scale s, each box is OLS-detrended, F(s) =
    sqrt(mean box residual variance), and the DFA exponent alpha is
    the log-log slope of F(s) on s — the nonstationarity-robust
    long-memory estimate beside q426's rescaled-range Hurst (alpha
    0.5 = uncorrelated, > 0.5 persistent, < 0.5 anti-persistent).
    Charter §2B extension.

    Determinism: the profile uses the n-scaled demeaning trick
    (u_t = cumsum(n*x - S), exact integers; scaling by n shifts
    every log F by ln n and cancels in the slope; the emitted log_f
    values subtract ln n back as a fixed tree). Per-box OLS residual
    SS folds from exact decimal moments; per-box terms quantize to
    decimal(38,6) before the per-scale mean; the 4-point log-log
    slope folds from quantized terms. Callers ROUND (<= 6).

    Scale design: one row_number + one cumsum window per group
    (post-aggregate-window contract), a bounded explode over the
    scale list, one (group, scale, box) aggregate, one (group,
    scale) mean, one k-scale slope fold.
    """
    if len(scales) < 2:
        raise ValueError("need >= 2 scales for a slope")
    d38 = "decimal(38,0)"
    dq6 = "decimal(38,6)"
    dq = "decimal(38,12)"
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("x"),
    )
    tot = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    w = Window.partitionBy("grp").orderBy("t")
    prof = (
        base.join(F.broadcast(tot), "grp")
        .select(
            "grp",
            "t",
            "n",
            (F.col("n") * F.col("x") - F.col("s")).cast("long").alias("d"),
        )
        .select(
            "grp",
            "n",
            F.row_number().over(w).cast("long").alias("i"),
            F.sum("d").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .cast("long")
            .alias("u"),
        )
    )
    sc = F.explode(
        F.array(*[F.lit(int(s)) for s in scales])
    ).alias("scale")
    boxed = prof.select("grp", "n", "i", "u", sc).filter(
        F.col("i") <= (F.col("n") - F.col("n") % F.col("scale"))
    )
    boxes = boxed.groupBy(
        "grp",
        "n",
        "scale",
        F.floor((F.col("i") - 1) / F.col("scale")).cast("long").alias("box"),
    ).agg(
        F.count("*").cast("long").alias("m"),
        F.sum("i").cast("long").alias("sx"),
        F.sum("u").cast("long").alias("sy"),
        F.sum(F.col("i").cast(d38) * F.col("u")).cast(d38).alias("sxy"),
        F.sum(F.col("i").cast(d38) * F.col("i")).cast(d38).alias("sxx"),
        F.sum(F.col("u").cast(d38) * F.col("u")).cast(d38).alias("syy"),
    )
    md = F.col("m").cast("double")
    dyy = (
        F.col("m").cast(d38) * F.col("syy")
        - F.col("sy").cast(d38) * F.col("sy")
    ).cast(d38)
    dxy = (
        F.col("m").cast(d38) * F.col("sxy")
        - F.col("sx").cast(d38) * F.col("sy")
    ).cast(d38)
    dxx = (
        F.col("m").cast(d38) * F.col("sxx")
        - F.col("sx").cast(d38) * F.col("sx")
    ).cast(d38)
    # SSE = (Dyy - Dxy^2/Dxx) / m  (exact-decimal numerators)
    sse = (
        dyy.cast("double")
        - dxy.cast("double") * dxy.cast("double") / dxx.cast("double")
    ) / md
    per_box = boxes.select(
        "grp",
        "n",
        "scale",
        F.round(sse / F.col("scale").cast("double"), 6)
        .cast(dq6)
        .alias("fv"),
    )
    per_scale = per_box.groupBy("grp", "n", "scale").agg(
        F.count("*").cast("long").alias("n_boxes"),
        F.sum("fv").cast(dq6).alias("sfv"),
    )
    nd = F.col("n").cast("double")
    logf = (
        F.log(
            F.sqrt(
                F.col("sfv").cast("double")
                / F.col("n_boxes").cast("double")
            )
        )
        - F.log(nd)
    )
    pts = per_scale.select(
        "grp",
        "n",
        F.log(F.col("scale").cast("double")).alias("lx"),
        logf.alias("ly"),
    )
    q = pts.select(
        "grp",
        "n",
        F.round(F.col("lx"), 12).cast(dq).alias("lx"),
        F.round(F.col("ly"), 12).cast(dq).alias("ly"),
        F.round(F.col("lx") * F.col("ly"), 12).cast(dq).alias("lxy"),
        F.round(F.col("lx") * F.col("lx"), 12).cast(dq).alias("lxx"),
    )
    agg = q.groupBy("grp", "n").agg(
        F.count("*").cast("long").alias("k_scales"),
        F.sum("lx").cast(dq).alias("slx"),
        F.sum("ly").cast(dq).alias("sly"),
        F.sum("lxy").cast(dq).alias("slxy"),
        F.sum("lxx").cast(dq).alias("slxx"),
    )
    kd = F.col("k_scales").cast("double")
    slx = F.col("slx").cast("double")
    sly = F.col("sly").cast("double")
    slxy = F.col("slxy").cast("double")
    slxx = F.col("slxx").cast("double")
    alpha = (kd * slxy - slx * sly) / (kd * slxx - slx * slx)
    return agg.select(
        "grp",
        F.col("n").alias("n_periods"),
        "k_scales",
        alpha.alias("alpha"),
    )


def km_greenwood_bands(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Kaplan-Meier curve with Greenwood confidence bands: alongside
    S(t) (the kaplan_meier fold above), the Greenwood variance
    cumulates g = d / (n * (n - d)) over event times,
    se(t) = S(t) * sqrt(G(t)), and the plain (linear-scale) bands
    clamp to [0, 1]. The final event time with d = n has infinite
    Greenwood variance — its se/bands read NULL (documented
    convention). Charter §2B extension.

    Scale design / determinism: identical to kaplan_meier — distinct-
    EVENT-time array (calendar-bounded), prefix refolds in time order
    for BOTH the survival product and the variance sum, so each
    engine performs the identical fixed-order IEEE sequence; callers
    ROUND (<= 9).
    """
    per = df.groupBy(F.col(duration_col).cast("long").alias("t")).agg(
        F.sum(F.col(event_col).cast("int")).cast("long").alias("d"),
        F.sum(F.lit(1) - F.col(event_col).cast("int"))
        .cast("long")
        .alias("c"),
    )
    w_risk = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    per = per.select(
        "t", "d", "c",
        F.sum(F.col("d") + F.col("c")).over(w_risk).alias("n"),
    )
    ev = per.filter(F.col("d") > 0).select(
        F.struct(
            "t",
            "d",
            "n",
            (
                F.lit(1.0)
                - F.col("d").cast("double") / F.col("n").cast("double")
            ).alias("f"),
            F.when(
                F.col("n") > F.col("d"),
                F.col("d").cast("double")
                / (
                    F.col("n").cast("double")
                    * (F.col("n") - F.col("d")).cast("double")
                ),
            ).alias("g"),
        ).alias("__e")
    )
    one = ev.agg(F.array_sort(F.collect_list("__e")).alias("__arr"))
    expl = one.select("__arr", F.posexplode("__arr").alias("__i", "__s"))
    pre = F.slice(F.col("__arr"), F.lit(1), F.col("__i") + 1)
    surv = F.aggregate(pre, F.lit(1.0), lambda acc, x: acc * x["f"])
    gsum = F.aggregate(
        pre,
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x["g"],
    )
    se = surv * F.sqrt(gsum)
    zl = F.lit(float(z))
    return expl.select(
        F.col("__s")["t"].alias("t"),
        F.col("__s")["n"].alias("n_risk"),
        F.col("__s")["d"].alias("n_event"),
        surv.alias("survival"),
        se.alias("se"),
        F.greatest(F.lit(0.0), surv - zl * se).alias("ci_lower"),
        F.least(F.lit(1.0), surv + zl * se).alias("ci_upper"),
    )


def sprt_bernoulli_replay(
    df: DataFrame,
    group_col: str,
    time_col: str,
    success_col: str,
    p0: float = 0.5,
    p1: float = 0.6,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald SPRT replay over an ordered Bernoulli stream per group:
    at each observation the log-likelihood ratio of H1: p = p1 vs
    H0: p = p0 is llr = k*ln(p1/p0) + (m-k)*ln((1-p1)/(1-p0)) with
    k = cumulative successes in m trials — accept H1 at the first
    m with llr >= ln((1-beta)/alpha), accept H0 at the first m with
    llr <= ln(beta/(1-alpha)). Emits where the classic fixed-
    boundary test WOULD have stopped — the Wald ancestor of q529's
    always-valid mSPRT. Charter §2B extension.

    Determinism: the cumulative k and m are exact integer window
    sums; llr is a fixed tree k*L1 + (m-k)*L0 (NO double running
    sum — cross-engine windowed float accumulation is not
    order-stable, integers are); crossing times are conditional
    mins. Callers ROUND (<= 9).

    Scale design: one integer cumsum window per group (post-
    aggregate-window contract when replayed at entity grain), ONE
    final grouped aggregate.
    """
    if not (0 < p0 < 1 and 0 < p1 < 1 and p0 != p1):
        raise ValueError("need 0 < p0 != p1 < 1")
    w = Window.partitionBy("grp").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(success_col).cast("int").alias("x"),
    )
    cum = base.select(
        "grp",
        F.row_number()
        .over(Window.partitionBy("grp").orderBy("t"))
        .cast("long")
        .alias("m"),
        F.sum("x").over(w).cast("long").alias("k"),
    )
    l1 = F.log(F.lit(p1) / F.lit(p0))
    l0 = F.log((F.lit(1.0) - F.lit(p1)) / (F.lit(1.0) - F.lit(p0)))
    a = F.log((F.lit(1.0) - F.lit(beta)) / F.lit(alpha))
    b = F.log(F.lit(beta) / (F.lit(1.0) - F.lit(alpha)))
    llr = F.col("k").cast("double") * l1 + (
        F.col("m") - F.col("k")
    ).cast("double") * l0
    scored = cum.select(
        "grp",
        "m",
        "k",
        llr.alias("llr"),
    )
    agg = scored.groupBy("grp").agg(
        F.max("m").cast("long").alias("n_trials"),
        F.max(F.struct("m", "llr")).alias("__fin"),
        F.min(F.when(F.col("llr") >= a, F.col("m")))
        .cast("long")
        .alias("t_accept_h1"),
        F.min(F.when(F.col("llr") <= b, F.col("m")))
        .cast("long")
        .alias("t_accept_h0"),
    )
    t1 = F.col("t_accept_h1")
    t0 = F.col("t_accept_h0")
    decision = (
        F.when(t1.isNull() & t0.isNull(), F.lit("continue"))
        .when(t0.isNull() | (t1 <= t0), F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
    )
    return agg.select(
        "grp",
        "n_trials",
        F.col("__fin.llr").alias("llr_final"),
        "t_accept_h1",
        "t_accept_h0",
        decision.alias("decision"),
        F.least(
            F.coalesce(t1, F.col("n_trials") + 1),
            F.coalesce(t0, F.col("n_trials") + 1),
        ).alias("__t"),
    ).select(
        "grp",
        "n_trials",
        "llr_final",
        "t_accept_h1",
        "t_accept_h0",
        "decision",
        F.when(
            F.col("decision") != "continue", F.col("__t")
        ).alias("n_at_decision"),
    )


def page_hinkley(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    delta: int = 0,
    lam: int = 0,
) -> DataFrame:
    """Page-Hinkley upward-drift detector per group (batch replay):
    the drift score PH_t = M_t - min_{s<=t} M_s over the cumulative
    sum M_t = sum(x_s - xbar - delta) alarms the first time it
    exceeds ``lam`` (both in value units) — the one-sided mean-shift
    alarm beside q380's two-sided CUSUM (delta is the indifference
    slack, lam the evidence threshold). Charter §2B extension.

    Determinism: the n-scaled cumulative u_t = cumsum(n*(x - delta)
    - S) is exactly integer (q475 demeaning trick); the running min
    and the threshold compare (u - minu > n*lam) stay integer; only
    the reported max_ph divides by n. Callers ROUND (<= 9).

    Scale design: two windows (cumsum + running min) PARTITIONED BY
    group ORDER BY time over calendar-bounded period tables, ONE
    final grouped aggregate.
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        (F.col(value_col).cast("long") - F.lit(int(delta)))
        .cast("long")
        .alias("x"),
    )
    tot = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    w = Window.partitionBy("grp").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wrn = Window.partitionBy("grp").orderBy("t")
    cum = base.join(F.broadcast(tot), "grp").select(
        "grp",
        "n",
        F.row_number().over(wrn).cast("long").alias("i"),
        F.sum(F.col("n") * F.col("x") - F.col("s"))
        .over(w)
        .cast("long")
        .alias("m"),
    )
    wi = Window.partitionBy("grp").orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scored = cum.select(
        "grp",
        "n",
        "i",
        (F.col("m") - F.min("m").over(wi)).cast("long").alias("ph_n"),
    )
    agg = scored.groupBy("grp").agg(
        F.max("n").cast("long").alias("n_periods"),
        F.max("ph_n").cast("long").alias("max_ph_n"),
        F.min(
            F.when(
                F.col("ph_n") > F.col("n") * F.lit(int(lam)), F.col("i")
            )
        )
        .cast("long")
        .alias("t_alarm"),
    )
    return agg.select(
        "grp",
        "n_periods",
        (
            F.col("max_ph_n").cast("double")
            / F.col("n_periods").cast("double")
        ).alias("max_ph"),
        "t_alarm",
        F.col("t_alarm").isNotNull().alias("alarmed"),
    )


def bass_diffusion(
    df: DataFrame,
    time_col: str,
    adopters_col: str,
) -> DataFrame:
    """Bass diffusion fit of an adoption series by the discrete OLS
    S_t = a + b*N_{t-1} + c*N_{t-1}^2 (S = new adopters, N =
    cumulative before t), then the structural readouts: market size
    M = (-b - sqrt(b^2 - 4ca)) / (2c) (the positive root),
    innovation p = a/M, imitation q = -c*M, and the peak-adoption
    time t* = ln(q/p)/(p+q) periods from launch — the product-
    diffusion S-curve behind every adoption forecast. Emits NULLs
    when the quadratic has no positive root (series not Bass-shaped).
    Charter §2B extension.

    Determinism: N and S are exact integers; ALL eight regression
    moments (up to N^4 and y*N^2) are exact decimal(38,0); the 3x3
    Cramer determinants then fold as fixed double trees over those
    exact moments (decimal would overflow at det scale — documented),
    so both engines compute identical doubles; callers ROUND (<= 6).

    Scale design: one cumulative window over the calendar-bounded
    period table + ONE moment aggregate; the solve is a single-row
    fixed tree.
    """
    d38 = "decimal(38,0)"
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    base = df.select(
        F.col(time_col).alias("t"),
        F.col(adopters_col).cast("long").alias("s"),
    )
    lagged = base.select(
        "t",
        "s",
        F.coalesce(F.sum("s").over(w), F.lit(0)).cast("long").alias("nprev"),
    )
    x = F.col("nprev")
    y = F.col("s")
    agg = lagged.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast(d38).alias("m1"),
        F.sum(x.cast(d38) * x).cast(d38).alias("m2"),
        F.sum((x.cast(d38) * x).cast(d38) * x).cast(d38).alias("m3"),
        F.sum(
            ((x.cast(d38) * x).cast(d38) * (x.cast(d38) * x).cast(d38))
            .cast(d38)
        )
        .cast(d38)
        .alias("m4"),
        F.sum(y).cast(d38).alias("sy"),
        F.sum(y.cast(d38) * x).cast(d38).alias("syx"),
        F.sum((y.cast(d38) * x).cast(d38) * x).cast(d38).alias("syx2"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("m1").cast("double")
    m2 = F.col("m2").cast("double")
    m3 = F.col("m3").cast("double")
    m4 = F.col("m4").cast("double")
    sy = F.col("sy").cast("double")
    syx = F.col("syx").cast("double")
    syx2 = F.col("syx2").cast("double")

    def det3(a11, a12, a13, a21, a22, a23, a31, a32, a33):
        return (
            a11 * (a22 * a33 - a23 * a32)
            - a12 * (a21 * a33 - a23 * a31)
            + a13 * (a21 * a32 - a22 * a31)
        )

    d0 = det3(nd, m1, m2, m1, m2, m3, m2, m3, m4)
    da = det3(sy, m1, m2, syx, m2, m3, syx2, m3, m4)
    db = det3(nd, sy, m2, m1, syx, m3, m2, syx2, m4)
    dc = det3(nd, m1, sy, m1, m2, syx, m2, m3, syx2)
    a = da / d0
    b = db / d0
    c = dc / d0
    disc = b * b - F.lit(4.0) * c * a
    mroot = F.when(
        (c < 0) & (disc > 0),
        (-b - F.sqrt(disc)) / (F.lit(2.0) * c),
    )
    p = a / mroot
    q = -c * mroot
    return agg.select(
        "n",
        a.alias("coef_a"),
        b.alias("coef_b"),
        c.alias("coef_c"),
        mroot.alias("market_m"),
        F.when(mroot.isNotNull(), p).alias("p_innovation"),
        F.when(mroot.isNotNull(), q).alias("q_imitation"),
        F.when(
            mroot.isNotNull() & (p > 0) & (q > 0),
            F.log(q / p) / (p + q),
        ).alias("peak_t"),
    )


def periodogram_at(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    periods: tuple = (7, 30),
) -> DataFrame:
    """Periodogram power at CANDIDATE periods per group: for each
    integer period P, the squared projection of the demeaned series
    onto cos/sin at frequency 1/P,
    var_frac(P) = 2 * ((sum d_t cos(w t))^2 + (sum d_t sin(w t))^2)
    / (n * sum d_t^2) with d the demeaned series — ~1.0 for a pure
    sinusoid at P, ~2/n for white noise. "Is there 7-day / 30-day
    seasonality" answered with two sums, no FFT. Charter §2B
    extension.

    Determinism: the angle reduces IN INTEGER SPACE first
    (2*pi*(t mod P)/P with t the 0-based row index), keeping cos/sin
    arguments in [0, 2*pi) where both engines' libm agree to the ulp
    (large-argument reduction is where they drift); per-row products
    quantize to decimal(38,6) before the grouped sum (order-free;
    the demeaned values keep term magnitude where the 1e-6 grid is
    COARSER than the double ulp — the cross-engine quantization
    contract); the readout is a fixed tree. Callers ROUND (<= 6).

    Scale design: one row_number window per group + ONE grouped sum
    per period (bounded period list explodes rows x len(periods)).
    """
    if not periods or any(int(p) < 2 for p in periods):
        raise ValueError("periods must all be >= 2")
    d38 = "decimal(38,0)"
    dq6 = "decimal(38,6)"
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("x"),
    )
    tot = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    w = Window.partitionBy("grp").orderBy("t")
    u = base.join(F.broadcast(tot), "grp").select(
        "grp",
        "n",
        (F.row_number().over(w) - 1).cast("long").alias("i"),
        (F.col("n") * F.col("x") - F.col("s")).cast("long").alias("u"),
    )
    sc = F.explode(
        F.array(*[F.lit(int(p)).cast("long") for p in periods])
    ).alias("period")
    un = F.col("u").cast("double") / F.col("n").cast("double")
    rows = u.select("grp", "n", "i", un.alias("un"), sc)
    ang = (
        F.lit(2.0)
        * F.lit(3.141592653589793)
        * (F.col("i") % F.col("period")).cast("double")
        / F.col("period").cast("double")
    )
    terms = rows.select(
        "grp",
        "n",
        "period",
        F.round(F.col("un") * F.cos(ang), 6).cast(dq6).alias("uc"),
        F.round(F.col("un") * F.sin(ang), 6).cast(dq6).alias("us"),
        F.round(F.col("un") * F.col("un"), 6).cast(dq6).alias("u2"),
    )
    agg = terms.groupBy("grp", "n", "period").agg(
        F.sum("uc").cast(dq6).alias("sc_"),
        F.sum("us").cast(dq6).alias("ss_"),
        F.sum("u2").cast(dq6).alias("s2_"),
    )
    nd = F.col("n").cast("double")
    var_frac = (
        (
            F.col("sc_").cast("double") * F.col("sc_").cast("double")
            + F.col("ss_").cast("double") * F.col("ss_").cast("double")
        )
        * F.lit(2.0)
        / (nd * F.col("s2_").cast("double"))
    )
    return agg.select(
        "grp",
        F.col("n").alias("n_periods"),
        "period",
        F.when(F.col("s2_") > 0, var_frac).alias("var_frac"),
    )


def haar_energy(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    levels: int = 4,
) -> DataFrame:
    """Haar wavelet energy decomposition per group: the series folds
    through ``levels`` pairwise-sum pyramids; the level-k detail
    energy sum((s_even - s_odd)^2) / 2^k localizes variance by time
    scale (level 1 = adjacent-period noise, level 4 = 16-period
    swings) — where does the volatility live? Trailing odd elements
    at each level are dropped (documented half-open convention).
    Charter §2B extension.

    Determinism: the pyramid is EXACT integer arithmetic end-to-end
    (sums, not averages; the 1/2^k normalization happens once per
    level in the readout); energies are exact decimal sums; each
    readout is one double division. Callers must NOT round: the raw
    tree is engine-bitwise, while DuckDB's ROUND(double, k) corrupts
    values whose x*10^k leaves exact-double range (the q604 sf0.001
    lesson).

    Scale design: ``levels`` grouped aggregations over halving row
    counts (pair key = i div 2), all map-side combinable; no window
    after the first index assignment.
    """
    if not (1 <= levels <= 16):
        raise ValueError("levels must be in 1..16")
    d38 = "decimal(38,0)"
    w = Window.partitionBy("grp").orderBy("t")
    cur = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("v"),
    ).select(
        "grp",
        (F.row_number().over(w) - 1).cast("long").alias("i"),
        F.col("v").cast(d38).alias("v"),
    )
    outs = []
    for k in range(1, levels + 1):
        paired = cur.groupBy(
            "grp", F.floor(F.col("i") / 2).cast("long").alias("j")
        ).agg(
            F.count("*").cast("long").alias("m"),
            F.sum(F.when(F.col("i") % 2 == 0, F.col("v"))).cast(d38).alias(
                "ev"
            ),
            F.sum(F.when(F.col("i") % 2 == 1, F.col("v"))).cast(d38).alias(
                "ov"
            ),
        )
        full = paired.filter(F.col("m") == 2)
        d = (F.col("ev") - F.col("ov")).cast(d38)
        lvl = full.groupBy("grp").agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum((d * d).cast(d38)).cast(d38).alias("e2"),
        )
        outs.append(
            lvl.select(
                "grp",
                F.lit(k).cast("long").alias("level"),
                "n_pairs",
                (
                    F.col("e2").cast("double") / F.lit(float(2**k))
                ).alias("energy"),
            )
        )
        cur = full.select(
            "grp",
            F.col("j").alias("i"),
            (F.col("ev") + F.col("ov")).cast(d38).alias("v"),
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def sax_words(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    word_len: int = 4,
    min_count: int = 1,
) -> DataFrame:
    """SAX symbolic word census per group (alphabet 4, breakpoints
    -0.6745 / 0 / +0.6745 population sigmas): each period maps to a
    symbol a<b<c<d by its z-score band, non-overlapping ``word_len``
    windows concatenate to words, and the word census (with the
    ``min_count`` output knob) surfaces recurring shapes — the
    discretized motif view beside q574's permutation entropy.
    Trailing partial words drop. Charter §2B extension.

    Determinism: the symbol compare is n-scaled integer u vs
    +/-0.6745 * sqrt(D) with D = n*ss - s^2 exact decimal (one
    fixed-tree threshold per group, broadcast); words build from an
    array_sort'ed per-window collect; counts are exact.

    Scale design: one row_number window per group, one (group, word
    index) groupBy (window-bounded collect), one word groupBy.
    """
    if word_len < 1:
        raise ValueError("word_len must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    d38 = "decimal(38,0)"
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("x"),
    )
    tot = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("ss"),
    )
    disp = (
        F.col("n").cast(d38) * F.col("ss")
        - F.col("s").cast(d38) * F.col("s")
    ).cast(d38)
    head = tot.select(
        "grp",
        "n",
        "s",
        (F.lit(0.6745) * F.sqrt(disp.cast("double"))).alias("thr"),
    )
    w = Window.partitionBy("grp").orderBy("t")
    u = base.join(F.broadcast(head), "grp").select(
        "grp",
        (F.row_number().over(w) - 1).cast("long").alias("i"),
        (F.col("n") * F.col("x") - F.col("s"))
        .cast("long")
        .cast("double")
        .alias("u"),
        "thr",
    )
    sym = (
        F.when(F.col("u") < -F.col("thr"), F.lit("a"))
        .when(F.col("u") < 0, F.lit("b"))
        .when(F.col("u") < F.col("thr"), F.lit("c"))
        .otherwise(F.lit("d"))
    )
    words = u.select(
        "grp",
        F.floor(F.col("i") / word_len).cast("long").alias("wi"),
        F.struct(F.col("i"), sym.alias("sym")).alias("e"),
    ).groupBy("grp", "wi").agg(
        F.count("*").cast("long").alias("m"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("e")), lambda s: s["sym"]
            ),
            "",
        ).alias("word"),
    )
    census = (
        words.filter(F.col("m") == word_len)
        .groupBy("grp", "word")
        .agg(F.count("*").cast("long").alias("n_windows"))
        .filter(F.col("n_windows") >= min_count)
    )
    return census


def kpss_level(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
    lags: int = 7,
) -> DataFrame:
    """KPSS level-stationarity statistic per group: with partial sums
    S_t of the demeaned series and the Bartlett long-run variance
    s2(l) = g0 + 2*sum_{j<=l} (1 - j/(l+1)) g_j,
    eta = sum(S_t^2) / (n^2 * s2(l)) — LARGE eta rejects
    stationarity (the null is the opposite of ADF-style tests;
    ~0.463 is the asymptotic 5% point). Pairs with q577's AR(1)
    half-life: KPSS asks IF the series reverts, AR(1) how fast.
    Charter §2B extension.

    Determinism: the n-scaled demeaned series u = n*x - S and its
    running sum are exact integers (MAGNITUDE CONTRACT: keep values
    scaled so n^2 * max|cumdev| fits int64 — feed dollars, not
    cents, for long daily series); all lag products and the
    partial-sum squares are exact decimal(38,0); eta folds as
    A / (n * (G0 + 2*sum w_j G_j)) in one fixed tree. Callers ROUND
    (<= 9).

    Scale design: one cumsum window + ``lags`` lag columns in ONE
    window pass per group (post-aggregate-window contract), one
    grouped aggregate.
    """
    if lags < 0:
        raise ValueError("lags must be >= 0")
    d38 = "decimal(38,0)"
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("x"),
    )
    tot = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    w = Window.partitionBy("grp").orderBy("t")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u = base.join(F.broadcast(tot), "grp").select(
        "grp",
        "t",
        "n",
        (F.col("n") * F.col("x") - F.col("s")).cast("long").alias("u"),
    )
    cum = u.select(
        "grp",
        "t",
        "n",
        "u",
        F.sum("u").over(wc).cast("long").alias("st"),
    )
    lag_cols = [
        (F.col("u").cast(d38) * F.lag("u", j).over(w)).alias(f"g{j}")
        for j in range(0, lags + 1)
    ]
    prods = cum.select(
        "grp",
        "n",
        (F.col("st").cast(d38) * F.col("st")).cast(d38).alias("s2"),
        *lag_cols,
    )
    aggs = [
        F.sum(F.coalesce(F.col(f"g{j}"), F.lit(0).cast(d38)))
        .cast(d38)
        .alias(f"G{j}")
        for j in range(0, lags + 1)
    ]
    agg = prods.groupBy("grp").agg(
        F.max("n").cast("long").alias("n_periods"),
        F.sum("s2").cast(d38).alias("A"),
        *aggs,
    )
    lrv = F.col("G0").cast("double")
    for j in range(1, lags + 1):
        wj = 1.0 - j / (lags + 1.0)
        lrv = lrv + F.lit(2.0 * wj) * F.col(f"G{j}").cast("double")
    eta = F.col("A").cast("double") / (
        F.col("n_periods").cast("double") * lrv
    )
    return agg.select(
        "grp",
        "n_periods",
        F.lit(lags).cast("long").alias("lags"),
        F.when(lrv > 0, eta).alias("kpss_stat"),
    )


def pettitt_test(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Pettitt rank changepoint test per group (midrank/tie-adjusted):
    U_t = 2 * sum_{i<=t} R_i - t * (n + 1) over combined midranks;
    K = max |U_t| locates the most probable single shift (earliest
    argmax), with the classic approximation
    p ~ 2 * exp(-6 K^2 / (n^3 + n^2)). Distribution-free — the rank
    sibling of q380's CUSUM and q589's Page-Hinkley. Charter §2B
    extension (quantized-input contract: band a continuous metric
    upstream — ranks come from the distinct-value table).

    Determinism: doubled midranks 2R are exact integers (2*cumbefore
    + c + 1), so every U_t is an exact integer; the argmax struct
    breaks ties by time; p is one fixed tree. Callers ROUND (<= 9).

    Scale design: one distinct-value count window, one rank-map join
    back, one cumsum window per group, one grouped argmax.
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(time_col).alias("t"),
        F.col(value_col).cast("long").alias("x"),
    )
    cnt = base.groupBy("grp", "x").agg(
        F.count("*").cast("long").alias("c")
    )
    wv = Window.partitionBy("grp").orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rmap = cnt.select(
        "grp",
        "x",
        (
            F.lit(2) * F.coalesce(F.sum("c").over(wv), F.lit(0))
            + F.col("c")
            + F.lit(1)
        )
        .cast("long")
        .alias("r2"),
    )
    tot = base.groupBy("grp").agg(F.count("*").cast("long").alias("n"))
    rows = base.join(rmap, ["grp", "x"]).join(F.broadcast(tot), "grp")
    w = Window.partitionBy("grp").orderBy("t")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored = rows.select(
        "grp",
        "n",
        "t",
        (
            F.sum("r2").over(wc)
            - F.row_number().over(w).cast("long") * (F.col("n") + 1)
        )
        .cast("long")
        .alias("ut"),
    )
    agg = scored.groupBy("grp").agg(
        F.max("n").cast("long").alias("n_periods"),
        F.min(
            F.struct(
                (-F.abs(F.col("ut"))).alias("nk"),
                F.col("t").alias("tt"),
                F.col("ut").alias("u"),
            )
        ).alias("__k"),
    )
    k = F.abs(F.col("__k.u")).cast("double")
    nd = F.col("n_periods").cast("double")
    p = F.lit(2.0) * F.exp(
        -F.lit(6.0) * k * k / (nd * nd * nd + nd * nd)
    )
    return agg.select(
        "grp",
        "n_periods",
        F.abs(F.col("__k.u")).cast("long").alias("k_stat"),
        F.col("__k.tt").alias("change_t"),
        F.least(F.lit(1.0), p).alias("p_approx"),
    )


def circular_stats(
    df: DataFrame,
    group_col: str,
    pos_col: str,
    period: int,
) -> DataFrame:
    """Circular statistics of an integer cyclic position (hour 0..23,
    weekday 0..6) per group: mean resultant length Rbar (0 = uniform
    around the clock, 1 = concentrated), mean direction as a
    fractional position, the Rayleigh uniformity test
    z = n*Rbar^2 with its standard small-sample approximation, and
    the von Mises concentration kappa by the Best-Fisher piecewise
    MoM — "WHEN does this activity happen, and how strongly?"
    Charter §2B extension.

    Determinism: angles are 2*pi*(pos mod period)/period (integer-
    reduced, the q603 contract); unit cos/sin terms quantize to
    decimal(38,12) (grid far coarser than the ulp of |t| <= 1);
    readouts are fixed trees (atan2 maps back to position space).
    Callers ROUND (<= 9).

    Scale design: ONE map-side-combinable grouped aggregate.
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    dq = "decimal(38,12)"
    ang = (
        F.lit(2.0)
        * F.lit(3.141592653589793)
        * (F.col(pos_col).cast("long") % period).cast("double")
        / F.lit(float(period))
    )
    base = df.select(
        F.col(group_col).alias("grp"),
        F.round(F.cos(ang), 12).cast(dq).alias("c"),
        F.round(F.sin(ang), 12).cast(dq).alias("s"),
    )
    agg = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("c").cast(dq).alias("sc"),
        F.sum("s").cast(dq).alias("ss"),
    )
    nd = F.col("n_rows").cast("double")
    cd = F.col("sc").cast("double")
    sd_ = F.col("ss").cast("double")
    rbar = F.sqrt(cd * cd + sd_ * sd_) / nd
    mean_ang = F.atan2(sd_, cd)
    mean_pos = (
        (mean_ang / (F.lit(2.0) * F.lit(3.141592653589793)))
        * F.lit(float(period))
        + F.lit(float(period))
    ) % F.lit(float(period))
    z = nd * rbar * rbar
    p = F.exp(-z) * (
        F.lit(1.0)
        + (F.lit(2.0) * z - z * z) / (F.lit(4.0) * nd)
    )
    kappa = (
        F.when(
            rbar < 0.53,
            F.lit(2.0) * rbar
            + rbar * rbar * rbar
            + F.lit(5.0) * rbar * rbar * rbar * rbar * rbar / F.lit(6.0),
        )
        .when(
            rbar < 0.85,
            F.lit(-0.4)
            + F.lit(1.39) * rbar
            + F.lit(0.43) / (F.lit(1.0) - rbar),
        )
        .otherwise(
            F.lit(1.0)
            / (
                rbar * rbar * rbar
                - F.lit(4.0) * rbar * rbar
                + F.lit(3.0) * rbar
            )
        )
    )
    return agg.select(
        "grp",
        "n_rows",
        rbar.alias("rbar"),
        mean_pos.alias("mean_pos"),
        z.alias("rayleigh_z"),
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), p)).alias("p_approx"),
        kappa.alias("kappa_mom"),
    )


def circular_linear_corr(
    df: DataFrame,
    group_col: str,
    pos_col: str,
    value_col: str,
    period: int,
) -> DataFrame:
    """Circular-linear correlation per group between a cyclic integer
    position and a linear integer metric (Mardia):
    r^2 = (r_xc^2 + r_xs^2 - 2 r_xc r_xs r_cs) / (1 - r_cs^2) from
    the three Pearson correlations of (value, cos, sin) — does the
    metric MOVE with the clock (q603 asks about the series; this
    asks about row-level association). Charter §2B extension.

    Determinism: value moments are exact integers/decimals; cos/sin
    moments quantize to decimal(38,12) (unit magnitude — grid
    coarser than ulp); the Pearson pieces and the fold are fixed
    trees; callers ROUND (<= 9). Degenerate denominators read NULL.
    Scale: ONE grouped aggregate.
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    d38 = "decimal(38,0)"
    dq = "decimal(38,12)"
    ang = (
        F.lit(2.0)
        * F.lit(3.141592653589793)
        * (F.col(pos_col).cast("long") % period).cast("double")
        / F.lit(float(period))
    )
    x = F.col(value_col).cast("long")
    base = df.select(
        F.col(group_col).alias("grp"),
        x.alias("x"),
        F.round(F.cos(ang), 12).cast(dq).alias("c"),
        F.round(F.sin(ang), 12).cast(dq).alias("s"),
    )
    xc = F.col("x").cast("double") * F.col("c").cast("double")
    xs = F.col("x").cast("double") * F.col("s").cast("double")
    cs = F.col("c").cast("double") * F.col("s").cast("double")
    cc = F.col("c").cast("double") * F.col("c").cast("double")
    ss_ = F.col("s").cast("double") * F.col("s").cast("double")
    agg = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
        F.sum(F.col("c").cast(dq)).cast(dq).alias("sc"),
        F.sum(F.col("s").cast(dq)).cast(dq).alias("ss"),
        F.sum(F.round(xc, 6).cast("decimal(38,6)"))
        .cast("decimal(38,6)")
        .alias("sxc"),
        F.sum(F.round(xs, 6).cast("decimal(38,6)"))
        .cast("decimal(38,6)")
        .alias("sxs"),
        F.sum(F.round(cs, 12).cast(dq)).cast(dq).alias("scs"),
        F.sum(F.round(cc, 12).cast(dq)).cast(dq).alias("scc"),
        F.sum(F.round(ss_, 12).cast(dq)).cast(dq).alias("sss"),
    )
    nd = F.col("n_rows").cast("double")

    def corr(sab, sa, sb, daa, dbb):
        num = nd * sab - sa * sb
        return num / F.sqrt(daa * dbb)

    sxd = F.col("sx").cast("double")
    dxx = (
        F.col("n_rows").cast(d38) * F.col("sxx")
        - F.col("sx").cast(d38) * F.col("sx")
    ).cast(d38).cast("double")
    scd = F.col("sc").cast("double")
    ssd = F.col("ss").cast("double")
    dcc = nd * F.col("scc").cast("double") - scd * scd
    dss = nd * F.col("sss").cast("double") - ssd * ssd
    rxc = (nd * F.col("sxc").cast("double") - sxd * scd) / F.sqrt(
        dxx * dcc
    )
    rxs = (nd * F.col("sxs").cast("double") - sxd * ssd) / F.sqrt(
        dxx * dss
    )
    rcs = (nd * F.col("scs").cast("double") - scd * ssd) / F.sqrt(
        dcc * dss
    )
    r2 = (rxc * rxc + rxs * rxs - F.lit(2.0) * rxc * rxs * rcs) / (
        F.lit(1.0) - rcs * rcs
    )
    ok = (dxx > 0) & (dcc > 0) & (dss > 0)
    return agg.select(
        "grp",
        "n_rows",
        F.when(ok, rxc).alias("r_xc"),
        F.when(ok, rxs).alias("r_xs"),
        F.when(ok, rcs).alias("r_cs"),
        F.when(ok, r2).alias("r2_circ_lin"),
    )


def newey_west_lrv(
    df: DataFrame,
    order_col: str,
    value_col: str,
    max_lag: int = 5,
) -> DataFrame:
    """Newey-West (Bartlett-kernel) long-run variance of a series and
    the HAC standard error of its mean — the serial-correlation-robust
    upgrade of se = s/sqrt(n) (Charter §2B; no reference counterpart):

        lrv = gamma_0 + 2 * sum_{l=1..L} (1 - l/(L+1)) * gamma_l,
        gamma_l = (1/n) * sum_t u_t * u_{t+l},  u_t = y_t - ybar

    computed EXACTLY in n-scaled integer space: v_t = n*y_t - S keeps
    the demeaned series integer (u_t = v_t/n), and multiplying
    through by n^3*(L+1) makes the whole kernel sum one exact
    decimal(38,0) integer:

        lrv * n^3 * (L+1) = (L+1)*G_0 + 2*sum_l (L+1-l)*G_l,
        G_l = sum_t v_t * v_{t+l}.

    The readout is ONE division of that exact decimal by n^3*(L+1)
    (both < 2^53 for any realistic day count), then se_mean =
    sqrt(lrv/n) — a fixed tree, no quantization grid needed anywhere.

    Scale: the lag products come from L lead() columns over the
    POST-AGGREGATE ordered series (the documented bounded-window
    contract — aggregate to the series grain first); one final
    aggregate emits everything.

    Returns one row: (n, lrv, gamma0, se_mean_hac, se_mean_iid).
    Band y so n*y fits comfortably (kilo-unit a money series): the
    ROUND(lrv, 6) readout needs lrv*1e6 inside exact-double range
    (q604 rule) — at a coarser banding, widen the readout grid.
    """
    d38 = "decimal(38,0)"
    L = int(max_lag)
    base = df.select(
        F.col(order_col).alias("o"), F.col(value_col).cast("long").alias("y")
    )
    tot = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    v = base.crossJoin(F.broadcast(tot)).select(
        "o",
        "n",
        (F.col("n").cast(d38) * F.col("y") - F.col("s")).cast(d38).alias("v"),
    )
    w = Window.orderBy("o")
    for lag in range(1, L + 1):
        v = v.withColumn(f"v{lag}", F.lead("v", lag).over(w))
    aggs = [
        F.max("n").alias("n"),
        F.sum((F.col("v") * F.col("v")).cast(d38)).cast(d38).alias("g0"),
    ]
    for lag in range(1, L + 1):
        aggs.append(
            F.sum((F.col("v") * F.col(f"v{lag}")).cast(d38))
            .cast(d38)
            .alias(f"g{lag}")
        )
    agg = v.agg(*aggs)
    kern = (F.lit(L + 1).cast(d38) * F.col("g0")).cast(d38)
    for lag in range(1, L + 1):
        kern = (
            kern
            + (
                F.lit(2 * (L + 1 - lag)).cast(d38)
                * F.coalesce(F.col(f"g{lag}"), F.lit(0).cast(d38))
            ).cast(d38)
        ).cast(d38)
    n = F.col("n")
    denom = (n * n * n).cast("double") * F.lit(float(L + 1))
    lrv = kern.cast("double") / denom
    g0d = F.col("g0").cast("double") / (n * n * n).cast("double")
    return agg.select(
        "n",
        F.round(lrv, 6).alias("lrv"),
        F.round(g0d, 6).alias("gamma0"),
        F.round(F.sqrt(lrv / n.cast("double")), 9).alias("se_mean_hac"),
        F.round(
            F.sqrt(
                (g0d * n.cast("double") / (n - 1).cast("double"))
                / n.cast("double")
            ),
            9,
        ).alias("se_mean_iid"),
    )
