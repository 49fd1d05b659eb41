"""Association mining: co-occurrence lift over (basket, item) facts.

Charter §2B extension (no reference counterpart — RoberWaters/ETL-Java,
src/etl/ETLProcess.java:1-568, has no analytics surface). Market-basket
item-item affinity is the classic warehouse-adjacent analytics job: the
same shape powers "bought together" recommendations, co-view graphs, and
feature co-occurrence stats for training-data analysis.

Scale stance: the only quadratic step is the within-basket pair
generation, which is bounded by ``max_items_per_basket`` (top-N by item
id, deterministic) — pairs are O(baskets x cap^2) no matter how skewed
the basket-size distribution is. Counts are map-side-combinable
aggregates; the lift division is one IEEE double op over exact integer
counts, so results are bit-reproducible on any partitioning and
replayable by a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.checkpoints import make_checkpointer, materialize, release


def copurchase_lift(
    facts: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 5,
    max_items_per_basket: int | None = 64,
) -> DataFrame:
    """Item-item co-occurrence with lift: for each unordered item pair
    appearing in >= ``min_support`` common baskets,
    lift = n_ab * N / (n_a * n_b) where N = #baskets. lift > 1 means
    the pair co-occurs more than independence predicts.

    Returns (item_a, item_b, n_ab, n_a, n_b, lift) with item_a < item_b.
    """
    it = facts.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    if max_items_per_basket is not None:
        w = Window.partitionBy("__b").orderBy("__i")
        it = (
            it.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_items_per_basket)
            .drop("__rn")
        )
    # Four consumers (basket count, item counts, both pair-join sides):
    # materialize the deduped/capped fact once instead of re-shuffling it
    # per consumer.
    it = materialize(it)
    n_baskets = it.agg(F.countDistinct("__b").alias("__nb"))
    item_counts = it.groupBy("__i").agg(F.count("*").alias("__ni"))
    a, b = it.alias("a"), it.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.__b") == F.col("b.__b")) & (F.col("a.__i") < F.col("b.__i")),
        )
        .groupBy(F.col("a.__i").alias("item_a"), F.col("b.__i").alias("item_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    ca = item_counts.select(F.col("__i").alias("item_a"), F.col("__ni").alias("n_a"))
    cb = item_counts.select(F.col("__i").alias("item_b"), F.col("__ni").alias("n_b"))
    return (
        pairs.join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a", "item_b", "n_ab", "n_a", "n_b",
            (
                (F.col("n_ab") * F.col("__nb")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


def linear_attribution(
    purchases: DataFrame,
    touches: DataFrame,
    purchase_id: str = "event_id",
    user_col: str = "user_id",
    purchase_ts: str = "ts",
    touch_ts: str = "touch_ts",
    cents_col: str = "cents",
    channel_col: str = "channel",
    window_seconds: int = 3600,
) -> DataFrame:
    """Linear multi-touch attribution: every touch (click/impression)
    in the lookback window before a purchase shares the revenue
    credit EQUALLY — the fairness-first alternative to last-touch
    (q199), which hands everything to whoever got lucky last.

    Credit is conserved EXACTLY in integer micro-cents: each of the k
    touches gets floor(cents * 10000 / k); the division remainder goes
    to the EARLIEST touch (deterministic tie-break by touch time then
    channel), so per-purchase credits always sum to cents * 10000 —
    no float credit, no drift, engine-bitwise.

    Returns per-channel rows: (channel, n_touches,
    attributed_microcents).

    Scale: one equi-join on the user key with a time-range residual
    (the as-of join family's shape), one per-purchase window for the
    touch count/rank, one channel aggregate. Touch fan-out is bounded
    by the lookback window.
    """
    p = purchases.select(
        F.col(user_col).alias("__u"),
        F.col(purchase_ts).cast("long").alias("__pt"),
        F.col(cents_col).alias("__c"),
        F.col(purchase_id).alias("__pid"),
    )
    t = touches.select(
        F.col(user_col).alias("__u"),
        F.col(touch_ts).cast("long").alias("__tt"),
        F.col(channel_col).alias("channel"),
    )
    joined = p.join(t, on="__u").filter(
        (F.col("__tt") < F.col("__pt"))
        & (F.col("__tt") >= F.col("__pt") - window_seconds)
    )
    w = Window.partitionBy("__pid")
    w_rank = w.orderBy("__tt", "channel")
    ranked = joined.withColumn("__k", F.count("*").over(w)).withColumn(
        "__rn", F.row_number().over(w_rank)
    )
    micro = F.col("__c").cast("long") * 10000
    # exact integer floor-division: (micro - micro % k) is divisible by
    # k, so the double division is exact (quotient < 2^53) — no float
    # floor ties to worry about on any engine
    rem = micro % F.col("__k")
    base = ((micro - rem) / F.col("__k")).cast("long")
    credit = base + F.when(F.col("__rn") == 1, rem).otherwise(0)
    return (
        ranked.select("channel", credit.alias("__credit"))
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum(F.col("__credit").cast("decimal(38,0)"))
            .cast("long")
            .alias("attributed_microcents"),
        )
    )


def markov_attribution(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    tiebreak_col: str,
    conv_type: str,
    max_len: int = 8,
    steps: int = 8,
) -> DataFrame:
    """Markov removal-effect attribution (the data-driven alternative
    to first/last/linear touch, q199/q300): fit a first-order Markov
    chain over each user's channel path (time order, id tiebreak,
    truncated at the FIRST conversion or ``max_len`` events; paths
    without a conversion terminate in the NULL state), then credit
    each channel by its REMOVAL EFFECT — how much the bounded-step
    conversion probability drops when visits to that channel fail:

        v_0 = 1 on CONV else 0
        v_k+1(s) = sum_s' P(s -> s') * v_k(s')      (CONV absorbing)
        RE(c) = 1 - v_steps^(minus c)(START) / v_steps(START)

    ``steps``-bounded value iteration is the exactness contract: every
    variant (full + one per removed channel) iterates the SAME
    metadata-sized transition table (tagged by variant, one join per
    round for ALL variants), probabilities are exact-count divisions
    and per-round sums go through decimal — the whole recurrence
    replays in SQL as unrolled CTEs.

    Scale: paths need one window shuffle over the events; everything
    after operates on the (#variants x #states^2) transition table —
    metadata regardless of event volume. Returns per channel:
    (channel, p_conv_full, p_conv_without, removal_effect, share).
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    ranked = events.select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__e"),
        F.row_number().over(w).alias("__rn"),
    )
    # first-conversion rank via a second window over the SAME user
    # partitioning (one exchange total) — a ranked-joined-to-ranked
    # aggregate here recomputed the ranking window twice (measured ~2x
    # the path stage)
    wu = Window.partitionBy("__u")
    lim = ranked.withColumn(
        "__crn",
        F.coalesce(
            F.min(
                F.when(F.col("__e") == conv_type, F.col("__rn"))
            ).over(wu),
            F.lit(1 << 30),
        ),
    )
    kept = lim.filter(
        F.col("__rn") <= F.least(F.col("__crn"), F.lit(max_len))
    ).withColumn(
        "__s",
        F.when(F.col("__e") == conv_type, F.lit("CONV")).otherwise(F.col("__e")),
        # eager=False (r12): the channel collect below materializes
        # kept/trans in ONE action instead of three synchronous
        # checkpoint jobs; later consumers reuse the cached RDDs.
        # localCheckpoint, NOT persist (r13): the corpus-wide persist
        # swap measured q340 7.4 -> 15.1s with persist here — the
        # attribution loop's plans re-embed this subtree every round
        # without the checkpoint's lineage truncation.
    ).transform(materialize, eager=False)
    # successor via lead() over the SAME (user, rn) partitioning — a
    # (u, rn) self-join here was the hot spot (a full shuffle join of
    # the path table with itself; measured ~2x the whole query)
    w2 = Window.partitionBy("__u").orderBy("__rn")
    steps_t = kept.select(
        "__u", "__rn", "__s",
        F.coalesce(
            F.lead("__s").over(w2),
            F.when(F.col("__s") == "CONV", F.lit(None)).otherwise(F.lit("NULL")),
        ).alias("__to"),
    )
    first = kept.filter(F.col("__rn") == 1).select(
        "__u", F.lit(0).alias("__rn"), F.lit("START").alias("__s"),
        F.col("__s").alias("__to"),
    )
    trans_rows = steps_t.filter(F.col("__to").isNotNull()).select(
        "__s", "__to"
    ).unionByName(first.select("__s", "__to"))
    counts = trans_rows.groupBy("__s", "__to").agg(F.count("*").alias("__n"))
    tot = counts.groupBy("__s").agg(F.sum("__n").alias("__tot"))
    trans = counts.join(tot, "__s").select(
        "__s", "__to",
        (F.col("__n").cast("double") / F.col("__tot").cast("double")).alias("__p"),
    ).transform(materialize, eager=False)
    channels = [
        r["__s"] for r in trans.select("__s").distinct().collect()
        if r["__s"] not in ("START", "CONV", "NULL")
    ]
    channels.sort()
    variants = trans.sparkSession.createDataFrame(
        [("full",)] + [(c,) for c in channels], "__var string"
    )
    vtrans = (
        trans.crossJoin(F.broadcast(variants))
        .filter((F.col("__var") == "full") | (F.col("__s") != F.col("__var")))
        .transform(materialize, eager=False)
    )
    v = variants.select("__var", F.lit("CONV").alias("__st"), F.lit(1.0).alias("__val"))
    for _ in range(steps):
        # rename the value vector's key columns before the join: from
        # round 2 on, v derives from vtrans, and same-name column refs
        # across that lineage trip Spark's trivially-true-predicate
        # ambiguity warning
        vj = v.select(
            F.col("__var").alias("__var2"),
            F.col("__st").alias("__st2"),
            F.col("__val"),
        )
        prop = (
            vtrans.join(
                vj,
                (F.col("__var") == F.col("__var2"))
                & (F.col("__to") == F.col("__st2")),
            )
            .select(
                F.col("__var"),
                F.col("__s").alias("__st"),
                (F.col("__p") * F.col("__val")).alias("__c"),
            )
            .groupBy("__var", "__st")
            .agg(F.sum(F.col("__c").cast("decimal(38,18)")).cast("double").alias("__val"))
        )
        # NO per-round checkpoint: the value vector is #variants x
        # #states rows, so an 8-round lazy DAG is cheap to plan and
        # saves 8 materialization jobs (measured 9.1s -> much less at
        # sf0.1); the path/transition tables above ARE checkpointed.
        # (Re-tested r12: per-round eager ckpt measured ~2s SLOWER —
        # the growing per-job task counts in the profile are AQE
        # listing SKIPPED/reused stages, not recomputation.)
        v = prop.filter(F.col("__st") != "CONV").unionByName(
            variants.select(
                "__var", F.lit("CONV").alias("__st"), F.lit(1.0).alias("__val")
            )
        )
    # a variant in which CONV became unreachable has NO START row in v
    # (the inner join drops it) — that is exactly the removal effect 1.0
    # case, so left-join from the variant list and read missing as 0.
    start = variants.join(
        v.filter(F.col("__st") == "START").select(
            F.col("__var").alias("__v2"), F.col("__val").alias("__pconv")
        ),
        variants["__var"] == F.col("__v2"),
        "left",
    ).select("__var", F.coalesce("__pconv", F.lit(0.0)).alias("__pconv"))
    full = start.filter(F.col("__var") == "full").select(
        F.col("__pconv").alias("__pfull")
    )
    per = (
        start.filter(F.col("__var") != "full")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("__var").alias("channel"),
            F.col("__pfull").alias("p_conv_full"),
            F.col("__pconv").alias("p_conv_without"),
            F.when(
                F.col("__pfull") > 0,
                F.lit(1.0) - F.col("__pconv") / F.col("__pfull"),
            ).otherwise(F.lit(0.0)).alias("__re"),
        )
    )
    tot_re = per.agg(
        F.sum(F.col("__re").cast("decimal(38,18)")).cast("double").alias("__tre")
    )
    return per.crossJoin(F.broadcast(tot_re)).select(
        "channel",
        F.round("p_conv_full", 12).alias("p_conv_full"),
        F.round("p_conv_without", 12).alias("p_conv_without"),
        F.round("__re", 12).alias("removal_effect"),
        F.when(
            F.col("__tre") > 0, F.round(F.col("__re") / F.col("__tre"), 12)
        ).alias("share"),
    )


def shapley_attribution(
    events: DataFrame,
    user_col: str,
    type_col: str,
    conv_type: str,
    channels: list[str],
) -> DataFrame:
    """Exact Shapley-value channel attribution — the game-theoretic
    alternative to Markov removal effects (:func:`markov_attribution`):
    each channel's credit is its average marginal contribution over all
    orderings of the channel coalition,

        phi_i = sum over S subset of C minus {i} of
                |S|! (c-|S|-1)! / c! * [v(S + i) - v(S)]

    with coalition value v(S) = number of CONVERTING users whose
    touched-channel set is contained in S (the "these channels alone
    could have served the journey" convention; untouched channels never
    dilute credit).

    Exactness and scale: users reduce to a (channel-set bitmask,
    converted) pair in ONE aggregate pass; masks collapse to at most
    2^c count cells; v over all 2^c coalitions is a bounded
    mask-containment join (2^c x 2^c — ``channels`` must be the SMALL
    curated channel list, 1..12); the factorial weights are exact
    integer numerators over the common denominator c!, so each phi is
    ONE double division of an exact decimal — bit-identical on any
    engine. Returns per channel: (channel, phi, share), rounded to 12.
    """
    import math as _m

    c = len(channels)
    if not 1 <= c <= 12:
        raise ValueError("channels must list 1..12 curated channels")
    fact = [_m.factorial(i) for i in range(c + 1)]
    bit = {ch: 1 << i for i, ch in enumerate(channels)}
    aggs = [
        F.max(
            F.when(F.col(type_col) == ch, F.lit(b)).otherwise(F.lit(0))
        ).alias(f"__b{b}")
        for ch, b in bit.items()
    ]
    aggs.append(
        F.max((F.col(type_col) == conv_type).cast("int")).alias("__conv")
    )
    per_user = events.groupBy(F.col(user_col).alias("__u")).agg(*aggs)
    mask = sum((F.col(f"__b{b}") for b in bit.values()), F.lit(0))
    cells = (
        per_user.select(mask.cast("long").alias("mask"), F.col("__conv").alias("conv"))
        .groupBy("mask")
        .agg(F.sum("conv").cast("long").alias("n_conv"))
    )
    spark = events.sparkSession
    coal = spark.range(0, 2 ** c).select(F.col("id").alias("s"))
    v = (
        coal.join(
            F.broadcast(cells),
            F.col("mask").bitwiseAND(F.col("s")) == F.col("mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("long").alias("v0"))
    )
    # v is <= 2^c rows but every per-channel phi branch references it
    # twice — pin it so the events scan and user aggregate run ONCE,
    # not 2c times (plan audit measured 16 scans without this)
    v = materialize(v)

    def phi_for(ch: str, b: int) -> DataFrame:
        # weight |S|! (c-|S|-1)! selected by popcount of the S mask
        wgt = F.element_at(
            F.array(*[F.lit(fact[k] * fact[c - k - 1]) for k in range(c)]),
            F.bit_count(F.col("s")).cast("int") + 1,
        )
        base = v.filter(F.col("s").bitwiseAND(F.lit(b)) == 0)
        plus = v.select(
            (F.col("s").bitwiseXOR(F.lit(b))).alias("s"),
            F.col("v0").alias("v1"),
        )
        return (
            base.join(plus, "s")
            .agg(
                F.sum(
                    (F.col("v1") - F.col("v0")).cast("decimal(38,0)") * wgt
                ).alias("num")
            )
            .select(
                F.lit(ch).alias("channel"),
                (F.col("num").cast("double") / F.lit(float(fact[c]))).alias(
                    "phi"
                ),
            )
        )

    out = phi_for(channels[0], bit[channels[0]])
    for ch in channels[1:]:
        out = out.unionByName(phi_for(ch, bit[ch]))
    tot = out.agg(F.sum("phi").alias("tot"))
    return out.crossJoin(F.broadcast(tot)).select(
        "channel",
        F.round("phi", 12).alias("phi"),
        # try_divide: zero total credit (no channel ever moves v) gives
        # NULL shares, not an ANSI divide-by-zero raise
        F.round(F.try_divide(F.col("phi"), F.col("tot")), 12).alias("share"),
    )


def markov_stationary(
    transitions: DataFrame,
    prev_col: str = "prev_type",
    next_col: str = "next_type",
    p_col: str = "p",
    sweeps: int = 3,
) -> DataFrame:
    """Stationary distribution of a first-order Markov chain by FIXED
    power sweeps — "where does user behavior settle?", the long-run
    summary of the transition matrix (markov_attribution walks
    conversions; this walks the chain itself):

        v_0 = uniform;  v_{k+1}(s) = SUM_prev v_k(prev) p(prev -> s)

    Input is the (prev, next, p) row-normalized TRANSITION table
    (metadata-sized — states, not rows; the expensive counting pass
    is upstream, e.g. q188). A budgeted sweep count keeps the plan
    static (the pagerank discipline); per-state sums pass through
    decimal(38,18) casts so shuffle order cannot perturb the result.
    States with no outgoing rows leak mass (documented pagerank
    simplification — row-normalized inputs from a closed event
    alphabet don't have them). Returns (state, prob) after ``sweeps``
    sweeps, one row per state that appears in either column.
    """
    held: list[DataFrame] = []
    ckpt = make_checkpointer(held)
    t = transitions.select(
        F.col(prev_col).alias("pv"),
        F.col(next_col).alias("nx"),
        F.col(p_col).cast("double").alias("p"),
    ).transform(ckpt)
    states = (
        t.select(F.col("pv").alias("state"))
        .unionByName(t.select(F.col("nx").alias("state")))
        .distinct()
        .transform(ckpt)
    )
    k = states.count()
    v = states.withColumn("prob", F.lit(1.0 / k))
    for _ in range(sweeps):
        nxt = (
            t.join(v, t.pv == v.state)
            .select("nx", (F.col("prob") * F.col("p")).alias("m"))
            .groupBy("nx")
            .agg(
                F.sum(F.col("m").cast("decimal(38,18)"))
                .cast("double")
                .alias("prob")
            )
            .select(F.col("nx").alias("state"), "prob")
        )
        v = (
            states.join(nxt, "state", "left")
            .select(
                "state", F.coalesce("prob", F.lit(0.0)).alias("prob")
            )
            .transform(ckpt)
        )
    # zero sweeps: the result is a projection of ``states``
    release(*held, keep=[v if sweeps else states])
    return v


def gk_lambda(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Goodman-Kruskal lambda — proportional-reduction-in-error
    association for two CATEGORICAL columns: "how much better do I
    predict Y once I know X?" (0 = knowing X never changes the modal
    guess, 1 = X determines Y). The modal-prediction counterpart of
    the chi-square family (q413 Cramer's V measures departure from
    independence; lambda measures usable predictive value):

        lambda(Y|X) = (SUM_x max_y c_xy - max_y c_y) / (N - max_y c_y)

    plus the symmetric average-of-both-directions form.

    Scale: one (x, y) grouped count (map-side combinable); everything
    downstream runs on the contingency TABLE (bounded by the category
    domain, not the data). All numerators/denominators exact integers;
    the three ratios are fixed double trees.

    Returns one row: (n, sum_rowmax, sum_colmax, max_row_total,
    max_col_total, lambda_y_given_x, lambda_x_given_y, lambda_sym).
    """
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    rowmax = cells.groupBy("x").agg(F.max("c").cast("long").alias("m"))
    colmax = cells.groupBy("y").agg(F.max("c").cast("long").alias("m"))
    rowtot = cells.groupBy("x").agg(F.sum("c").cast("long").alias("t"))
    coltot = cells.groupBy("y").agg(F.sum("c").cast("long").alias("t"))
    a = cells.agg(F.sum("c").cast("long").alias("n"))
    b = rowmax.agg(F.sum("m").cast("long").alias("sum_rowmax"))
    c = colmax.agg(F.sum("m").cast("long").alias("sum_colmax"))
    d = rowtot.agg(F.max("t").cast("long").alias("max_row_total"))
    e = coltot.agg(F.max("t").cast("long").alias("max_col_total"))
    one = a.crossJoin(b).crossJoin(c).crossJoin(d).crossJoin(e)
    nd = F.col("n").cast("double")
    srm = F.col("sum_rowmax").cast("double")
    scm = F.col("sum_colmax").cast("double")
    mrt = F.col("max_row_total").cast("double")
    mct = F.col("max_col_total").cast("double")
    # try_divide: a single-category axis makes the denominator 0 —
    # lambda is undefined (NULL), not an ANSI raise
    lam_yx = F.try_divide(srm - mct, nd - mct)
    lam_xy = F.try_divide(scm - mrt, nd - mrt)
    lam_s = F.try_divide(
        srm + scm - mrt - mct, F.lit(2.0) * nd - mrt - mct
    )
    return one.select(
        "n", "sum_rowmax", "sum_colmax", "max_row_total", "max_col_total",
        lam_yx.alias("lambda_y_given_x"),
        lam_xy.alias("lambda_x_given_y"),
        lam_s.alias("lambda_sym"),
    )


def theils_u(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Theil's U (uncertainty coefficient) — the ASYMMETRIC entropy
    association U(Y|X) = (H(Y) - H(Y|X)) / H(Y): the fraction of Y's
    entropy that knowing X removes. The information-theoretic sibling
    of :func:`gk_lambda` (lambda sees only modal mass; U sees the
    whole distribution), built on the same count identities as
    corpus.conditional_entropy:

        H(Y)   = ln N - (SUM_y c_y ln c_y) / N
        H(Y|X) = (SUM_x c_x ln c_x - SUM_xy c_xy ln c_xy) / N

    Scale: one (x, y) grouped count; marginals derive FROM the cell
    table (no second data pass). The contingency table must be
    category-bounded (metadata-sized).

    Determinism (r12 hardening, the q434 lesson): each entropy term
    is c * ROUND(ln(c), 9)::decimal(12,9) — the ln factor quantizes
    to the 1e-9 grid (~6 orders coarser than its ulp, so 1-ulp
    libm/JIT latitude maps both engines to the same grid point) and
    the exact-integer count multiplies IN DECIMAL, so the sums are
    exact order-free decimal adds (no ordered fold needed); the H
    readouts are one fixed double tree. Callers round per the log
    contract.

    Returns one row: (n, n_cells, h_y_bits, h_y_given_x_bits, theil_u).
    """
    ln2 = 0.6931471805599453
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(
            F.col(x_col).cast("string").alias("x"),
            F.col(y_col).cast("string").alias("y"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .transform(materialize)
    )
    cx = cells.groupBy("x").agg(F.sum("c").cast("long").alias("c"))
    cy = cells.groupBy("y").agg(F.sum("c").cast("long").alias("c"))

    def fold(t: DataFrame, keys: list[str], alias: str) -> DataFrame:
        term = F.col("c").cast("decimal(15,0)") * F.round(
            F.log(F.col("c").cast("double")), 9
        ).cast("decimal(12,9)")
        return t.agg(F.sum(term).cast("double").alias(alias))

    tot = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_cells"),
    )
    one = (
        tot.crossJoin(fold(cy, ["y"], "syf"))
        .crossJoin(fold(cx, ["x"], "sxf"))
        .crossJoin(fold(cells, ["x", "y"], "sxyf"))
    )
    nd = F.col("n").cast("double")
    hy = (F.log(nd) - F.col("syf") / nd) / F.lit(ln2)
    hcond = ((F.col("sxf") - F.col("sxyf")) / nd) / F.lit(ln2)
    return one.select(
        "n",
        "n_cells",
        hy.alias("h_y_bits"),
        hcond.alias("h_y_given_x_bits"),
        F.try_divide(hy - hcond, hy).alias("theil_u"),
    )


def tail_dependence(
    df: DataFrame,
    x_col: str,
    y_col: str,
    q_num: int = 9,
    q_den: int = 10,
) -> DataFrame:
    """Empirical tail-dependence coefficients of two BANDED integer
    metrics: with the q = q_num/q_den marginal thresholds (lower-
    quantile convention, exact integer compares),
    lambda_upper = P(y > y_q | x > x_q) and
    lambda_lower = P(y <= y_{1-q} | x <= x_{1-q}) — do extremes
    co-occur beyond what mid-range correlation says? The copula-free
    joint-risk readout beside q85's Pearson and q374's Spearman.
    Charter §2B extension (quantized-input contract: band
    continuous metrics upstream).

    Determinism: thresholds come from distinct-value cumulative
    count tables with exact integer compares (den*cum >= num*n);
    all four conditional counts are exact integers; the two lambdas
    are single double divisions; callers ROUND (<= 9).

    Scale design: two distinct-value windows + ONE scan aggregate
    with the broadcast threshold row.
    """
    if not (0 < q_num < q_den):
        raise ValueError("need 0 < q_num < q_den")
    base = df.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    n_row = base.agg(F.count("*").cast("long").alias("n"))

    def thr(col):
        cnt = base.groupBy(col).agg(F.count("*").cast("long").alias("c"))
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = cnt.select(
            F.col(col), F.sum("c").over(w).cast("long").alias("cw")
        ).crossJoin(F.broadcast(n_row))
        hi = cum.agg(
            F.min(
                F.when(
                    F.lit(q_den) * F.col("cw") >= F.lit(q_num) * F.col("n"),
                    F.col(col),
                )
            ).alias(f"{col}_hi"),
            F.min(
                F.when(
                    F.lit(q_den) * F.col("cw")
                    >= F.lit(q_den - q_num) * F.col("n"),
                    F.col(col),
                )
            ).alias(f"{col}_lo"),
        )
        return hi

    thrs = thr("x").crossJoin(thr("y"))
    j = base.crossJoin(F.broadcast(thrs))
    agg = j.agg(
        F.count("*").cast("long").alias("n"),
        F.max("x_hi").cast("long").alias("x_hi"),
        F.max("y_hi").cast("long").alias("y_hi"),
        F.max("x_lo").cast("long").alias("x_lo"),
        F.max("y_lo").cast("long").alias("y_lo"),
        F.sum(F.when(F.col("x") > F.col("x_hi"), 1).otherwise(0))
        .cast("long")
        .alias("mx_hi"),
        F.sum(
            F.when(
                (F.col("x") > F.col("x_hi")) & (F.col("y") > F.col("y_hi")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("joint_hi"),
        F.sum(F.when(F.col("x") <= F.col("x_lo"), 1).otherwise(0))
        .cast("long")
        .alias("mx_lo"),
        F.sum(
            F.when(
                (F.col("x") <= F.col("x_lo"))
                & (F.col("y") <= F.col("y_lo")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("joint_lo"),
    )
    return agg.select(
        "n",
        "x_hi",
        "y_hi",
        "x_lo",
        "y_lo",
        "mx_hi",
        "joint_hi",
        "mx_lo",
        "joint_lo",
        F.when(
            F.col("mx_hi") > 0,
            F.col("joint_hi").cast("double") / F.col("mx_hi").cast("double"),
        ).alias("lambda_upper"),
        F.when(
            F.col("mx_lo") > 0,
            F.col("joint_lo").cast("double") / F.col("mx_lo").cast("double"),
        ).alias("lambda_lower"),
    )


def contingency_residuals(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Haberman adjusted standardized residuals per contingency cell:
    r_ij = (O - E) / sqrt(E * (1 - row_i/n) * (1 - col_j/n)) with
    E = row_i * col_j / n — WHICH cells drive a significant q440
    G-test / chi-square (|r| > 2 is the conventional callout).
    Charter §2B extension.

    Determinism: all counts exact integers; E and the residual are
    fixed double trees per cell; callers ROUND (<= 9). Scale: one
    (a, b) groupBy + two marginal groupBys joined back on the
    bounded label keys.
    """
    base = df.select(
        F.col(a_col).cast("string").alias("a"),
        F.col(b_col).cast("string").alias("b"),
    )
    cells = base.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("o")
    )
    ra = cells.groupBy("a").agg(F.sum("o").cast("long").alias("ri"))
    cb = cells.groupBy("b").agg(F.sum("o").cast("long").alias("cj"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    j = (
        cells.join(ra, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(tot))
    )
    nd = F.col("n").cast("double")
    e = F.col("ri").cast("double") * F.col("cj").cast("double") / nd
    dev = F.col("o").cast("double") - e
    adj = dev / F.sqrt(
        e
        * (F.lit(1.0) - F.col("ri").cast("double") / nd)
        * (F.lit(1.0) - F.col("cj").cast("double") / nd)
    )
    return j.select(
        "a",
        "b",
        "o",
        e.alias("expected"),
        adj.alias("adj_residual"),
    )
