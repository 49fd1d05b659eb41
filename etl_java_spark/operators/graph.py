"""Graph analytics over relational edge lists: PageRank and degree
statistics — the "beyond SQL" iterative-algorithm surface.

Charter §2B extension (no reference counterpart — RoberWaters/ETL-Java,
src/etl/ETLProcess.java:1-568). Complements the connected-components
labeler in ``operators/dedup.py:dedup_clusters``: that one resolves
near-dup clusters (undirected min-label propagation); this one ranks
nodes in a directed graph (supplier->customer flows, link graphs,
citation graphs).

Scale stance: the rank vector is a DataFrame keyed by node — never a
driver-side structure — and every iteration is one join + one
map-side-combinable aggregate on the node key, i.e. two shuffles that
reuse the same hash partitioning (AQE keeps them co-partitioned). Edge
lists of any size stream through; a checkpoint per round caps lineage
growth exactly as in ``dedup_clusters``, under the session's policy
(plans/checkpoints: reliable when the session was started with
``spark.checkpoint.dir``, executor-local otherwise). An iterative
operator releases everything it materialized that its result does not
read — the edge list, pinned static sides, superseded rounds — before
it returns.

Determinism: per-edge contributions are correctly-rounded double
divisions; per-node sums go through an exact decimal cast (order-
independent), so a fixed-iteration run is bit-reproducible on any
partitioning and replayable by the DuckDB oracle as chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.checkpoints import make_checkpointer, materialize, pin, release


def out_degrees(edges: DataFrame, src: str = "src") -> DataFrame:
    """(src, outdeg) — one map-side-combinable count shuffle."""
    return edges.groupBy(src).agg(F.count("*").alias("outdeg"))


def _canonical_und(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected edge set (u < v): direction and duplicate
    edges collapsed, self-loops dropped — the shared first step of
    every undirected operator here (triangle_count, modularity,
    assortativity, local clustering). Callers materialize the result
    ONCE (ckpt) when they read it more than once."""
    a, b = F.col(src), F.col(dst)
    return (
        edges.filter(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )


def _und_degrees(und: DataFrame) -> DataFrame:
    """(x, d) undirected degrees of a canonical edge set — one
    map-side-combinable count shuffle over the doubled endpoints."""
    return (
        und.select(F.col("u").alias("x"))
        .unionByName(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Simplified formulation (uniform 1.0 init, rank mass from dangling
    nodes NOT redistributed — their rank leaks, which is fine for
    *ranking* and keeps the recurrence exactly replayable in SQL):

        r0(v)    = 1.0
        r_k+1(v) = (1 - d) + d * SUM over in-edges (u, v) of r_k(u) / outdeg(u)

    A fixed iteration count (vs convergence probing) keeps the plan
    static — at 100 TB you budget rounds, not convergence jobs, and 3-5
    rounds already separate hubs from leaves. Each round: edge join on
    src (co-partitioned with the previous round's agg output) + decimal-
    exact sum on dst + left join back onto the node set for nodes with
    no in-edges. Returns (node, rank) for every node appearing as src
    or dst.
    """
    held: list[DataFrame] = []
    ckpt = make_checkpointer(held)
    # Materialize the edge list ONCE — the caller's edge plan may be an
    # arbitrary join tree, and nodes/degrees/iterations all re-read it.
    e = ckpt(edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")))
    # Static per-round join sides PINNED on their round-join keys (r12,
    # guide §2.4): the edge table reads exchange-free in every round's
    # rank join, the node set in every round's left join-back.
    nodes = pin(
        e.select(F.col("e_src").alias("node"))
        .unionByName(e.select(F.col("e_dst").alias("node")))
        .distinct(),
        "node",
    )
    deg = e.groupBy("e_src").agg(F.count("*").alias("outdeg"))
    # (src, dst, outdeg) — static over iterations, pinned on the join key
    ed = pin(e.join(deg, "e_src"), "e_src")
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for it in range(iterations):
        contribs = (
            ed.join(ranks, ed.e_src == ranks.node)
            .select(
                F.col("e_dst").alias("node"),
                (F.col("rank") / F.col("outdeg").cast("double")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum(F.col("c").cast("decimal(38,18)")).cast("double").alias("s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        # Rounds stay LAZY between checkpoints now that both static
        # sides are pinned: with unpinned (checkpointed) inputs a lazy
        # multi-round DAG measured SLOWER than per-round ckpt (7.7s vs
        # 5-6s at sf0.1 — AQE re-planned each round against stale
        # estimates), but against pinned, known-partitioned inputs the
        # lazy chain wins (3.7s vs 4.6s pinned+per-round at sf0.1,
        # bit-identical). Checkpoint every 4th round to cap lineage on
        # long runs; the returned frame is checkpointed after the loop so
        # it survives the release of the pinned sides.
        if (it + 1) % 4 == 0 and it < iterations - 1:
            ranks = ckpt(ranks)
    ranks = ckpt(ranks)
    release(*held, ed, nodes, keep=[ranks])
    return ranks


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact triangle count of the undirected graph under ``edges``
    (direction and duplicates ignored, self-loops dropped) — the
    clustering/community-density primitive (cohesion metrics, spam-farm
    detection, graph QA).

    Degree-ordered orientation — the standard shuffle-bound algorithm:

    1. canonicalize to distinct undirected pairs (u < v);
    2. orient every edge from its LOWER-(degree, id) endpoint to the
       higher one; each triangle then has exactly one vertex with two
       out-edges into the other two, so it is counted exactly once;
    3. wedges = self-join of the oriented list on the source vertex
       (out-neighbor pairs); closing edges found by joining the wedge's
       (y, z) endpoints back against the canonical edge set.

    The orientation bounds every vertex's out-degree by O(sqrt(|E|))
    on any graph (arboricity bound), so the wedge join is
    sum(outdeg^2)-sized — the hub that would explode a naive
    neighbor-pair join is oriented INTO, not out of. Returns one row:
    (n_vertices, n_edges, n_triangles).
    """
    # The canonical edge set feeds degrees (twice), the orientation join
    # AND the closing-edge probe — materialize it once instead of
    # re-running the caller's (possibly expensive) edge-derivation plan
    # four times.
    und = materialize(_canonical_und(edges, src, dst))
    deg = _und_degrees(und)
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    ranked = und.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    o1 = oriented.select(F.col("s"), F.col("t").alias("y"))
    o2 = oriented.select(F.col("s"), F.col("t").alias("z"))
    wedges = o1.join(o2, "s").filter(F.col("y") < F.col("z"))
    closed = wedges.join(
        und,
        (F.col("u") == F.col("y")) & (F.col("v") == F.col("z")),
        "left_semi",
    )
    return (
        closed.agg(F.count("*").alias("n_triangles"))
        .crossJoin(deg.agg(F.count("*").alias("n_vertices")))
        .crossJoin(und.agg(F.count("*").alias("n_edges")))
        .select("n_vertices", "n_edges", "n_triangles")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the SEED set
    instead of uniformly — rank becomes "relevance to these seeds",
    the recommendation/expansion primitive (customers most associated
    with a supplier set, pages most related to a topic seed):

        r0(v)    = seed(v)
        r_k+1(v) = (1 - d) * seed(v)
                   + d * SUM over in-edges (u, v) of r_k(u) / outdeg(u)

    Same plan shape, determinism contract (decimal-exact contribution
    sums), and checkpoint strategy as :func:`pagerank`; the seed
    indicator joins once onto the node set (broadcast when the seed
    set is small — the typical case) and is reused every round.
    """
    held: list[DataFrame] = []
    ckpt = make_checkpointer(held)
    e = ckpt(edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")))
    nodes = e.select(F.col("e_src").alias("node")).unionByName(
        e.select(F.col("e_dst").alias("node"))
    ).distinct()
    seed_flag = (
        nodes.join(
            F.broadcast(seeds.select(F.col(seed_col).alias("node")).distinct()),
            "node",
            "left_semi",
        )
        .withColumn("seed", F.lit(1.0))
    )
    # Static sides ckpt'd once, rounds materialized per iteration — NOT
    # pinned (r13 revert of the r12 family-wide pin): the full bench
    # had ppr +15% with the pin while the warm A/B was flat (4.04s
    # both ways); see pin's scope note for the family-wide numbers.
    base = ckpt(
        nodes.join(seed_flag, "node", "left").select(
            "node", F.coalesce(F.col("seed"), F.lit(0.0)).alias("seed")
        )
    )
    deg = e.groupBy("e_src").agg(F.count("*").alias("outdeg"))
    ed = ckpt(e.join(deg, "e_src"))
    ranks = base.select("node", F.col("seed").alias("rank"))
    for _ in range(iterations):
        contribs = (
            ed.join(ranks, ed.e_src == ranks.node)
            .select(
                F.col("e_dst").alias("node"),
                (F.col("rank") / F.col("outdeg").cast("double")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum(F.col("c").cast("decimal(38,18)")).cast("double").alias("s"))
        )
        ranks = ckpt(
            base.join(contribs, "node", "left").select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("seed")
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    # zero rounds: the result is a projection of ``base``
    release(*held, keep=[ranks if iterations else base])
    return ranks


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core extraction: repeatedly peel nodes of degree < k until the
    surviving subgraph has minimum degree >= k (or ``rounds`` fixed
    iterations elapse) — the standard dense-community / noise-pruning
    primitive (drop hangers-on before clustering, find the cohesive
    heart of a co-occurrence graph).

    Each round is one degree aggregation + two broadcast-able
    anti-joins against the (usually small) peel set — the same
    alternating join/agg shape as dedup_clusters, materialized per
    round through the same checkpoint strategy. FIXED ``rounds`` (not
    a convergence probe) keeps the computation exactly replayable by
    a chained-CTE SQL oracle; peeling converges in O(log) rounds on
    real graphs, and a converged round is a no-op, so extra rounds
    cost one cheap empty-peel pass each.

    Returns the surviving (node, degree) table — degrees measured IN
    the core.
    """
    held: list[DataFrame] = []
    ckpt = make_checkpointer(held)
    a, b = F.col(src), F.col(dst)
    und = ckpt(
        edges.filter(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    for _ in range(rounds):
        deg = (
            und.select(F.col("u").alias("x"))
            .unionAll(und.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count("*").alias("d"))
        )
        bad = deg.filter(F.col("d") < k).select("x")
        und = ckpt(
            und.join(bad.withColumnRenamed("x", "u"), "u", "left_anti").join(
                bad.withColumnRenamed("x", "v"), "v", "left_anti"
            )
        )
    release(*held, keep=[und])
    return (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One-row degree summary + degree assortativity of an undirected
    edge list (each input row = one undirected edge, endpoints in
    either order): node/edge counts, min/max/avg degree, and the
    Pearson correlation between the degrees at the two ends of every
    edge (each edge counted in both directions, the standard Newman
    definition) — positive means hubs link to hubs.

    Degrees are exact integers, so every correlation moment is summed
    in DECIMAL (order-independent, no double accumulation drift); the
    final expression is a handful of IEEE double ops rounded to 12
    decimals, same discipline as queries.q85_deterministic_corr.
    Two shuffles total: the degree count and the (broadcastable)
    degree join back onto edges.
    """
    # The edge list feeds three consumers (degree agg + both sides of
    # the moment join). Deliberately NOT materialized: AQE exchange
    # reuse already shares the duplicated subtrees at runtime, and a
    # localCheckpoint here measured 2-6x SLOWER (it forces the upstream
    # window through a single narrow materialization and disables the
    # runtime reuse). Callers with a non-reusable expensive derivation
    # can checkpoint before calling.
    ends = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    both = ends.unionByName(ends.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = both.groupBy("u").agg(F.count("*").alias("deg"))
    summary = deg.agg(
        F.count("*").alias("n_nodes"),
        F.min("deg").alias("min_degree"),
        F.max("deg").alias("max_degree"),
        (F.sum("deg").cast("double") / F.count("*").cast("double")).alias(
            "avg_degree"
        ),
    )
    du = deg.select(F.col("u"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("dy"))
    ed = both.join(du, "u").join(dv, "v")
    # DECIMAL(18,0) factors: products stay within DECIMAL(36,0), which
    # BOTH engines can multiply and sum exactly (38x38 overflows DuckDB's
    # multiply); degrees are < 1e9 on any real graph so 18 digits is slack.
    dec = lambda c: c.cast("decimal(18,0)")  # noqa: E731
    mom = ed.agg(
        F.count("*").alias("m"),
        F.sum(dec(F.col("dx"))).alias("sx"),
        F.sum(dec(F.col("dy"))).alias("sy"),
        F.sum(dec(F.col("dx")) * dec(F.col("dy"))).alias("sxy"),
        F.sum(dec(F.col("dx")) * dec(F.col("dx"))).alias("sxx"),
        F.sum(dec(F.col("dy")) * dec(F.col("dy"))).alias("syy"),
    )
    m = F.col("m").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    # try_divide: a degree-regular graph has zero degree variance and no
    # defined assortativity -> NULL, not an ANSI divide-by-zero crash.
    assort = mom.select(
        (F.col("m") / 2).cast("bigint").alias("n_edges"),
        F.round(
            F.try_divide(
                sxy - sx * sy / m,
                F.sqrt((sxx - sx * sx / m) * (syy - sy * sy / m)),
            ),
            12,
        ).alias("assortativity"),
    )
    return summary.crossJoin(assort).select(
        "n_nodes", "n_edges", "min_degree", "max_degree",
        "avg_degree", "assortativity",
    )


def bfs_layers(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Breadth-first hop distance from a seed set over an UNDIRECTED
    edge list, bounded at ``max_hops`` — the "blast radius" primitive
    behind fraud-ring expansion, recall-set widening, and impact
    analysis ("everything within 3 hops of these accounts").

    Frontier algorithm, each round one join + one anti-join:

        dist(seed) = 0
        frontier_k -> join edges -> candidates at k+1 ->
        anti-join already-visited -> new frontier

    A FIXED hop budget keeps the plan static (the pagerank/k_core
    discipline: at 100 TB you budget rounds); reliable checkpoints cap
    lineage per round. Deterministic: hop distances are unique per
    node (min distance by construction — a node enters `dist` the
    first round it is reachable and is never revisited).

    Returns (node, hops) for every node within ``max_hops`` of a seed
    (seeds included at 0).
    """
    # Materialize the doubled edge list ONCE (the pagerank discipline,
    # see `ed` above): without this, every frontier round re-derives
    # the caller's edge plan — for a fact-fact join input that is a
    # full shuffle per hop at 100 TB. NOT pinned (r12 A/B): the
    # frontier side is broadcast-sized here by design (seeds are the
    # cost knob), so the per-hop join never exchanges the edge side
    # anyway, and a hash-partitioned cache flipped the plan to a
    # sort-merge that re-SORTED the edge table every hop (q526
    # 6.1s -> 11.2s, q640 4.8s -> 10.9s at sf0.1). Pinning pays only
    # where the per-round probe side outgrows a broadcast (the
    # pagerank-family rank vector over all nodes).
    und = materialize(
        edges.select(
            F.col(src).alias("s"), F.col(dst).alias("d")
        ).unionByName(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
        ).distinct()
    )
    dist = seeds.select(
        F.col(node).alias("n"), F.lit(0).alias("hops")
    ).distinct()
    frontier = dist
    # r13 negative result: folding distinct+anti-join into one keyed
    # MIN aggregate over dist UNION candidates (min(hops) = first
    # reach) was prototyped and REVERTED — it re-shuffles and
    # re-checkpoints the FULL standing table every hop instead of only
    # the new frontier, measured a wash here (q312 4.8s both ways) and
    # +10-20% on harmonic/sssp in three paired A/Bs. Delta-frontier
    # (anti-join keeps checkpoint I/O proportional to |new|) stays.
    for k in range(1, max_hops + 1):
        nxt = (
            frontier.join(und, frontier["n"] == und["s"])
            .select(F.col("d").alias("n"))
            .distinct()
            .join(dist.select("n"), on="n", how="left_anti")
            .withColumn("hops", F.lit(k))
        )
        nxt = materialize(nxt)
        dist = dist.unionByName(nxt)
        frontier = nxt
    # the result reads every frontier, and no longer the edge list
    release(und)
    return dist.select(F.col("n").alias(node), F.col("hops").cast("long"))


def temporal_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    ts_col: str = "ts",
    node: str = "node",
    seed_ts: str | None = None,
) -> DataFrame:
    """TIME-RESPECTING reachability ("taint spread"): a node is reached
    at hop k when an edge leaves a hop-(k-1) node with a timestamp
    STRICTLY GREATER than that node's arrival time — the contagion /
    data-lineage / fraud-propagation semantics plain BFS (bfs_layers)
    gets wrong, because an edge that fired BEFORE the infection arrived
    cannot transmit it.

    Frontier rule (deterministic, hop-ordered): hop k's set is the
    nodes not yet reached, reachable from a hop-(k-1) node via a
    qualifying edge; their arrival time is the MIN qualifying edge
    timestamp over all hop-(k-1) parents. (Hop-ordered first-reach, not
    global earliest-arrival: a longer path reaching a node earlier in
    time does NOT revisit it — the hop budget is the audit contract,
    and the rule replays exactly in SQL.)

    Seeds start at hop 0 with arrival ``seed_ts`` (a column name in
    ``seeds``) or the epoch floor when None. Directed edges; doubled
    input gives undirected. Edge list is materialized ONCE (bfs_layers
    discipline); each round is one join + one anti-join.

    Returns (node, hops, arrival_ts).
    """
    ed = materialize(
        edges.select(
            F.col(src).alias("s"), F.col(dst).alias("d"),
            F.col(ts_col).alias("t"),
        ).filter(F.col("t").isNotNull())
    )
    if seed_ts:
        arr0 = F.col(seed_ts)
    else:
        # epoch floor in the edge column's own dtype. A blanket
        # string-literal cast yields NULL for integral epoch columns
        # (then t > arrival is never true and the BFS silently stops
        # at hop 0), so branch on the resolved dtype.
        t_dtype = dict(ed.dtypes)["t"]
        if t_dtype in ("timestamp", "timestamp_ntz", "date"):
            arr0 = F.lit("1970-01-01").cast(t_dtype)
        elif t_dtype in ("tinyint", "smallint", "int", "bigint", "float", "double") or t_dtype.startswith("decimal"):
            arr0 = F.lit(0).cast(t_dtype)
        else:
            raise TypeError(
                f"temporal_bfs: unsupported timestamp dtype {t_dtype!r} for "
                f"{ts_col!r}; pass seed_ts explicitly"
            )
    dist = seeds.select(
        F.col(node).alias("n"), F.lit(0).alias("hops"), arr0.alias("arrival")
    ).groupBy("n", "hops").agg(F.min("arrival").alias("arrival"))
    frontier = dist
    for k in range(1, max_hops + 1):
        nxt = (
            frontier.join(ed, frontier["n"] == ed["s"])
            .filter(F.col("t") > F.col("arrival"))
            .groupBy(F.col("d").alias("__n"))
            .agg(F.min("t").alias("arrival"))
            .join(
                dist.select(F.col("n").alias("__n")), on="__n", how="left_anti"
            )
            .select(
                F.col("__n").alias("n"), F.lit(k).alias("hops"), "arrival"
            )
        )
        nxt = materialize(nxt)
        dist = dist.unionByName(nxt)
        frontier = nxt
    release(ed)
    return dist.select(
        F.col("n").alias(node), F.col("hops").cast("long"), F.col("arrival").alias("arrival_ts")
    )


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs & authorities) over a
    directed edge list — the bipartite-flavored complement to
    :func:`pagerank`: a HUB points at many good authorities, an
    AUTHORITY is pointed at by many good hubs (curator/content,
    buyer/seller, reviewer/product graphs).

    Recurrence (uniform 1.0 init, normalization deferred to the END —
    mid-iteration L1/L2 normalization only rescales both vectors by a
    constant, so the final ranking is identical and every intermediate
    stays an exact INTEGER-valued double, replayable in SQL without
    float-division drift):

        h0(u)  = 1.0
        a_k(v) = SUM over in-edges  (u, v) of h_{k-1}(u)
        h_k(u) = SUM over out-edges (u, v) of a_k(v)

    then hub = h_K / SUM(h_K), auth = a_K / SUM(a_K) — two single
    correctly-rounded double divisions per node at the very end.

    Each round is two edge joins + two decimal-exact aggregates that
    reuse the same key partitioning; the edge list is materialized ONCE
    (pagerank discipline). Fixed iteration count keeps the plan static
    — at 100 TB you budget rounds, not convergence jobs, and 2 rounds
    already separate broad hubs from incidental linkers. Returns
    (node, hub, auth) for every node, 0.0 on the side it never plays.

    NOT pinned (r13 revert of the r12 twin-pin): 6.09s pinned vs
    4.43s per-round-ckpt in the quiet-box A/B, and the twin pin
    doubled edge-cache storage — see pin's scope note.
    """
    if iterations < 1:
        raise ValueError(f"hits: iterations must be >= 1, got {iterations}")
    held: list[DataFrame] = []
    ckpt = make_checkpointer(held)
    e = ckpt(edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")))
    nodes = ckpt(
        e.select(F.col("e_src").alias("node"))
        .unionByName(e.select(F.col("e_dst").alias("node")))
        .distinct()
    )
    hub = nodes.withColumn("h", F.lit(1.0))
    auth = None
    for it in range(iterations):
        auth = (
            e.join(hub, e.e_src == hub.node)
            .groupBy(F.col("e_dst").alias("node"))
            .agg(F.sum(F.col("h").cast("decimal(38,6)")).cast("double").alias("a"))
        )
        if it == iterations - 1:
            # the FINAL auth is read twice (total + output join); the
            # intermediate ones feed exactly one hub join — no ckpt
            auth = ckpt(auth)
        hub = (
            e.join(auth, e.e_dst == auth.node)
            .groupBy(F.col("e_src").alias("node"))
            .agg(F.sum(F.col("a").cast("decimal(38,6)")).cast("double").alias("h"))
        )
        # Per-round materialization of the recurrence carrier: AQE
        # re-plans each round against the real vector size; lineage
        # stays O(1) (pagerank discipline).
        hub = ckpt(hub)
    release(*held, keep=[nodes, hub, auth])
    h_tot = hub.agg(
        F.sum(F.col("h").cast("decimal(38,6)")).cast("double").alias("ht")
    )
    a_tot = auth.agg(
        F.sum(F.col("a").cast("decimal(38,6)")).cast("double").alias("at")
    )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .crossJoin(F.broadcast(h_tot))
        .crossJoin(F.broadcast(a_tot))
        .select(
            "node",
            (F.coalesce(F.col("h"), F.lit(0.0)) / F.col("ht")).alias("hub"),
            (F.coalesce(F.col("a"), F.lit(0.0)) / F.col("at")).alias("auth"),
        )
    )


def partition_modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    community: str = "community",
) -> DataFrame:
    """Newman modularity of a GIVEN node partition over the undirected
    graph under ``edges`` — "did this community assignment actually
    carve the graph at its joints?" (validating a clustering, comparing
    org charts to collaboration graphs, QA on dedup clusters).

        Q = SUM over communities c of [ e_c/m  -  (d_c / 2m)^2 ]

    with m = #undirected edges, e_c = #edges with BOTH endpoints in c,
    d_c = sum of degrees of c's nodes. Direction and duplicate edges
    are ignored; self-loops dropped; nodes missing from ``communities``
    form an implicit '__unassigned__' community rather than silently
    losing their degree mass (which would corrupt every other term).

    Pure aggregation — one distinct-edge shuffle, one degree shuffle,
    two broadcast-sized community joins; the community table is
    metadata-sized output. Every count is integer-exact; the final
    contributions are single correctly-rounded double expressions.

    Returns one row per community: (community, n_nodes, n_within_edges,
    degree_sum, contribution, modularity) — ``modularity`` (the total
    Q) repeated on every row for one-table readout.
    """
    # degrees, the within-edge join AND the edge total all re-read the
    # canonical edge set — materialize the caller's (possibly join-tree)
    # edge plan ONCE (triangle_count discipline)
    und = materialize(_canonical_und(edges, src, dst))
    comm = communities.select(
        F.col(node).alias("x"), F.col(community).alias("c")
    )
    deg = _und_degrees(und)
    unassigned = F.lit("__unassigned__")
    node_c = deg.join(comm, "x", "left").select(
        "x", "d", F.coalesce(F.col("c"), unassigned).alias("c")
    )
    d_c = node_c.groupBy("c").agg(
        F.sum("d").alias("degree_sum"), F.count("*").alias("n_nodes")
    )
    cu = node_c.select(F.col("x").alias("u"), F.col("c").alias("cu"))
    cv = node_c.select(F.col("x").alias("v"), F.col("c").alias("cv"))
    within = (
        und.join(cu, "u")
        .join(cv, "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.count("*").alias("n_within_edges"))
    )
    m = und.agg(F.count("*").alias("m"))
    per = (
        d_c.join(within, "c", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("c").alias("community"),
            F.col("n_nodes").cast("long"),
            F.coalesce("n_within_edges", F.lit(0)).cast("long").alias(
                "n_within_edges"
            ),
            F.col("degree_sum").cast("long"),
            (
                F.coalesce("n_within_edges", F.lit(0)).cast("double")
                / F.col("m").cast("double")
                - (
                    F.col("degree_sum").cast("double")
                    / (F.lit(2.0) * F.col("m").cast("double"))
                )
                * (
                    F.col("degree_sum").cast("double")
                    / (F.lit(2.0) * F.col("m").cast("double"))
                )
            ).alias("contribution"),
        )
    )
    q_tot = per.agg(
        F.sum(F.col("contribution").cast("decimal(38,18)"))
        .cast("double")
        .alias("modularity")
    )
    return per.crossJoin(F.broadcast(q_tot))


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient of the undirected graph — the
    Pearson correlation of endpoint degrees over edges (Newman 2002).
    Positive: hubs attach to hubs (social graphs); negative: hubs
    attach to leaves (hub-and-spoke infrastructure, bipartite traffic).
    The one-number "is this graph core-periphery?" readout.

    Every edge contributes its endpoint-degree pair in BOTH
    orientations (the standard symmetrization, making X and Y
    identically distributed), so with integer moment sums
    S1 = SUM(dx), S11 = SUM(dx*dx), Sxy = SUM(dx*dy), n = 2m:

        r = (n*Sxy - S1^2) / (n*S11 - S1^2)

    — no sqrt needed (Var(X) = Var(Y) exactly). All moments are
    integer-exact decimal sums; the final division is one correctly-
    rounded double op. Two shuffles (distinct edges, degrees) + two
    co-partitioned degree joins. Returns one row:
    (n_edges, n_vertices, assortativity).
    """
    # the edge set feeds degrees AND the pair join — materialize the
    # caller's edge plan once (triangle_count discipline)
    und = materialize(_canonical_und(edges, src, dst))
    deg = _und_degrees(und)
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    pairs = und.join(du, "u").join(dv, "v")
    # both orientations: (du,dv) and (dv,du)
    sym = pairs.select(
        F.col("du").alias("dx"), F.col("dv").alias("dy")
    ).unionByName(pairs.select(F.col("dv").alias("dx"), F.col("du").alias("dy")))
    mo = sym.agg(
        F.count("*").alias("n"),
        F.sum(F.col("dx").cast("decimal(38,0)")).alias("s1"),
        F.sum((F.col("dx") * F.col("dx")).cast("decimal(38,0)")).alias("s11"),
        F.sum((F.col("dx") * F.col("dy")).cast("decimal(38,0)")).alias("sxy"),
    )
    nv = deg.agg(F.count("*").alias("n_vertices"))
    return mo.crossJoin(F.broadcast(nv)).select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.col("n_vertices").cast("long"),
        (
            (
                F.col("n").cast("double") * F.col("sxy").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double")
            )
            / (
                F.col("n").cast("double") * F.col("s11").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double")
            )
        ).alias("assortativity"),
    )


def local_clustering(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node local clustering coefficient — triangles(v) / C(d(v),2),
    "how much of a clique is each node's neighborhood?" (community-core
    detection, spam-node triage where LCC ~ 0 on high degree is the
    signature, per-node graph QA). Extends :func:`triangle_count`'s
    global readout to the node level with the SAME degree-ordered
    orientation, so the wedge join stays O(sqrt(E))-bounded per vertex
    under hub skew.

    Each closed triangle {s, y, z} (found once, from its lowest-degree
    vertex s) is exploded to its three member vertices and counted per
    node — one extra map-side 3x fan-out + one count shuffle over the
    (bounded) triangle set, nothing else beyond the global algorithm.

    Returns (node, degree, triangles, lcc) for every vertex; lcc = 0.0
    when degree < 2 (no possible wedge) — division is one correctly-
    rounded double op, SQL-replayable.
    """
    und = materialize(_canonical_und(edges, src, dst))
    deg = _und_degrees(und)
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    ranked = und.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    o1 = oriented.select(F.col("s"), F.col("t").alias("y"))
    o2 = oriented.select(F.col("s"), F.col("t").alias("z"))
    wedges = o1.join(o2, "s").filter(F.col("y") < F.col("z"))
    closed = wedges.join(
        und,
        (F.col("u") == F.col("y")) & (F.col("v") == F.col("z")),
        "left_semi",
    )
    tri = (
        closed.select(
            F.explode(F.array(F.col("s"), F.col("y"), F.col("z"))).alias("x")
        )
        .groupBy("x")
        .agg(F.count("*").alias("triangles"))
    )
    return deg.join(tri, "x", "left").select(
        F.col("x").alias("node"),
        F.col("d").cast("long").alias("degree"),
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("d") < 2, F.lit(0.0)
        ).otherwise(
            F.coalesce("triangles", F.lit(0)).cast("double")
            / (F.col("d").cast("double") * (F.col("d").cast("double") - 1.0) / 2.0)
        ).alias("lcc"),
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection with a
    DETERMINISTIC update rule: every node starts labeled with its own
    id; each round it adopts the MOST FREQUENT label among its
    neighbors, ties broken by the smallest label (plain LPA's random
    tie-break makes runs irreproducible — the min-label rule makes the
    whole fixed-point replayable, at the known cost of a bias toward
    small ids). Fixed ``rounds`` sweeps, the bfs_layers/pagerank
    iteration contract: results are exact after any number of rounds,
    and bounded rounds are what replays as unrolled SQL.

    Input edges are treated as DIRECTED adoption sources (double the
    input for undirected semantics, the bfs convention here). Per
    round: one join of the edge list against the label table + one
    (node, label) count + one top-1 window — all shuffles on node/label
    keys; the edge list is materialized once. Nodes with no in-edges
    keep their current label. Returns (node, label).
    """
    held: list[DataFrame] = []
    ckpt = make_checkpointer(held)
    # The (large) edge list is pinned on the per-round join key ONCE:
    # every sweep's edge-vs-label sort-merge join reads it exchange-free
    # — one edge shuffle total across all ``rounds`` sweeps instead of
    # one per sweep.
    ed = pin(edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct(), "s")
    nodes = (
        ed.select(F.col("s").alias("node"))
        .unionByName(ed.select(F.col("d").alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(rounds):
        labels = ckpt(
            labels.join(_lpa_sweep(ed, labels), "node", "left").select(
                "node", F.coalesce("__new", "label").alias("label")
            )
        )
    release(*held, ed, keep=[labels])
    return labels


def _lpa_sweep(ed: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA sweep: (node, __new) winners table.

    mode(label, deterministic=True) = most-frequent with
    smallest-value tie-break — the exact update rule — in ONE
    aggregation shuffled on the node key only (map-side partial count
    maps), replacing the former (node,label)-count + top-1-window pair
    and its extra exchange + sort per sweep. The edge side arrives
    pre-partitioned on the join key ``s`` (cached), so the join adds no
    edge exchange (plan-gated in tests/test_plans.py)."""
    return (
        ed.join(labels, ed["s"] == labels["node"])
        .groupBy(F.col("d").alias("node"))
        .agg(F.mode("label", True).alias("__new"))
    )


def link_prediction(
    edges: DataFrame,
    topk: int = 50,
    max_degree: int = 10_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Common-neighbor link prediction over the undirected graph:
    for node pairs NOT already connected, count shared neighbors and
    score the Jaccard overlap cn / (deg_u + deg_v - cn) — the classic
    "who should connect next" / missing-edge-QA readout. (Jaccard and
    raw counts only — Adamic-Adar's 1/log(deg) weights are one ln away
    but engine-dependent at the last ulp, the source_divergence rule.)

    Shape: canonical undirected edges materialize once; candidate
    pairs are the 2-hop wedges (self-join on the shared neighbor) with
    the wedge's center capped at ``max_degree`` — the knob bounding the
    sum(deg^2) blow-up a hub would cause (the hot-shingle cap's graph
    twin; capped-out hubs are logged by the caller via the degree
    table, never silently sampled). Existing edges leave by left-anti
    against the edge set; cn is exact integer; Jaccard is one double
    division. Returns (node_u, node_v, cn, jaccard) top-k by
    (cn desc, jaccard desc, pair).
    """
    und = materialize(_canonical_und(edges, src, dst))
    deg = _und_degrees(und)
    ok_centers = deg.filter(F.col("d") <= max_degree).select(
        F.col("x").alias("c")
    )
    # adjacency doubled: (center, leaf)
    adj = (
        und.select(F.col("u").alias("c"), F.col("v").alias("l"))
        .unionByName(und.select(F.col("v").alias("c"), F.col("u").alias("l")))
        .join(ok_centers, "c", "left_semi")
    )
    a, b = adj.alias("a"), adj.alias("b")
    wedges = a.join(
        b,
        (F.col("a.c") == F.col("b.c")) & (F.col("a.l") < F.col("b.l")),
    ).select(F.col("a.l").alias("u"), F.col("b.l").alias("v"))
    cand = (
        wedges.groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("cn"))
        .join(und, ["u", "v"], "left_anti")
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    scored = cand.join(du, "u").join(dv, "v").select(
        F.col("u").alias("node_u"),
        F.col("v").alias("node_v"),
        "cn",
        (
            F.col("cn").cast("double")
            / (F.col("du") + F.col("dv") - F.col("cn")).cast("double")
        ).alias("jaccard"),
    )
    return scored.orderBy(
        F.col("cn").desc(), F.col("jaccard").desc(),
        F.col("node_u").asc(), F.col("node_v").asc(),
    ).limit(topk)


def adamic_adar(
    edges: DataFrame,
    topk: int = 50,
    max_degree: int = 10_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Adamic-Adar link prediction — link_prediction's weighted
    sibling: each shared neighbor contributes 1/ln(deg) instead of 1,
    so a rare mutual partner counts far more than a popular one (the
    standard fix for common-neighbor's hub bias):

        AA(u, v) = SUM over shared neighbors c of 1 / ln(deg_c)

    The per-center weight quantizes ROUND(1/ln(deg), 9)::decimal(12,9)
    at construction (r12 hardening, the q434 lesson: the raw-double
    decimal(38,18) cast preserved 1-ulp libm/JIT ln latitude inside
    the per-pair sums; the 1e-9 grid maps both engines to the same
    point and the sums are exact order-free decimal adds); callers
    round per the PMI/zipf log contract. A wedge center always has
    degree >= 2, so ln never hits zero. Same scale shape as link_prediction: canonical undirected
    edges once, ``max_degree``-capped wedge centers (the sum-deg^2
    knob), anti-join against existing edges. Returns
    (node_u, node_v, cn, aa) top-k by (aa desc, pair).
    """
    und = materialize(_canonical_und(edges, src, dst))
    deg = _und_degrees(und)
    # per-center weight computed ONCE on the degree table; the b-side
    # wedge input stays (c, l)-narrow via a semi join — carrying the
    # weight through both join sides measured ~1.6x slower at 10x
    # d >= 2: a degree-1 node can never center a wedge, and excluding
    # it up front keeps 1/ln(d) away from ln(1) = 0 (ANSI divide)
    ok = deg.filter(
        (F.col("d") <= max_degree) & (F.col("d") >= 2)
    ).select(
        F.col("x").alias("c"),
        F.round(F.lit(1.0) / F.log(F.col("d").cast("double")), 9)
        .cast("decimal(12,9)")
        .alias("w"),
    )
    doubled = und.select(
        F.col("u").alias("c"), F.col("v").alias("l")
    ).unionByName(
        und.select(F.col("v").alias("c"), F.col("u").alias("l"))
    )
    a = doubled.join(ok, "c").alias("a")
    b = doubled.join(ok.select("c"), "c", "left_semi").alias("b")
    wedges = a.join(
        b,
        (F.col("a.c") == F.col("b.c")) & (F.col("a.l") < F.col("b.l")),
    ).select(
        F.col("a.l").alias("u"),
        F.col("b.l").alias("v"),
        F.col("a.w").alias("w"),
    )
    cand = (
        wedges.groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.sum("w").cast("double").alias("aa"),
        )
        .join(und, ["u", "v"], "left_anti")
    )
    return (
        cand.select(
            F.col("u").alias("node_u"), F.col("v").alias("node_v"),
            "cn", "aa",
        )
        .orderBy(
            F.col("aa").desc(), F.col("node_u").asc(), F.col("node_v").asc()
        )
        .limit(topk)
    )


def katz_centrality(
    edges: DataFrame,
    iterations: int = 3,
    alpha: float = 0.05,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Katz centrality with a fixed iteration budget — influence that
    counts ALL incoming walks (attenuated by alpha per hop), the
    prestige measure pagerank's degree normalization deliberately
    removes (a node pointed at by one mega-hub scores high under
    Katz, low under pagerank):

        x_0(v)   = 1.0
        x_k+1(v) = 1 + alpha * SUM over in-edges (u, v) of x_k(u)

    Same scale contract as :func:`pagerank`: fixed rounds (budgeted
    plans, no convergence probing), edge list materialized once, each
    round ONE join + ONE per-node aggregate + a left join back for
    in-degree-0 nodes. Per-node contribution sums go through
    decimal(38,18) (the pagerank order-independence trick), so every
    round is bit-reproducible on any partitioning and unrolls to SQL.
    alpha must stay below 1/lambda_max for the fixed point to mean
    anything; with a rounds budget the iterates are exact regardless.

    Returns (node, katz) for every node appearing as src or dst.

    NOT pinned (r13 revert of the r12 family-wide pin): +27% in the
    full bench, flat warm (2.86s pinned vs 2.92s per-round-ckpt) —
    see pin's scope note.
    """
    held: list[DataFrame] = []
    ckpt = make_checkpointer(held)
    e = ckpt(
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
    )
    nodes = ckpt(
        e.select(F.col("e_src").alias("node"))
        .unionByName(e.select(F.col("e_dst").alias("node")))
        .distinct()
    )
    xs = nodes.withColumn("x", F.lit(1.0))
    for _ in range(iterations):
        contribs = (
            e.join(xs, e.e_src == xs.node)
            .select(F.col("e_dst").alias("node"), F.col("x"))
            .groupBy("node")
            .agg(
                F.sum(F.col("x").cast("decimal(38,18)"))
                .cast("double")
                .alias("s")
            )
        )
        xs = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(1.0)
                + F.lit(float(alpha)) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("x"),
        )
        xs = ckpt(xs)
    # zero rounds: the result is a projection of ``nodes``
    release(*held, keep=[xs if iterations else nodes])
    return xs.select("node", F.col("x").alias("katz"))


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Harmonic centrality of a SEED set over the undirected graph,
    exact within a ``max_hops`` horizon:

        H(seed) = SUM over reached nodes u != seed of 1 / d(seed, u)

    — the centrality that stays finite on disconnected graphs (its
    selling point over closeness) and, truncated at a fixed hop
    budget, the standard approximation for massive graphs (beyond
    ~4 hops the 1/d tail adds almost nothing). Per-seed exactness
    needs a LABELED multi-source BFS — frontier keyed by (seed,
    node), one edge join + one anti-join per hop (the bfs_layers
    discipline: fixed rounds, per-round checkpoints, edge list
    materialized once). Cost scales with seeds x reach, so the seed
    set is the knob (centrality for a watchlist, not all nodes — the
    all-nodes version is a different algorithm, HyperBall).

    Determinism: per-(seed, hop) reach counts are exact integers; the
    1/d fold runs over the <= max_hops-row per-seed array in hop
    order (bounded fold).

    Returns one row per seed: (seed, n_reached, harmonic).
    """
    und = materialize(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
        )
        .distinct()
    )
    dist = (
        seeds.select(F.col(node).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("n"), F.lit(0).alias("hops"))
    )
    frontier = dist
    # r13 negative result: one keyed MIN aggregate per hop in place of
    # distinct+anti-join measured +9-21% WORSE in three paired A/Bs
    # (q526 4.3 -> 4.7-5.2s) — the aggregate re-shuffles and
    # re-checkpoints the full (seed, n) table per hop; the anti-join
    # keeps per-hop checkpoint I/O proportional to the new frontier.
    for k in range(1, max_hops + 1):
        nxt = (
            frontier.join(und, frontier["n"] == und["s"])
            .select("seed", F.col("d").alias("n"))
            .distinct()
            .join(dist.select("seed", "n"), ["seed", "n"], "left_anti")
            .withColumn("hops", F.lit(k))
        )
        nxt = materialize(nxt)
        dist = dist.unionByName(nxt)
        frontier = nxt
    release(und)
    counts = (
        dist.filter(F.col("hops") > 0)
        .groupBy("seed", "hops")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    per = counts.groupBy("seed").agg(
        F.sum("cnt").cast("long").alias("n_reached"),
        F.array_sort(
            F.collect_list(F.struct("hops", "cnt"))
        ).alias("__arr"),
    )
    harm = F.aggregate(
        F.col("__arr"),
        F.lit(0.0),
        lambda a, e: a
        + e["cnt"].cast("double") / e["hops"].cast("double"),
    )
    return per.select("seed", "n_reached", harm.alias("harmonic"))


def eigenvector_centrality(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-sweep eigenvector centrality over the UNDIRECTED graph —
    prestige by association (your score is the sum of your neighbors'
    scores), the damping-free sibling of :func:`pagerank` and the
    one-vector projection of :func:`hits`:

        x_0(v) = 1,   x_k(v) = SUM over neighbors u of x_{k-1}(u)

    with normalization DEFERRED to the end (the hits discipline: mid
    -iteration normalization only rescales, so every intermediate
    stays an exact integer-valued double — k sweeps of x count the
    k-step walks into each node — and the oracle replays the chain
    bit-for-bit). score = x_K / SUM(x_K).

    Each sweep is one edge join + one decimal-exact aggregate on the
    node key; the doubled edge list is materialized once; fixed K
    keeps the plan static (budgeted rounds, the 100 TB iterative
    contract). K=3 already separates structural hubs from
    degree-lucky nodes (K=1 IS degree).

    Returns (node, raw_score, score).

    NOT pinned (r13 revert of the r12 family-wide pin): 5.26s pinned
    vs 3.93s per-sweep-ckpt in the quiet-box A/B — see pin's note.
    """
    if iterations < 1:
        raise ValueError(
            f"eigenvector_centrality: iterations must be >= 1, got "
            f"{iterations}"
        )
    held: list[DataFrame] = []
    ckpt = make_checkpointer(held)
    und = ckpt(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
        )
        .distinct()
    )
    nodes = ckpt(und.select(F.col("s").alias("node")).distinct())
    x = nodes.withColumn("x", F.lit(1.0))
    for it in range(iterations):
        x = (
            und.join(x, und["s"] == x["node"])
            .groupBy(F.col("d").alias("node"))
            .agg(
                F.sum(F.col("x").cast("decimal(38,6)"))
                .cast("double")
                .alias("x")
            )
        )
        x = ckpt(x)
    release(*held, keep=[nodes, x])
    tot = x.agg(
        F.sum(F.col("x").cast("decimal(38,6)")).cast("double").alias("t")
    )
    return (
        nodes.join(x, "node", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "node",
            F.coalesce(F.col("x"), F.lit(0.0)).alias("raw_score"),
            (F.coalesce(F.col("x"), F.lit(0.0)) / F.col("t")).alias(
                "score"
            ),
        )
    )


def k_truss(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round k-truss peeling over the undirected graph: keep
    only edges supported by at least k-2 triangles, re-count, repeat —
    the EDGE-grain cohesion filter (k-core, q215, bounds degrees;
    k-truss demands the degrees be *mutually reinforcing*: an edge
    survives only inside triangle-dense neighborhoods, which is why
    it's the standard community-core/spam-link cleaner).

    Each round: one triangle enumeration on the canonical (u < v)
    edge set (the q176 wedge join — each triangle found exactly once
    as a < b < c), a 3-way explode of triangles to their edges, one
    support groupBy, one semi-join filter. FIXED rounds keep the plan
    static (budgeted-rounds contract; full convergence is a
    while-loop over the same static round). Degree-bounded input is
    the knob that bounds the wedge join — build kNN/capped graphs
    upstream (q176/q394 discipline).

    Returns the surviving edges with their LAST-round support:
    (u, v, support).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    held: list[DataFrame] = []
    ckpt = make_checkpointer(held)
    und = ckpt(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    cur = und
    sup = None
    for _ in range(int(rounds)):
        e1 = cur.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = cur.select(F.col("u").alias("b"), F.col("v").alias("c"))
        e3 = cur.select(F.col("u").alias("a"), F.col("v").alias("c"))
        tri = e1.join(e2, "b").join(e3, ["a", "c"])
        tedges = (
            tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionByName(
                tri.select(F.col("b").alias("u"), F.col("c").alias("v"))
            )
            .unionByName(
                tri.select(F.col("a").alias("u"), F.col("c").alias("v"))
            )
        )
        sup = tedges.groupBy("u", "v").agg(
            F.count("*").cast("long").alias("support")
        )
        cur = ckpt(
            cur.join(
                sup.filter(F.col("support") >= k - 2).select("u", "v"),
                ["u", "v"],
                "left_semi",
            )
        )
    # the result reads the last round and, through ``sup``, the one before
    release(*held, keep=held[-2:])
    return cur.join(sup, ["u", "v"], "left").select(
        "u", "v",
        F.coalesce(F.col("support"), F.lit(0)).cast("long").alias(
            "support"
        ),
    )


def temporal_motif_counts(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    max_span_seconds: int = 3600,
    id_col: str | None = None,
) -> DataFrame:
    """Temporal 3-event motif census: count ordered event-type triples
    (t1 -> t2 -> t3) by the SAME user whose whole span fits inside
    ``max_span_seconds`` — the behavioral-sequence fingerprint behind
    funnel discovery and fraud-pattern mining (q126's path explorer
    follows consecutive steps; motifs admit interleaving, which is
    what real sessions look like).

    Two self-equi-joins on the user key, each pruned by the time
    window BEFORE the next join (the window predicate is the knob
    bounding the quadratic term: candidates per event ~ events per
    user within the span, not per lifetime). Ordering is the strict
    lexicographic (ts, event_id) so simultaneous events can't double
    count or self-pair — the tiebreak the oracle replays exactly.

    Returns one row per motif: (t1, t2, t3, n) — top the result
    downstream.
    """
    idc = id_col or "event_id"
    base = df.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("ts"),
        F.col(type_col).alias("ty"),
        F.col(idc).alias("eid"),
    )
    e1 = base.select(
        F.col("u"), F.col("ts").alias("ts1"), F.col("ty").alias("t1"),
        F.col("eid").alias("id1"),
    )
    e2 = base.select(
        F.col("u"), F.col("ts").alias("ts2"), F.col("ty").alias("t2"),
        F.col("eid").alias("id2"),
    )
    e3 = base.select(
        F.col("u"), F.col("ts").alias("ts3"), F.col("ty").alias("t3"),
        F.col("eid").alias("id3"),
    )
    lt12 = (F.col("ts2") > F.col("ts1")) | (
        (F.col("ts2") == F.col("ts1")) & (F.col("id2") > F.col("id1"))
    )
    lt23 = (F.col("ts3") > F.col("ts2")) | (
        (F.col("ts3") == F.col("ts2")) & (F.col("id3") > F.col("id2"))
    )
    span12 = (
        F.col("ts2").cast("double") - F.col("ts1").cast("double")
        <= F.lit(float(max_span_seconds))
    )
    span13 = (
        F.col("ts3").cast("double") - F.col("ts1").cast("double")
        <= F.lit(float(max_span_seconds))
    )
    pairs = e1.join(e2, "u").filter(lt12 & span12)
    trips = pairs.join(e3, "u").filter(lt23 & span13)
    return trips.groupBy("t1", "t2", "t3").agg(
        F.count("*").cast("long").alias("n")
    )


def reciprocity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Edge reciprocity of a directed graph: the fraction of distinct
    directed edges (self-loops excluded) whose reverse edge also
    exists — 1.0 on a fully mutual graph, 0.0 on a strict hierarchy/
    DAG. The directionality summary beside degree_assortativity's
    mixing and partition_modularity's community strength. Charter
    §2B extension.

    Scale design: distinct() on the edge pair, then ONE groupBy on
    the CANONICAL (least, greatest) node pair with two conditional
    max flags — mutuality is decided inside each canonical-pair
    group, so there is NO self-join against the reversed edge list
    (the naive formulation shuffles the edges twice); one scalar
    fold reads the counts. All integers — exact ratio is the one
    double.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"),
            F.col(dst).cast("long").alias("d"),
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    pairs = e.groupBy(
        F.least("s", "d").alias("lo"),
        F.greatest("s", "d").alias("hi"),
    ).agg(
        F.max(F.when(F.col("s") < F.col("d"), 1).otherwise(0)).alias("f"),
        F.max(F.when(F.col("s") > F.col("d"), 1).otherwise(0)).alias("r"),
    )
    agg = pairs.agg(
        F.sum(F.col("f") + F.col("r")).cast("long").alias("n_edges"),
        F.sum(
            F.when((F.col("f") == 1) & (F.col("r") == 1), 2).otherwise(0)
        )
        .cast("long")
        .alias("n_mutual"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    return agg.select(
        "n_edges",
        "n_mutual",
        "n_pairs",
        (
            F.col("n_mutual").cast("double")
            / F.col("n_edges").cast("double")
        ).alias("reciprocity"),
    )


def rich_club(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Rich-club coefficient at degree threshold k: among the nodes
    with undirected degree > k (the "club"), the realized edge
    density phi(k) = 2 * E_club / (n_club * (n_club - 1)) — phi near
    1 means the hubs form a near-clique (elites talk to elites), the
    topology signal behind q527's eigenvector concentration. Charter
    §2B extension.

    Scale design: canonical undirected edge set -> one degree count
    -> the club membership is a (usually small) node list joined onto
    BOTH edge endpoints (two equi-joins on the node key; AQE
    broadcasts the club side when it fits) -> one scalar fold. No
    all-pairs densification; exact integer ratio is the one double.
    NULL phi when the club has fewer than 2 members.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    und = _canonical_und(edges, src, dst)
    deg = _und_degrees(und)
    club = deg.filter(F.col("d") > k).select(F.col("x").alias("node"))
    nclub = club.agg(F.count("*").cast("long").alias("n_club"))
    ek = (
        und.join(club.withColumnRenamed("node", "u"), "u")
        .join(club.withColumnRenamed("node", "v"), "v")
        .agg(F.count("*").cast("long").alias("e_club"))
    )
    out = nclub.crossJoin(ek)
    nc = F.col("n_club").cast("double")
    return out.select(
        F.lit(k).cast("long").alias("k"),
        "n_club",
        "e_club",
        F.when(
            F.col("n_club") >= 2,
            F.lit(2.0)
            * F.col("e_club").cast("double")
            / (nc * (nc - F.lit(1.0))),
        ).alias("phi"),
    )


def attribute_assortativity(
    edges: DataFrame,
    attrs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    attr_col: str = "attr",
) -> DataFrame:
    """Newman's categorical attribute assortativity of a graph: with
    the mixing matrix e_ij = edge fraction between attribute classes
    i and j, r = (sum_i e_ii - sum_i a_i*b_i) / (1 - sum_i a_i*b_i)
    (a/b = row/column sums) — +1 when edges stay within a class
    (homophily), negative when classes preferentially cross-link.
    The categorical sibling of degree_assortativity. Charter §2B
    extension.

    Determinism: with M edges and integer class-pair counts c_ij,
    r = (M * sum(c_ii) - sum_i A_i*B_i) / (M^2 - sum_i A_i*B_i)
    EXACTLY in decimal — one double at the readout; callers ROUND
    (<= 9).

    Scale design: two attr equi-joins (attrs broadcast when small),
    one (attr_i, attr_j) groupBy (bounded by the class-count
    square), then endpoint-class sums and one scalar fold; nodes
    missing an attribute drop with their edges (documented).
    """
    d38 = "decimal(38,0)"
    a = attrs.select(
        F.col(node_col).alias("__n"), F.col(attr_col).alias("__a")
    )
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .join(a.withColumnRenamed("__n", "s").withColumnRenamed("__a", "ai"), "s")
        .join(a.withColumnRenamed("__n", "d").withColumnRenamed("__a", "aj"), "d")
    )
    cells = e.groupBy("ai", "aj").agg(
        F.count("*").cast("long").alias("c")
    )
    rows = cells.groupBy(F.col("ai").alias("k")).agg(
        F.sum("c").cast("long").alias("ra")
    )
    colsums = cells.groupBy(F.col("aj").alias("k")).agg(
        F.sum("c").cast("long").alias("cb")
    )
    ab = rows.join(colsums, "k", "outer").select(
        (
            F.coalesce(F.col("ra"), F.lit(0)).cast(d38)
            * F.coalesce(F.col("cb"), F.lit(0)).cast(d38)
        )
        .cast(d38)
        .alias("p")
    )
    sab = ab.agg(F.sum("p").cast(d38).alias("sab"))
    diag = cells.agg(
        F.sum("c").cast("long").alias("m_edges"),
        F.sum(F.when(F.col("ai") == F.col("aj"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("c_same"),
    )
    out = diag.crossJoin(sab)
    m38 = F.col("m_edges").cast(d38)
    num = (m38 * F.col("c_same") - F.col("sab")).cast(d38)
    den = (m38 * m38 - F.col("sab")).cast(d38)
    return out.select(
        "m_edges",
        "c_same",
        F.when(
            den != 0, num.cast("double") / den.cast("double")
        ).alias("assortativity"),
    )


def weighted_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
) -> DataFrame:
    """Hop-bounded single-source shortest paths from a SEED set over
    the undirected weighted graph (positive integer weights; parallel
    edges collapse to their MIN weight): ``rounds`` Bellman-Ford
    relaxations, so distances are EXACT for every shortest path using
    <= rounds edges — the watchlist variant (cost scales with seeds x
    reach; fixed rounds, per-round checkpoints, the
    harmonic_centrality discipline; all-nodes all-pairs is a
    different algorithm).

    Determinism: distances are exact integer sums; each round is a
    keyed MIN groupBy (order-free). The per-seed readouts are integer
    aggregates plus one closeness division.

    Returns one row per seed: (seed, n_reached, total_dist, max_dist,
    closeness) with closeness = n_reached / total_dist and the seed
    itself excluded.
    """
    held: list[DataFrame] = []
    ckpt = make_checkpointer(held)
    und = ckpt(
        edges.select(
            F.col(src).alias("s"),
            F.col(dst).alias("d"),
            F.col(weight).cast("long").alias("w"),
        )
        .unionByName(
            edges.select(
                F.col(dst).alias("s"),
                F.col(src).alias("d"),
                F.col(weight).cast("long").alias("w"),
            )
        )
        .groupBy("s", "d")
        .agg(F.min("w").alias("w"))
    )
    dist = (
        seeds.select(F.col(node).alias("seed"))
        .distinct()
        .select(
            "seed",
            F.col("seed").alias("n"),
            F.lit(0).cast("long").alias("dist"),
        )
    )
    # r13 negative result: delta relaxation (only rows whose dist
    # improved last round relax, tracked via a __old = pre-round dist
    # column through the same MIN aggregate) was prototyped and
    # REVERTED — correct, but at the measured scale most reached rows
    # keep improving every round, so the shrunken relax input never
    # pays for the extra column through the shuffle + second MIN
    # (q640 3.4-4.5s before vs 3.8-4.1s after across three pairs).
    for _ in range(int(rounds)):
        relax = dist.join(und, dist["n"] == und["s"]).select(
            "seed",
            F.col("d").alias("n"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        dist = ckpt(
            dist.unionByName(relax)
            .groupBy("seed", "n")
            .agg(F.min("dist").alias("dist"))
        )
    release(*held, keep=[dist])
    reached = dist.filter(F.col("dist") > 0)
    return reached.groupBy("seed").agg(
        F.count("*").cast("long").alias("n_reached"),
        F.sum("dist").cast("long").alias("total_dist"),
        F.max("dist").cast("long").alias("max_dist"),
    ).select(
        "seed",
        "n_reached",
        "total_dist",
        "max_dist",
        F.round(
            F.col("n_reached").cast("double")
            / F.col("total_dist").cast("double"),
            9,
        ).alias("closeness"),
    )
