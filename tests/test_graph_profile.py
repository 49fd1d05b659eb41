"""PageRank / degree stats (operators/graph.py) and numeric profiling
(operators/dq.py:profile_numeric)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_java_spark.operators.dq import profile_numeric
from etl_java_spark.operators.graph import out_degrees, pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_out_degrees(spark):
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c")])
    got = {r.src: r.outdeg for r in out_degrees(e).collect()}
    assert got == {"a": 2, "b": 1}


def test_pagerank_hand_computed_chain(spark):
    # a -> b -> c: after 1 iteration with d=0.85, uniform init 1.0:
    #   r(a) = 0.15 (no in-edges)
    #   r(b) = 0.15 + 0.85 * (1.0 / 1) = 1.0
    #   r(c) = 0.15 + 0.85 * (1.0 / 1) = 1.0
    e = _edges(spark, [("a", "b"), ("b", "c")])
    got = {r.node: r.rank for r in pagerank(e, iterations=1).collect()}
    assert abs(got["a"] - 0.15000000000000002) < 1e-15
    assert abs(got["b"] - 1.0) < 1e-15
    assert abs(got["c"] - 1.0) < 1e-15


def test_pagerank_sink_accumulates(spark):
    # star: many sources point at one sink; sink must outrank sources
    e = _edges(spark, [(f"s{i}", "hub") for i in range(5)])
    got = {r.node: r.rank for r in pagerank(e, iterations=3).collect()}
    assert got["hub"] > got["s0"]
    # sources have no in-edges: rank = 1 - d every iteration
    assert all(abs(got[f"s{i}"] - got["s0"]) < 1e-15 for i in range(5))


def test_pagerank_deterministic_under_repartition(spark):
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
    )
    r1 = sorted(pagerank(e, iterations=3).collect())
    r2 = sorted(pagerank(e.repartition(7), iterations=3).collect())
    assert r1 == r2  # bitwise — decimal-exact contribution sums


def test_profile_numeric(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (3, 30.0)],
        "k long, v double",
    )
    rows = {r.col_name: r for r in profile_numeric(df, ["k", "v"]).collect()}
    k, v = rows["k"], rows["v"]
    assert (k.n, k.n_null, k.n_distinct, k.min_v, k.max_v) == (4, 0, 3, 1.0, 3.0)
    assert (v.n, v.n_null, v.n_distinct, v.min_v, v.max_v) == (4, 1, 2, 10.0, 30.0)


def test_pagerank_empty_edges(spark):
    e = spark.createDataFrame([], "src string, dst string")
    assert pagerank(e, iterations=2).count() == 0


def test_pagerank_reliable_checkpoint(spark, reliable_checkpoints):
    """A session started with spark.checkpoint.dir switches to reliable
    df.checkpoint (survives executor loss on a cluster); results must be
    bitwise-identical to the localCheckpoint default, and checkpoint
    files must appear."""
    from pathlib import Path

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")])
    local = sorted(pagerank(e, iterations=3).collect())
    with reliable_checkpoints() as ckdir:
        reliable = sorted(pagerank(e, iterations=3).collect())
    assert local == reliable
    assert any(Path(ckdir).rglob("rdd-*")), "no reliable checkpoint files written"


def test_iterative_graph_operators_hold_only_their_result(spark, held_rdds):
    """pagerank (pinned static sides, a mid-run checkpoint at round 4)
    and personalized_pagerank (a checkpoint every round) release
    everything but their result before returning."""
    from etl_java_spark.operators.graph import personalized_pagerank
    from etl_java_spark.plans.checkpoints import release

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")])
    seeds = spark.createDataFrame([("a",)], ["node"])
    for run in (lambda: pagerank(e, iterations=5),
                lambda: personalized_pagerank(e, seeds, 3)):
        ranks = run()
        rid = ranks._jdf.queryExecution().logical().rdd().id()
        assert held_rdds() == {rid}
        assert ranks.count() == 4
        release(ranks)


def test_personalized_pagerank_mass_concentrates_on_seeds(spark):
    from etl_java_spark.operators.graph import pagerank, personalized_pagerank
    from pyspark.sql import functions as F

    # two disconnected stars: hub A -> a1..a3, hub B -> b1..b3
    edges = [("A", f"a{i}") for i in range(3)] + [
        ("B", f"b{i}") for i in range(3)
    ]
    e = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([("A",)], ["node"])
    ppr = {r.node: r.rank for r in personalized_pagerank(e, seeds, 3).collect()}
    # mass flows only within the seeded component
    assert ppr["A"] > 0 and all(ppr[f"a{i}"] > 0 for i in range(3))
    assert ppr["B"] == 0.0 and all(ppr[f"b{i}"] == 0.0 for i in range(3))
    # global pagerank, by contrast, ranks both hubs identically
    pr = {r.node: r.rank for r in pagerank(e, 3).collect()}
    assert pr["A"] == pr["B"] > 0


def test_k_core_peels_to_clique(spark):
    from etl_java_spark.operators.graph import k_core

    # K5 (every vertex degree 4) + a chain hanging off it: the 4-core
    # is exactly the K5; peeling must cascade through the chain.
    k5 = [(i, j) for i in range(5) for j in range(5) if i < j]
    chain = [(4, 10), (10, 11), (11, 12)]
    e = spark.createDataFrame(k5 + chain, ["src", "dst"])
    core = {r.node: r.degree for r in k_core(e, k=4, rounds=8).collect()}
    assert set(core) == {0, 1, 2, 3, 4}
    assert all(d == 4 for d in core.values())
    # 2-core of a pure chain is empty (endpoints peel, cascade inward)
    chain_only = spark.createDataFrame(chain, ["src", "dst"])
    assert k_core(chain_only, k=2, rounds=8).count() == 0
