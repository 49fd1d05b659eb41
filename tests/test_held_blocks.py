"""A public operator leaves nothing in Spark's CacheManager.

A ``persist()``ed plan stays in the session's CacheManager until someone
calls ``unpersist``, so an operator that persisted a frame and returned
a lazy result over it left cached blocks behind on every call, for as
long as the session lived. Every operator below once did. A checkpoint
(``plans/checkpoints.materialize``) is not registered there: its blocks
go once the frame is unreachable. ``getPersistentRDDs`` is not counted
here, because checkpoints leave it only when the JVM collects them, so
it moves with GC."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_java_spark.operators import assoc, dedup, dq, evaluation, graph, mba, relational, similarity


def _texts(spark):
    # 8 chains of 5 near-duplicate docs: doc i of a chain is the token
    # window [3i, 3i + 24) of the chain's own vocabulary
    return spark.createDataFrame(
        [
            (10 * c + i, " ".join(f"c{c}w{t}" for t in range(3 * i, 3 * i + 24)))
            for c in range(8)
            for i in range(5)
        ],
        "doc_id long, text string",
    )


def test_operators_leave_the_cache_manager_empty(spark):
    spark.catalog.clearCache()
    docs = _texts(spark)
    tx = spark.createDataFrame(
        [(b, i) for b in range(30) for i in range(6) if (b + i) % 3], "basket long, item long"
    )
    sales = spark.createDataFrame(
        [(i % 7, p, 10 * i + p, i % 4 + p) for i in range(28) for p in range(3)],
        "item long, period long, revenue long, qty long",
    )
    scores = spark.createDataFrame(
        [(float(i % 17), i % 3 == 0, i % 5, i % 4, (i * 7) % 11) for i in range(60)],
        "score double, cal boolean, x long, y long, q long",
    )
    vecs = spark.createDataFrame(
        [(i, i % 3, [float(i % 3), 1.0, float(i % 5)]) for i in range(30)],
        "id long, label long, vec array<double>",
    )
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4), (5, 6)], "src long, dst long")
    calls = {
        "minhash_dedup_pairs -> dedup_clusters": lambda: dedup.dedup_clusters(
            dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.7)
        ),
        "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(docs, "text", "doc_id"),
        "ngram_containment_pairs": lambda: dedup.ngram_containment_pairs(docs, "text", "doc_id"),
        "association_rules": lambda: mba.association_rules(tx, "basket", "item"),
        "abc_xyz_analysis": lambda: relational.abc_xyz_analysis(
            sales, "item", "period", "revenue", "qty"
        ),
        "copurchase_lift": lambda: assoc.copurchase_lift(tx, "basket", "item", min_support=2),
        "confident_label_noise": lambda: similarity.confident_label_noise(
            vecs, "vec", "id", "label"
        ),
        "mutual_information": lambda: evaluation.mutual_information(scores, "x", "y"),
        "conformal_coverage": lambda: evaluation.conformal_coverage(
            scores, "score", F.col("cal")
        ),
        "spearman_corr": lambda: evaluation.spearman_corr(scores, "x", "q"),
        "t_closeness": lambda: dq.t_closeness(scores, ["x"], "y"),
        "pagerank": lambda: graph.pagerank(edges),
        "label_propagation": lambda: graph.label_propagation(edges),
    }
    cache = spark._jsparkSession.sharedState().cacheManager()
    held = []
    for name, call in calls.items():
        assert call().collect()
        if not cache.isEmpty():
            held.append(name)
            spark.catalog.clearCache()
    assert not held, f"left persisted plans in the CacheManager: {held}"
