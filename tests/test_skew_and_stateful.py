"""Skew-resistant operators + custom stateful streaming."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_java_spark.operators.relational import salted_join, two_phase_agg
from etl_java_spark.sources.readers import normalize_nanos


def test_salted_join_matches_plain(spark):
    # skewed left: one hot key with 500 rows, others with 1
    rows = [(0, i) for i in range(500)] + [(k, k) for k in range(1, 20)]
    left = spark.createDataFrame(rows, "k int, payload int")
    right = spark.createDataFrame([(k, f"v{k}") for k in range(20)], "k int, val string")
    plain = left.join(right, "k").groupBy("k").count()
    salted = salted_join(left, right, on="k", num_salts=4).groupBy("k").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_two_phase_agg_matches_plain(spark, sf_small):
    ev = normalize_nanos(spark.read.parquet(f"{sf_small}/events.parquet"))
    plain = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.min("value").alias("mn"), F.max("value").alias("mx"))
    )
    salted = two_phase_agg(
        ev.select("event_type", "value"),
        key="event_type",
        agg_exprs={"n": ("value", "count"), "mn": ("value", "min"), "mx": ("value", "max")},
        num_salts=4,
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_stateful_running_totals_equals_batch(spark, sf_small):
    from etl_java_spark.streaming.events import read_events_stream, run_to_memory
    from etl_java_spark.streaming.stateful import running_user_totals

    stream = read_events_stream(spark, sf_small)
    got = run_to_memory(running_user_totals(stream), "t_stateful", output_mode="update")
    batch = normalize_nanos(spark.read.parquet(f"{sf_small}/events.parquet"))
    # batch twin of the operator's fixed-point accumulation (exact int64
    # micro-unit sum -> equality is bitwise, no rounding tolerance)
    expected = batch.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (
            F.sum(F.floor(F.col("value") * 1_000_000).cast("long")) / 1_000_000
        ).alias("total_value"),
        F.max("value").alias("max_value"),
    )
    g = {r.user_id: (r.n_events, r.total_value, r.max_value) for r in got.collect()}
    e = {r.user_id: (r.n_events, r.total_value, r.max_value) for r in expected.collect()}
    assert g == e
