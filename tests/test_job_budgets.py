"""Job budgets: the Spark work of a benchmark-covered path, bounded.

At test sizes an operation's cost is its Spark jobs, and job and stage
counts are deterministic, so a change that adds a job fails here
instead of only in a traced benchmark run. Each budget is the count
measured on the test session; a change that lowers a count lowers its
budget with it, and one that raises a budget says why. Task counts
follow the session's shuffle-partition count, so they are reported in
the failure message but not bounded.
"""

from __future__ import annotations

import pytest

from etl_java_spark.sinks import writers

SCHEMA = "id int, part string, v string"

#: path -> (jobs, stages). The partition-scoped budget equals
#: ``sinks.merge.jobs``/``.stages`` of a traced perfbench ``upsert_feed``
#: merge: the distinct of the touched partition values (2 jobs), then
#: the merge write (4).
BUDGETS = {
    "partition_scoped": (6, 6),
    "full_rewrite": (7, 7),
    "cold_start": (5, 5),
}


@pytest.mark.parametrize("path_name", sorted(BUDGETS))
def test_merge_by_pk_job_budget(spark, tmp_path, monkeypatch, job_counts, path_name):
    """``merge_by_pk`` of a parquet batch into a table partitioned on one
    column: the partition-scoped merge, its full-rewrite fallback (past
    MAX_PRUNED_PARTITIONS) and the cold start each stay within their job
    and stage budgets."""
    base, batch, path = (str(tmp_path / n) for n in ("base", "batch", "t"))
    spark.createDataFrame(
        [(i, f"p{i % 4}", f"v{i}") for i in range(40)], SCHEMA
    ).repartition(4).write.parquet(base)
    # an update and an insert in each of two partitions, and a new partition
    spark.createDataFrame(
        [(0, "p0", "A"), (100, "p0", "B"), (1, "p1", "C"), (101, "p1", "D"), (102, "p9", "E")],
        SCHEMA,
    ).coalesce(1).write.parquet(batch)

    def merge(src):
        writers.merge_by_pk(
            spark, spark.read.schema(SCHEMA).parquet(src), path, ["id"], partition_by=["part"]
        )

    if path_name == "cold_start":
        got = job_counts(lambda: merge(base))
    else:
        merge(base)
        if path_name == "full_rewrite":
            monkeypatch.setattr(writers, "MAX_PRUNED_PARTITIONS", 0)
        got = job_counts(lambda: merge(batch))
    jobs, stages = BUDGETS[path_name]
    assert got.jobs <= jobs and got.stages <= stages, got
