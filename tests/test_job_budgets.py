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

import os
import uuid

import pytest

from pyspark.sql import functions as F

from etl_java_spark.operators import dedup, similarity
from etl_java_spark.plans.pipeline import ParquetSource, Pipeline
from etl_java_spark.sinks import writers
from etl_java_spark.sources import readers

SCHEMA = "id int, part string, v string"

#: path -> (jobs, stages). The partition-scoped budget equals
#: ``sinks.merge.jobs``/``.stages`` of a traced perfbench ``upsert_feed``
#: merge: the deduplicated batch's checkpoint, which also observes the
#: touched partition values (2 jobs; 6 in all when a distinct query of
#: its own collected them), then the merge write (3). The full rewrite
#: is the same dynamic overwrite over the whole table (6 when it was a
#: static overwrite that checkpointed its output); the cold start
#: checkpoints and observes nothing (5 when it collected values).
BUDGETS = {
    "partition_scoped": (5, 5),
    "full_rewrite": (5, 5),
    "cold_start": (3, 3),
}


@pytest.mark.parametrize("path_name", sorted(BUDGETS))
def test_merge_by_pk_job_budget(spark, tmp_path, monkeypatch, job_counts, path_name):
    """``merge_by_pk`` of a parquet batch into a table partitioned on one
    column: the partition-scoped merge, its whole-table form (past
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


CDC_SCHEMA = "id int, op string, seq long, v string"

#: writer -> (jobs, stages) of a batch into an existing unpartitioned
#: table. Each reads the table with its schema from one footer, so none
#: runs a schema inference job (one more each for ``merge_by_pk_evolve``,
#: ``apply_cdc_by_pk`` and ``insert_if_absent`` when they inferred it).
#: ``merge_by_pk`` (the path of every library caller) and
#: ``merge_by_pk_evolve``: the deduplicated batch's checkpoint (2), then
#: ``_rewrite_table``'s checkpoint of the merged rows and its write (3).
#: ``apply_cdc_by_pk``: the reconcile's checkpoint and its write.
#: ``insert_if_absent``: one append, which checkpoints nothing.
UNPARTITIONED_BUDGETS = {
    "merge_by_pk": (5, 5),
    "merge_by_pk_evolve": (5, 5),
    "apply_cdc_by_pk": (5, 5),
    "insert_if_absent": (3, 3),
}


@pytest.mark.parametrize("writer", sorted(UNPARTITIONED_BUDGETS))
def test_unpartitioned_writer_job_budget(spark, tmp_path, job_counts, writer):
    """Each table-state writer of an unpartitioned table, given a parquet
    batch of updates, inserts and a delete for a table it made from a
    40-row cold start, stays within its job and stage budgets."""
    base, batch, path = (str(tmp_path / n) for n in ("base", "batch", "t"))
    spark.createDataFrame(
        [(i, "U", 1, f"v{i}") for i in range(40)], CDC_SCHEMA
    ).repartition(4).write.parquet(base)
    spark.createDataFrame(
        [(0, "U", 2, "A"), (1, "U", 2, "B"), (2, "D", 2, None), (100, "I", 2, "C")], CDC_SCHEMA
    ).coalesce(1).write.parquet(batch)
    call = {
        "merge_by_pk": lambda df: writers.merge_by_pk(spark, df, path, ["id"]),
        "merge_by_pk_evolve": lambda df: writers.merge_by_pk_evolve(spark, df, path, ["id"]),
        "apply_cdc_by_pk": lambda df: writers.apply_cdc_by_pk(spark, df, path, ["id"]),
        "insert_if_absent": lambda df: writers.insert_if_absent(spark, df, path),
    }[writer]
    call(spark.read.schema(CDC_SCHEMA).parquet(base))
    got = job_counts(lambda: call(spark.read.schema(CDC_SCHEMA).parquet(batch)))
    jobs, stages = UNPARTITIONED_BUDGETS[writer]
    assert got.jobs <= jobs and got.stages <= stages, got


#: source -> jobs to build the frame. A parquet file or a flat shard
#: directory takes its schema from one footer on the driver (1 job each
#: with Spark's schema inference).
SOURCE_BUDGETS = {
    "pipeline_parquet_file": 0,
    "pipeline_parquet_shards": 0,
    "read_parquet_file": 0,
    "read_parquet_shards": 0,
}


@pytest.mark.parametrize("source", sorted(SOURCE_BUDGETS))
def test_parquet_source_job_budget(spark, tmp_path, job_counts, source):
    """Building ``Pipeline(ParquetSource(...))`` and ``readers.read_parquet``
    over a single parquet file and over a directory of shards (with the
    ``_SUCCESS`` and ``.crc`` files a Spark write leaves) runs no job."""
    shards = str(tmp_path / "shards")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(12)], "id int, v string"
    ).repartition(3).write.parquet(shards)
    file = next(os.path.join(shards, n) for n in sorted(os.listdir(shards)) if n.endswith(".parquet"))
    kind, target = source.rsplit("_", 1)
    path = file if target == "file" else shards
    build = {
        "pipeline_parquet": lambda: Pipeline(ParquetSource(path), select=["id"]).build(spark),
        "read_parquet": lambda: readers.read_parquet(spark, path),
    }[kind]
    got = job_counts(build)
    assert got.jobs <= SOURCE_BUDGETS[source], got


#: A chain of 6 near-duplicate docs: doc i is the token window
#: [3i, 3i + 24), so neighbours share 21 of 24 tokens (shingle Jaccard
#: 19/25 = 0.76) and docs two apart share 16/30 or less.
CHAIN = [(i, " ".join(f"w{t}" for t in range(3 * i, 3 * i + 24))) for i in range(6)]

#: operator -> (jobs, stages), each with its result collected. MinHash:
#: one signature exchange read by both the bucket-size count and the
#: pair join (15 when each planned its own), and the verify's shingle
#: sets planned inside its one query (13 when they were persisted).
#: Clusters: 6 rounds of 5 jobs plus the edge list; the convergence
#: probe rides on each round's checkpoint job (46 with a probe job pair
#: per round). N-gram Jaccard: one query over the shingle sets (17 when
#: they were persisted).
DEDUP_BUDGETS = {
    "minhash_dedup_pairs": (10, 10),
    "dedup_clusters": (34, 34),
    "brute_force_topk": (4, 4),
    "ngram_jaccard_pairs": (7, 7),
}


@pytest.mark.parametrize("op", sorted(DEDUP_BUDGETS))
def test_near_duplicate_job_budget(spark, tmp_path, job_counts, op):
    """The near-duplicate path of a dedup pass on a 6-doc chain, read
    from parquet: MinHash pairs, their clusters, the brute-force top-k
    over the docs' embeddings and the all-pairs n-gram Jaccard each stay
    within their budgets."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, t, [float(i), 1.0, float(i % 3)]) for i, t in CHAIN],
        "doc_id long, text string, embedding array<double>",
    ).coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    pairs = [(i, i + 1) for i in range(5)]
    calls = {
        "minhash_dedup_pairs": lambda: dedup.minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.7
        ).collect(),
        "dedup_clusters": lambda: dedup.dedup_clusters(
            spark.createDataFrame(pairs, "id_a long, id_b long")
        ).collect(),
        "brute_force_topk": lambda: similarity.brute_force_topk(
            docs, docs.filter(F.col("doc_id") < 2), "embedding", "doc_id", k=2
        ).collect(),
        "ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.7
        ).collect(),
    }
    got = job_counts(calls[op])
    jobs, stages = DEDUP_BUDGETS[op]
    assert got.jobs <= jobs and got.stages <= stages, got


#: 60 chains of 6 near-duplicate docs, built like CHAIN over a vocabulary
#: of their own, so clusters take several label-propagation rounds.
CORPUS = [
    (60 * c + i, " ".join(f"c{c}w{t}" for t in range(3 * i, 3 * i + 24)),
     [float(i), 1.0 + c, float((c + i) % 7)])
    for c in range(60)
    for i in range(6)
]


def test_near_duplicate_chain_reuses_compiled_code(spark, tmp_path, codegen_compiles):
    """A second near-duplicate pass compiles no generated class: MinHash
    pairs, their clusters and the brute-force top-k over the same
    360-doc corpus compile their whole-stage-codegen classes on the first
    pass and find every one in the session's codegen cache on the second.
    A cache smaller than the pass's working set evicts classes before
    the next pass asks for them again, and every pass recompiles."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        CORPUS, "doc_id long, text string, embedding array<double>"
    ).coalesce(1).write.parquet(path)

    def chain():
        docs = readers.read_parquet(spark, path)
        pairs = dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.7)
        labels = dedup.dedup_clusters(pairs)
        kept = docs.join(
            labels.filter("id != cluster_id").select(F.col("id").alias("doc_id")),
            "doc_id", "left_anti",
        )
        similarity.brute_force_topk(
            kept, docs.filter(F.col("doc_id") % 60 == 0), "embedding", "doc_id", k=3
        ).collect()

    # the counter sees a compile: a literal no earlier query used is
    # inlined into the generated code, so its class cannot be cached
    nonce = uuid.uuid4().int % 10**9 + 2
    assert codegen_compiles(lambda: spark.range(3).selectExpr(f"id * {nonce}").collect()) > 0
    first = codegen_compiles(chain)
    assert codegen_compiles(chain) == 0, f"recompiled; the first pass compiled {first}"
