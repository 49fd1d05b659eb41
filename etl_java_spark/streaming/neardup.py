"""Streaming near-duplicate guard — an LSH band index maintained
across foreachBatch micro-batches so every newly ingested document is
checked against the standing corpus WITHOUT rebuilding the index.

The batch-side loop (q396 find -> q401 measure -> q537 cut) assumes a
static corpus; a live ingest pipeline needs the same guard
incrementally. This module composes the repo's existing pieces:

- ``operators/dedup.py``: ``minhash_index`` (the persistable
  (id, band, band_hash) layout), ``minhash_incremental_pairs`` (batch
  vs index + batch-internal candidates, exact-Jaccard verified), and
  ``lsh_band_sizing`` (threshold-sized banding).
- ``streaming/events.py:foreach_batch_merge``'s epoch-keyed sink
  discipline: every per-batch write goes to an ``epoch=N`` partition
  directory with mode=overwrite, so a retried micro-batch rewrites the
  SAME partition — the exactly-once recipe without a transactional
  table format (with Delta these become MERGE/appends in one txn).

Duplicate POLICY (order-free by construction): a document is REJECTED
iff some document with a SMALLER id has shingle-Jaccard >= threshold
with it — a pure pairwise predicate over the document SET. The guard
discovers every qualifying pair no matter how the stream is split:
when the later-arriving member of a pair is processed, the earlier one
is already in the band index (batches run serially), and same-batch
pairs come from the batch-internal band join. Because rejection
attaches to the HIGHER id of a pair, a doc accepted in epoch k can be
retro-rejected in epoch k+j when its lower-id twin arrives — the
drained state therefore converges to the same answer for ANY batch
split or arrival order (the q350 CDC batching-order-robustness
contract, here guaranteed by the id total order instead of a seq
column). The index keeps ALL seen docs (rejected ones included): the
predicate counts a lower-id doc even when that doc is itself a
rejected duplicate, which keeps whole near-dup chains out without
order-dependent survivor election.

Recall contract (the q219/q220 fixture pin): banding is probabilistic
by design; equality with the exact all-pairs oracle relies on measured
recall = 1.0 at the gate fixtures. At an untested scale a band miss
would be a recall measurement, not a wrong verified score — the
verify stage is always exact shingle Jaccard.

100 TB design: per micro-batch cost is batch-sized, never
corpus-sized — band rows are computed for the BATCH only and probe
the standing index on the (band, band_hash) equi-join key (bucket the
index layout by the same key to make the probe shuffle-free); the
verify stage semi-joins texts for TOUCHED docs only; the historical
corpus is never re-paired with itself. State lives in three parquet
tables (band index, seen docs, dup pairs), each appended one epoch
partition per batch.

Reference: RoberWaters/ETL-Java has no streaming or dedup surface
(src/etl/ETLProcess.java is a batch console ETL); Charter §2B
extension (LLM-pipeline dedup family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.checkpoints import materialize

__all__ = ["foreach_batch_neardup_guard", "read_neardup_state"]


def _read_or(spark: SparkSession, path: str, like: DataFrame) -> DataFrame:
    """Read a parquet state path, or an empty frame with ``like``'s
    schema before the first epoch exists (first-batch bootstrap).
    Existence is probed through the Hadoop FileSystem API (works for
    local paths and cluster filesystems alike) rather than
    read-and-catch, so the bootstrap batch does not log a spurious
    FileNotFound stack trace."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return like.limit(0)
    return spark.read.parquet(path).select(*like.columns)


def foreach_batch_neardup_guard(
    spark: SparkSession,
    doc_stream: DataFrame,
    workdir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    threshold: float = 0.5,
):
    """Start the guard: per micro-batch, verify the batch against the
    standing band index, record dup pairs, and append the batch's band
    rows + docs to the state. Returns the StreamingQuery (availableNow
    trigger — drains everything currently available, then stops).

    State layout under ``workdir``: ``band_index/epoch=N`` (id, band,
    band_hash), ``seen_docs/epoch=N`` (id, text), ``dup_pairs/epoch=N``
    (id_a, id_b, jaccard) with id_a < id_b — id_b is the rejected
    member. Each write is mode=overwrite into its epoch partition
    (retry-idempotent).
    """
    from ..operators.dedup import (
        lsh_band_sizing,
        minhash_incremental_pairs,
        minhash_index,
    )

    bands, _rows = lsh_band_sizing(threshold, num_hashes)
    index_path = f"{workdir}/band_index"
    docs_path = f"{workdir}/seen_docs"
    dup_path = f"{workdir}/dup_pairs"

    def _guard(batch_df: DataFrame, epoch_id: int) -> None:
        batch = (
            batch_df.select(F.col(id_col), F.col(text_col))
            .dropDuplicates([id_col])
            .transform(materialize)
        )
        banded = minhash_index(
            batch, text_col, id_col, num_hashes, bands, shingle_n
        ).transform(materialize)
        seen = _read_or(spark, docs_path, batch)
        index = _read_or(spark, index_path, banded)
        dups = minhash_incremental_pairs(
            seen,
            batch,
            text_col,
            id_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            threshold=threshold,
            index=index,
            # the batch's band rows are computed (and checkpointed)
            # above anyway to append them to the standing index — reuse
            # them so the batch is MinHash-signed once per micro-batch,
            # not twice (r12)
            new_index=banded,
        )
        dups.write.mode("overwrite").parquet(
            f"{dup_path}/epoch={int(epoch_id)}"
        )
        banded.write.mode("overwrite").parquet(
            f"{index_path}/epoch={int(epoch_id)}"
        )
        batch.write.mode("overwrite").parquet(
            f"{docs_path}/epoch={int(epoch_id)}"
        )

    return (
        doc_stream.writeStream.foreachBatch(_guard)
        .outputMode("append")
        .option("checkpointLocation", f"{workdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )


def read_neardup_state(
    spark: SparkSession,
    workdir: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drained per-document state: one row per SEEN doc —
    (id, accepted, n_dup_matches, best_match_id, best_jaccard).

    ``accepted`` = no lower-id near-duplicate exists anywhere in the
    drained corpus; ``best_match_id`` is the highest-Jaccard lower-id
    match (smallest id on ties — deterministic), NULL when accepted.
    One grouped aggregate over the (batch-discovery-unique) dup pairs
    + one left join onto the seen docs; never corpus-quadratic.
    """
    seen = spark.read.parquet(f"{workdir}/seen_docs").select(F.col(id_col))
    dups = spark.read.parquet(f"{workdir}/dup_pairs").select(
        "id_a", "id_b", "jaccard"
    )
    per = dups.groupBy(F.col("id_b").alias(id_col)).agg(
        F.count("*").cast("long").alias("n_dup_matches"),
        F.max_by(
            F.struct(
                F.col("id_a").alias("m"), F.col("jaccard").alias("j")
            ),
            F.struct(F.col("jaccard").alias("j"), (-F.col("id_a")).alias("t")),
        ).alias("best"),
    )
    return seen.join(per, id_col, "left").select(
        F.col(id_col),
        F.col("n_dup_matches").isNull().alias("accepted"),
        F.coalesce("n_dup_matches", F.lit(0)).cast("long").alias(
            "n_dup_matches"
        ),
        F.col("best.m").alias("best_match_id"),
        F.col("best.j").alias("best_jaccard"),
    )
