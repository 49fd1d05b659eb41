"""How the engine materializes a frame, and how it lets go of one.

Every checkpoint in the library goes through :func:`materialize` (or
:func:`make_checkpointer`, its per-operator form), and every release —
of a checkpoint or of a ``persist``ed frame — through :func:`release`.
No other module calls ``localCheckpoint``, ``checkpoint`` or
``unpersist`` (a test enforces it). The ``persist()`` sites stay with
their operators: they keep lineage and give AQE cache statistics.

Policy — a deployment setting, not a call-site option. A session
started with ``spark.checkpoint.dir`` (``--conf
spark.checkpoint.dir=hdfs://…/ckpt``; Spark sets the context's
checkpoint directory from it at startup) gets reliable
``df.checkpoint``: blocks written to that directory survive executor
loss, at the cost of a write-out per materialization. Without it,
executor-local ``localCheckpoint``: fast, but an executor lost
mid-iteration kills the job — fine on local[N], a reliability bug at
1000 executors. The setting is read from the SparkConf on every call;
``SparkContext.getCheckpointDir()`` is not consulted.

Release rule: an iterative operator (``dedup_clusters``, the graph
operators, the other per-round loops) releases, before it returns,
everything it materialized that its result does not read — the edge
list, ``persist``ed static sides, superseded rounds. Whatever the
result reads stays, because releasing it would make the caller
recompute it or fail; so operators that return a lazy frame over their
own cache (``minhash_dedup_pairs``, ``jaccard_verify``, ``mba``) keep
it. Released local checkpoints and persisted frames free their blocks
at once; the files of a reliable checkpoint are deleted by Spark's
cleaner once the frame is garbage-collected, when
``spark.cleaner.referenceTracking.cleanCheckpoints`` is on.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` under the session's policy (module docstring):
    reliable ``checkpoint`` when the session was started with
    ``spark.checkpoint.dir``, ``localCheckpoint`` otherwise. ``eager=False``
    defers the write to the first action that reads the frame."""
    if df.sparkSession.sparkContext._conf.get("spark.checkpoint.dir"):
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def make_checkpointer(
    held: list[DataFrame] | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Return an eager ``df -> materialized df`` function for an iterative
    operator. Each frame it returns is appended to ``held`` when given,
    so the operator can :func:`release` them before it returns."""

    def ckpt(df: DataFrame) -> DataFrame:
        out = materialize(df)
        if held is not None:
            held.append(out)
        return out

    return ckpt


def release(*frames: DataFrame, keep: Iterable[DataFrame] = ()) -> None:
    """Free the blocks of materialized frames, except those in ``keep``.

    A checkpointed frame (its plan is the checkpoint's ``LogicalRDD``)
    unpersists that RDD; a frame this process ``persist``ed is
    unpersisted. Anything else — a lazy frame — is left alone, so
    releasing a loop variable that has not been materialized yet is a
    no-op."""
    kept = {id(df) for df in keep}
    for df in frames:
        if id(df) in kept:
            continue
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
        elif df.is_cached:
            df.unpersist()
