"""How the engine holds a frame, and how it lets go of one.

Every frame the library holds goes through this module: a checkpoint
through :func:`materialize` (or :func:`make_checkpointer`, its
per-operator form), a partition-preserving cache through :func:`pin`,
and every release through :func:`release`. No other module calls
``localCheckpoint``, ``checkpoint``, ``persist``, ``cache`` or
``unpersist`` (a test enforces it).

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

Release rule: Spark's CacheManager holds a ``persist``ed plan until
someone calls ``unpersist``, however long the session lives; a
checkpoint's blocks go once its frame is unreachable (the
ContextCleaner reclaims them). So a frame that only one query reads is
not held at all — Spark plans the repeated references inside that
query — and a frame that several actions read is a checkpoint, which
an operator may return lazily inside its result. Only :func:`pin`
persists, and its caller releases the pinned frame before it returns.
An iterative operator (``dedup_clusters``, the graph operators, the
other per-round loops) also releases, before it returns, every
checkpoint its result does not read — the edge list, superseded
rounds — so their blocks go at once rather than at the next GC. The
files of a reliable checkpoint are deleted by Spark's cleaner once the
frame is garbage-collected, when
``spark.cleaner.referenceTracking.cleanCheckpoints`` is on.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` under the session's policy (module docstring):
    reliable ``checkpoint`` when the session was started with
    ``spark.checkpoint.dir``, ``localCheckpoint`` otherwise. ``eager=False``
    defers the write to the first action that reads the frame."""
    if df.sparkSession.sparkContext._conf.get("spark.checkpoint.dir"):
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def pin(df: DataFrame, *keys: str) -> DataFrame:
    """Materialize a STATIC per-round join side hash-partitioned on its
    round-join key and keep it cached (the q389 LPA discipline — guide
    §2.4, operations keyed the same way share one exchange):
    InMemoryTableScan preserves the user-specified repartition's
    outputPartitioning, so every round's equi-join on ``keys`` reads
    the table with NO per-round Exchange. A checkpoint can NOT do this
    — LogicalRDD surfaces UnknownPartitioning under AQE, re-exchanging
    the big side every round. Fault tolerance is lineage recompute
    (fine for a once-built static table; per-round STATE keeps its
    checkpoint treatment). Costs one extra build-time shuffle of the
    table, repaid after the first round. Callers :func:`release` it
    when iteration ends — safe because every returned frame is
    checkpoint-materialized first.

    Scope (r13): used by PAGERANK and by ``label_propagation``'s edge
    list (the q389 origin) ONLY. r12 extended the pin family-wide; the
    r13 quiet-box paired A/B (3 reps, controls in-session, corroborating
    both r12 full-bench records and the driver's run) kept it only where
    it wins: pagerank 3.94s pinned vs 5.46s per-round-ckpt at sf0.1, but
    eigenvector 5.26 vs 3.93, hits 6.09 vs 4.43, katz 2.86 vs 2.92 (flat
    warm, +27% in the full bench), ppr 4.04 vs 4.04 (flat warm, +15% in
    the full bench) — those four went back to ckpt'd static sides +
    per-round materialization. At 100 TB (rank vector too big to
    broadcast) the pin argument still holds for all five — but the
    measured local numbers decide the default, and pagerank is the only
    operator where they agree with the theory. Callers that pin again
    must bring a paired A/B.
    """
    p = df.repartition(*[F.col(k) for k in keys]).persist()
    p.count()
    return p


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
    unpersists that RDD; a frame :func:`pin` holds is unpersisted. Anything else — a lazy frame — is left alone, so
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
