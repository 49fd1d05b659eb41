"""Spans and per-layer engine counters for the traced run.

A span is recorded around each call the benchmark makes into a layer of
``etl_java_spark``. Spans live in memory and are written out once, at the
end of the run. While a span is open its layer's Spark job group is set,
so every job a layer triggers (and no other) is counted against it;
jobs of a nested span count against the nested layer only.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.parse import urlparse

#: Layers that get engine counters, in report order.
LAYERS = (
    "sources",
    "plans.pipeline",
    "operators.transforms",
    "sinks.merge",
    "sinks.write",
    "functions.text",
    "operators.dedup",
    "plans.checkpoints",
    "operators.similarity",
    "queries",
)


@dataclass
class Span:
    metric: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records spans while ``active``; a no-op pass-through otherwise."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.active = False
        self.op = -1
        self._stack: list[int] = []
        self._forced: list = []  # JVM RDDs of forced boundaries not yet released
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    @contextmanager
    def operation(self, op_id: int, traced: bool):
        self.active, self.op = traced, op_id
        try:
            if traced:
                with self.span("op"):
                    yield
            else:
                yield
        finally:
            self.active = False

    @contextmanager
    def span(self, layer: str, metric: str | None = None):
        """Span for one call into ``layer``; its inclusive time is reported
        as ``metric`` (default ``<layer>.busy_s``)."""
        if not self.active:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"op{self.op}/s{idx}/{layer}"
        sp = Span(metric or f"{layer}.busy_s", layer, self.op, parent, time.perf_counter(),
                  group=group)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(
                "spark.jobGroup.id", self.spans[self._stack[-1]].group if self._stack else None
            )

    def add(self, key: str, value: float) -> None:
        """Accumulate a count for the current traced operation."""
        if self.active:
            self.counts[self.op][key] += value

    def force(self, df):
        """Materialise ``df`` at a layer boundary (traced ops only), so the
        layer's work is charged to its own span instead of to whichever
        later layer runs the first action."""
        if not self.active:
            return df
        out = df.localCheckpoint(eager=True)
        self._forced.append(out._jdf.queryExecution().logical().rdd())
        return out

    def release(self) -> None:
        """Drop the blocks of the boundaries forced so far, so that the
        persisted-RDD count after an untraced operation shows the program's
        own cache growth only. Called between operations: the outputs of
        the last traced operation stay readable until the next one starts."""
        for rdd in self._forced:
            rdd.unpersist(False)
        self._forced.clear()

    # ------------------------------------------------------------------ report

    def self_time(self, sp: Span) -> float:
        dur = sp.end - sp.start
        return dur - sum(self.spans[c].end - self.spans[c].start for c in sp.children)

    def per_op(self) -> dict[int, dict[str, float]]:
        """{op: {"<layer>.self_s": ..., "<metric>": ...}} from the spans."""
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            if sp.layer in LAYERS:
                out[sp.op][f"{sp.layer}.self_s"] += self.self_time(sp)
                out[sp.op][sp.metric] += sp.end - sp.start
        return out

    def engine_counters(self) -> dict[int, dict[str, float]]:
        """{op: {"<layer>.<counter>": value}} from the job groups of the spans.

        Job, stage and task counts come from ``statusTracker``; shuffle and
        spill bytes from the local UI REST endpoint.
        """
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        stage_rest: dict[int, dict] = {}
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
        with urllib.request.urlopen(url, timeout=60) as r:
            for s in json.loads(r.read()):
                agg = stage_rest.setdefault(s["stageId"], defaultdict(int))
                agg["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                agg["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            if sp.layer not in LAYERS:
                continue
            c = out[sp.op]
            for jid in st.getJobIdsForGroup(sp.group):
                c[f"{sp.layer}.jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    c[f"{sp.layer}.stages"] += 1
                    c[f"{sp.layer}.tasks"] += si.numTasks
                    c[f"{sp.layer}.failed_tasks"] += si.numFailedTasks
                    rs = stage_rest.get(sid, {})
                    c[f"{sp.layer}.shuffle_write_bytes"] += rs.get("shuffle_write_bytes", 0)
                    c[f"{sp.layer}.spill_bytes"] += rs.get("spill_bytes", 0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "metric": sp.metric, "layer": sp.layer, "op": sp.op, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, "group": sp.group,
                }) + "\n")


def _count_files(tr: Tracer, df, _forced) -> None:
    """Files a source scan covers, and their bytes."""
    files = df.inputFiles()
    tr.add("sources.files_read", len(files))
    tr.add("sources.input_bytes", sum(os.path.getsize(urlparse(f).path) for f in files))


def _spanned(tr: Tracer, fn, layer: str, metric: str | None = None, after=None):
    """``fn`` wrapped for traced operations: a span for the call, its result
    forced at the layer boundary, then ``after(tr, result, forced)`` outside
    the span. A plain pass-through outside a traced operation."""

    def wrapper(*args, **kwargs):
        if not tr.active:
            return fn(*args, **kwargs)
        with tr.span(layer, metric):
            out = fn(*args, **kwargs)
            forced = tr.force(out)
        if after is not None:
            after(tr, out, forced)
        return forced

    return wrapper


def _count_candidates(tr: Tracer, _df, forced) -> None:
    tr.add("operators.dedup.candidates", forced.count())


def _count_verified(tr: Tracer, _df, forced) -> None:
    n = forced.count()
    tr.add("operators.dedup.verified_pairs", n)
    tr.add("operators.dedup.candidate_precision",
           n / max(tr.counts[tr.op]["operators.dedup.candidates"], 1))


def wrap_layers(tr: Tracer) -> None:
    """Span the layer calls made inside the public calls a workload makes,
    by replacing the module globals (and one method) those calls look up at
    call time:

    - ``sources``: ``ParquetSource.load`` (inside ``Pipeline.build``),
      ``queries._t`` (every registry query's table read) and
      ``readers.read_parquet``;
    - ``operators.transforms``: ``apply_transforms`` inside ``Pipeline.build``;
    - ``operators.dedup``: ``minhash_signature``, ``minhash_candidate_pairs``
      and ``jaccard_verify`` inside ``minhash_dedup_pairs``;
    - ``plans.checkpoints``: each checkpoint ``dedup_clusters`` takes.

    The wrappers pass straight through outside a traced operation. Traced
    runs only.
    """
    import etl_java_spark.operators.dedup as dedup
    import etl_java_spark.plans.checkpoints as checkpoints
    import etl_java_spark.plans.pipeline as pipeline
    import etl_java_spark.queries as queries
    import etl_java_spark.sources.readers as readers

    pipeline.ParquetSource.load = _spanned(tr, pipeline.ParquetSource.load, "sources",
                                           after=_count_files)
    queries._t = _spanned(tr, queries._t, "sources", after=_count_files)
    readers.read_parquet = _spanned(tr, readers.read_parquet, "sources", after=_count_files)
    pipeline.apply_transforms = _spanned(tr, pipeline.apply_transforms, "operators.transforms")
    dedup.minhash_signature = _spanned(tr, dedup.minhash_signature, "operators.dedup",
                                       "operators.dedup.signature_s")
    dedup.minhash_candidate_pairs = _spanned(
        tr, dedup.minhash_candidate_pairs, "operators.dedup",
        "operators.dedup.candidate_pairs_s", after=_count_candidates)
    dedup.jaccard_verify = _spanned(tr, dedup.jaccard_verify, "operators.dedup",
                                    "operators.dedup.verify_s", after=_count_verified)

    make_checkpointer = checkpoints.make_checkpointer

    def traced_make_checkpointer(checkpoint_dir=None):
        ckpt = make_checkpointer(checkpoint_dir)

        def counted(df):
            if not tr.active:
                return ckpt(df)
            with tr.span("plans.checkpoints"):
                tr.add("plans.checkpoints.rounds", 1)
                return ckpt(df)

        return counted

    checkpoints.make_checkpointer = traced_make_checkpointer
