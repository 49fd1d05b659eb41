"""The three workloads: inputs, one operation, warm-up and output checks.

Every workload is driven as a closed loop by ``run.py``: one client issues
one operation at a time and waits for it. Operations call the public
functions of ``etl_java_spark`` exactly as a user would; in traced
operations the same calls are wrapped in spans and their outputs forced at
each layer boundary (``Tracer.force``), partly through the wrappers that
``tracing.wrap_layers`` installs.
"""

from __future__ import annotations

import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen


def _files(root: str) -> dict[str, int]:
    """{path: size} of the parquet files under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def _oracle_check(spark, data: str, tables: dict[str, str], names, counts: dict,
                  failed_ops: set) -> list[str]:
    """Collect each registry query once and compare it with its DuckDB
    oracle (canonicalised with ``tools.compare_oracle.canon``, compared
    exactly). ``counts`` maps (op, query) to the row count a timed run
    returned; an op fails if any of its queries differs from the oracle or
    returned another count. Returns the problems found."""
    import pandas as pd

    from etl_java_spark import queries as Q
    from tools.compare_oracle import canon

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t, p in tables.items():
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    bad, problems, n_rows = set(), [], {}
    for name in names:
        try:
            s = canon(Q.QUERIES[name](spark, data).toPandas())
            o = canon(con.execute(Q.ORACLES[name]).fetchdf())
            pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
            n_rows[name] = len(o)
        except Exception as ex:  # any mismatch or error fails the query
            bad.add(name)
            problems.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
    for (i, name), n in counts.items():
        if name in bad or n != n_rows.get(name):
            failed_ops.add(i)
    return problems


class Workload:
    name = ""
    #: end-to-end metrics this workload does not define report this value
    NEUTRAL = 1.0
    #: Operations on the real inputs after set-up that are checked but not
    #: timed: operation times keep falling over a process's first
    #: operations, and the first ones after set-up would otherwise set
    #: op_s_tail.
    SETTLE_OPS = 1
    #: extra options for the engine's JVM
    JAVA_OPTS = ""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.failed_ops: set[int] = set()
        self.check_detail = ""

    def prepare(self, i: int):
        """Input of operation ``i``, made outside the timed region."""
        return None

    def after(self, i: int, arg) -> dict:
        """Accounting for operation ``i`` outside the timed region; returns
        per-operation layer counts."""
        return {}

    def write_amp(self) -> float:
        return self.NEUTRAL

    def recall(self) -> float:
        return self.NEUTRAL


# ---------------------------------------------------------------------------


class UpsertFeed(Workload):
    """The reference's own job: select -> rename -> transforms -> upsert by PK
    into a hive-partitioned table, one change batch per operation."""

    name = "upsert_feed"
    BASE_ROWS, BATCH_ROWS = 120_000, 3_000
    SELECT = ["src_id", "src_part", "src_name", "src_status", "src_amount", "src_region"]
    RENAME = {"src_id": "id", "src_part": "part", "src_name": "name",
              "src_status": "status", "src_amount": "amount", "src_region": "region"}
    TRANSFORMS = [("name", "upper"), ("status", "lower"), ("region", "concat", "/r1")]

    def generate(self) -> None:
        self.feed = datagen.UpsertFeed(self.seed, self.BASE_ROWS, self.BATCH_ROWS)
        self.table = os.path.join(self.work, "table")
        self.batches = os.path.join(self.work, "batches")
        os.makedirs(self.batches)
        raw_base = self.feed.base()
        pq.write_table(raw_base, os.path.join(self.work, "base_raw.parquet"))
        datagen.write_hive_table(self._mapped(raw_base), self.table)
        # set-up merges into a small table of its own
        self.warm_feed = datagen.UpsertFeed(self.seed + 1, 20_000, self.BATCH_ROWS)
        self.warm_table = os.path.join(self.work, "warm_table")
        datagen.write_hive_table(self._mapped(self.warm_feed.base()), self.warm_table)
        self.warm_batch = os.path.join(self.work, "warm_batch.parquet")
        pq.write_table(self.warm_feed.batch(0), self.warm_batch)
        self.applied: list[int] = []
        self.bytes_written = self.change_bytes = 0

    def _mapped(self, raw):
        """The pipeline's mapping applied with pyarrow (base load only)."""
        import pyarrow.compute as pc

        t = raw.select(self.SELECT).rename_columns([self.RENAME[c] for c in self.SELECT])
        t = t.set_column(t.schema.get_field_index("name"), "name", pc.utf8_upper(t["name"]))
        t = t.set_column(t.schema.get_field_index("status"), "status", pc.utf8_lower(t["status"]))
        return t.set_column(t.schema.get_field_index("region"), "region",
                            pc.binary_join_element_wise(t["region"], "/r1", ""))

    def prepare(self, i: int) -> str:
        path = os.path.join(self.batches, f"b{i:05d}.parquet")
        pq.write_table(self.feed.batch(i), path)
        self.before = _files(self.table)
        return path

    def _merge(self, spark, tr, batch_path: str, table: str) -> None:
        from etl_java_spark.plans.pipeline import ParquetSource, Pipeline
        from etl_java_spark.sinks import writers

        with tr.span("plans.pipeline", "plans.pipeline.build_s"):
            df = Pipeline(ParquetSource(batch_path), select=self.SELECT, rename=self.RENAME,
                          transforms=self.TRANSFORMS).build(spark)
        with tr.span("sinks.merge"):
            writers.merge_by_pk(spark, df, table, ["id"], partition_by=["part"])

    def warm(self, spark, tr) -> None:
        self._merge(spark, tr, self.warm_batch, self.warm_table)

    def op(self, spark, tr, i: int, batch_path: str) -> int:
        self._merge(spark, tr, batch_path, self.table)
        return self.BATCH_ROWS

    def after(self, i: int, batch_path: str) -> dict:
        """Sink accounting for op ``i`` (outside the timed region)."""
        self.applied.append(i)
        after = _files(self.table)
        new = {p: s for p, s in after.items() if p not in self.before}
        parts = {os.path.basename(os.path.dirname(p)) for p in new}
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in new)
        change = os.path.getsize(batch_path)
        self.bytes_written += sum(new.values())
        self.change_bytes += change
        return {
            "sinks.merge.bytes_written": sum(new.values()),
            "sinks.merge.files_written": len(new),
            "sinks.merge.partitions_rewritten": len(parts),
            "sinks.merge.changed_per_rewritten_row": self.BATCH_ROWS / max(rows, 1),
        }

    def write_amp(self) -> float:
        return self.bytes_written / max(self.change_bytes, 1)

    def check(self, spark) -> None:
        """Final table == base + batches, last batch wins per PK (DuckDB)."""
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        srcs = [f"SELECT *, -1 AS v FROM read_parquet('{self.work}/base_raw.parquet')"] + [
            f"SELECT *, {i} AS v FROM read_parquet('{self.batches}/b{i:05d}.parquet')"
            for i in self.applied
        ]
        digest = ("count(*), sum(hash(id, name, status, amount, region, part::INTEGER))"
                  "::HUGEINT")
        expected = con.execute(f"""
            WITH allv AS ({' UNION ALL '.join(srcs)}),
            last AS (SELECT * FROM allv QUALIFY row_number() OVER (
                       PARTITION BY src_id ORDER BY v DESC) = 1)
            SELECT {digest} FROM (
              SELECT src_id AS id, upper(src_name) AS name, lower(src_status) AS status,
                     src_amount AS amount, src_region || '/r1' AS region, src_part AS part
              FROM last)
        """).fetchone()
        got = con.execute(f"""
            SELECT {digest} FROM read_parquet('{self.table}/*/*.parquet', hive_partitioning = 1)
        """).fetchone()
        if tuple(expected) != tuple(got):
            self.failed_ops.update(self.applied)
            self.check_detail = f"expected {expected} got {got}"


# ---------------------------------------------------------------------------


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = [t for t in re.split(r"[^0-9a-z]+", text.lower().strip()) if t]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class DedupCorpus(Workload):
    """LLM-data prep: profile the corpus with registry queries -> quality
    filter -> MinHash near-dup -> clusters -> keep one representative per
    cluster -> embedding top-k over the kept set -> write the kept set. One
    operation is one full pass over the corpus."""

    name = "dedup_corpus"
    N_DOCS = 1500
    JACCARD, QUALITY, K = 0.7, 0.99, 5
    #: corpus profile: per-doc char/token counts and per-language totals,
    #: each run to count()
    PROFILE = ("q40_doc_stats", "q41_lang_distribution")

    def generate(self) -> None:
        self.corpus = datagen.Corpus(self.seed, self.N_DOCS)
        self.paths = self.corpus.write(self.work)
        self.in_bytes = sum(sum(_files(p).values()) for p in self.paths.values())
        # set-up warms the same code path on a small corpus of its own
        self.warm_corpus = datagen.Corpus(self.seed + 1, 200)
        self.warm_paths = self.warm_corpus.write(os.path.join(self.work, "warm"))
        self.out_bytes = 0
        self.op_outputs: dict[int, tuple] = {}
        self.counts: dict[tuple[int, str], int] = {}
        #: set by a completed check(); recall is 0 without one
        self.expected_kept: set[int] | None = None

    def _pass(self, spark, tr, corpus, paths: dict, out: str, i: int | None = None):
        """One pass; returns (verified pairs DataFrame, top-k rows). The
        profile's row counts are kept under operation ``i``."""
        from pyspark.sql import functions as F

        from etl_java_spark import queries as Q
        from etl_java_spark.functions import text
        from etl_java_spark.operators import dedup, similarity
        from etl_java_spark.sinks import writers
        from etl_java_spark.sources import readers

        for name in self.PROFILE:
            with tr.span("queries", "queries.build_s"):
                df = Q.QUERIES[name](spark, os.path.dirname(paths["documents"]))
            with tr.span("queries", "queries.exec_s"):
                n = df.count()
            if i is not None:
                self.counts[i, name] = n
        docs = readers.read_parquet(spark, paths["documents"])
        emb = readers.read_parquet(spark, paths["embeddings"]).withColumnRenamed(
            "vec_id", "doc_id")
        with tr.span("functions.text"):
            good = tr.force(docs.filter(text.quality_score("text") >= self.QUALITY))
        with tr.span("operators.dedup"):
            pairs = dedup.minhash_dedup_pairs(good, "text", "doc_id", threshold=self.JACCARD)
        with tr.span("operators.dedup", "operators.dedup.clusters_s"):
            labels = tr.force(dedup.dedup_clusters(pairs))
        kept = good.join(labels.filter("id != cluster_id").select(F.col("id").alias("doc_id")),
                         "doc_id", "left_anti")
        with tr.span("operators.similarity", "operators.similarity.topk_s"):
            topk = similarity.brute_force_topk(
                emb.join(kept.select("doc_id"), "doc_id", "left_semi"),
                emb.filter(F.col("doc_id").isin(corpus.queries)),
                "embedding", "doc_id", k=self.K,
            ).select("query_id", "neighbor_id", "cos_sim").collect()
        with tr.span("sinks.write"):
            writers.overwrite(kept.select("doc_id", "text", "source"), out)
        if tr.active:
            # brute-force top-k scores every query against every kept doc
            tr.add("operators.similarity.pairs_scored", len(corpus.queries) * kept.count())
        return pairs, topk

    def warm(self, spark, tr) -> None:
        self._pass(spark, tr, self.warm_corpus, self.warm_paths,
                   os.path.join(self.work, "warm_out"))

    def prepare(self, i: int) -> str:
        return os.path.join(self.work, "kept")

    def op(self, spark, tr, i: int, out: str) -> int:
        self.pairs, self.topk = self._pass(spark, tr, self.corpus, self.paths, out, i)
        return self.N_DOCS

    def after(self, i: int, out: str) -> dict:
        files = _files(out)
        self.out_bytes += sum(files.values())
        ids = set()
        for p in files:
            ids.update(pq.read_table(p, columns=["doc_id"])["doc_id"].to_pylist())
        self.op_outputs[i] = (frozenset(ids), sorted((r[0], r[1]) for r in self.topk))
        return {}

    def write_amp(self) -> float:
        return self.out_bytes / max(self.in_bytes * len(self.op_outputs), 1)

    def recall(self) -> float:
        if self.expected_kept is None:
            return 0.0
        planted = self.corpus.planted_dups()
        return len(planted - self.expected_kept) / len(planted)

    def check(self, spark) -> None:
        """The profile queries must match their DuckDB oracles. The last
        pass's verified pairs are re-checked with an exact Jaccard; an
        independent union-find over them gives the kept set every pass must
        have written; the top-k of every pass must equal an exact numpy
        top-k over that kept set."""
        c = self.corpus
        problems = _oracle_check(spark, os.path.dirname(self.paths["documents"]),
                                 {"documents": self.paths["documents"]}, self.PROFILE,
                                 self.counts, self.failed_ops)
        pairs = [tuple(r) for r in self.pairs.collect()]
        for a, b, j in pairs:
            sa, sb = _shingles(c.texts[a]), _shingles(c.texts[b])
            exact = len(sa & sb) / max(len(sa | sb), 1)
            if exact < self.JACCARD or abs(exact - j) > 1e-9:
                problems.append(f"pair {a},{b}: Jaccard {exact}, reported {j}")
        parent = list(range(c.n_docs))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b, _ in pairs:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        expected_kept = {d for d in range(c.n_docs) if d not in c.junk and find(d) == d}
        kept = np.array(sorted(expected_kept))
        unit = c.emb.astype(np.float64)
        unit /= np.linalg.norm(unit, axis=1, keepdims=True)
        expect_topk = []
        for q in c.queries:
            cs = unit[kept] @ unit[q]
            cs[kept == q] = -np.inf
            order = np.lexsort((kept, -cs))[: self.K]
            expect_topk += [(q, int(kept[j]), float(cs[j])) for j in order]
        got = sorted(tuple(r) for r in self.topk)
        if [g[:2] for g in got] != sorted(e[:2] for e in expect_topk) or any(
            abs(g[2] - e[2]) > 1e-5 for g, e in zip(got, sorted(expect_topk))
        ):
            problems.append("top-k differs from the exact numpy top-k")
        expect_out = (frozenset(expected_kept), [g[:2] for g in got])
        for i, out in self.op_outputs.items():
            if out != expect_out:
                self.failed_ops.add(i)
        if problems:
            self.failed_ops.update(self.op_outputs)
            self.check_detail = "; ".join(problems[:5])
        self.expected_kept = expected_kept


# ---------------------------------------------------------------------------


#: The query list is fixed here by name, never derived from the registry's
#: order (which changes as queries are re-prioritised). Each entry names the
#: tables the query scans, for rows/s.
QUERIES = {
    "q01_pricing_summary": ["lineitem"],  # scan + filter + aggregation
    "q05_regional_revenue": ["region", "nation", "customer", "orders", "lineitem", "supplier"],
    "q21_window_running": ["orders"],  # running-total / lag / lead windows
    "q23_cube": ["lineitem"],
    "q30_asof_join": ["events"],
}


class AnalyticsMix(Workload):
    """Read-only registry queries over a generated star schema: scans,
    planning and relational operators; no sink, no dedup. One operation runs
    every query of the list once, in order, each to ``count()``: the queries
    differ fivefold in cost, and a median over single queries jumps between
    them as run lengths change."""

    name = "analytics_mix"
    SF = 0.02
    #: The JVM runs without its C2 compiler. With C2 a pass over the list
    #: falls from about 3 s to 1.6 s over a process's first 10-15 passes, at
    #: a pace set by how busy the host is, and that warming made runs spread
    #: 22-28% between seeds. With C1 alone a pass is flat from the second
    #: pass on.
    JAVA_OPTS = "-XX:TieredStopAtLevel=1"
    SETTLE_OPS = 2

    def generate(self) -> None:
        self.data = os.path.join(self.work, "data")
        os.makedirs(self.data)
        self.paths = datagen.star_schema(self.data, self.seed, self.SF)
        self.rows = {t: pq.ParquetFile(p).metadata.num_rows for t, p in self.paths.items()}
        self.counts: dict[tuple[int, str], int] = {}

    def warm(self, spark, tr) -> None:
        from etl_java_spark import queries as Q

        for name in QUERIES:
            Q.QUERIES[name](spark, self.data).count()

    def op(self, spark, tr, i: int, arg: None) -> int:
        from etl_java_spark import queries as Q

        for name in QUERIES:
            with tr.span("queries", "queries.build_s"):
                df = Q.QUERIES[name](spark, self.data)
            with tr.span("queries", "queries.exec_s"):
                self.counts[i, name] = df.count()
        return sum(self.rows[t] for tables in QUERIES.values() for t in tables)

    def check(self, spark) -> None:
        """Each query once, hash-compared with its DuckDB oracle; every timed
        run of a query must have returned the oracle's row count, or its
        operation fails."""
        problems = _oracle_check(spark, self.data, self.paths, QUERIES, self.counts,
                                 self.failed_ops)
        if problems:
            self.check_detail = "; ".join(problems[:5])


WORKLOADS = {w.name: w for w in (UpsertFeed, DedupCorpus, AnalyticsMix)}
