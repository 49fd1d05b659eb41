"""Seeded input generators for the three workloads.

Pure numpy/pyarrow, no Spark: the program under test only ever sees the
files written here. The same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# analytics_mix: TPC-H-ish star schema + events, same schemas and value
# domains as the repo's fixtures (FIXTURES.md), so the registry queries and
# their DuckDB oracles run unchanged.

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_ADJ = ["small", "red", "blue", "large", "green", "steel", "brass", "copper"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "valve", "spring", "plate", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(out_dir: str, seed: int, sf: float) -> dict[str, str]:
    """Write region..lineitem + events at scale ``sf`` (lineitem = 6M*sf rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev, n_users = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    # events: distinct microsecond timestamps over 30 days, so the as-of and
    # sessionization orderings have no ties
    span_us = 30 * 86_400_000_000
    ts_us = np.sort(rng.choice(span_us, n_ev, replace=False)) + np.datetime64(
        "2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_us.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    paths = {}
    for name, table in t.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


# ---------------------------------------------------------------------------
# upsert_feed: a base table with minted unique keys, hive-partitioned on a
# key-derived "day" bucket, and a stream of change batches.

#: Keys per partition bucket: part = id // KEYS_PER_PART. New keys are
#: minted upward, so the highest buckets are the "recent" partitions.
KEYS_PER_PART = 2048
STATUSES = ["Active", "Pending", "Closed", "Suspended"]


def _raw_rows(rng: np.random.Generator, ids: np.ndarray, version: int) -> pa.Table:
    """Source-system rows for ``ids`` in the raw schema the pipeline maps."""
    n = len(ids)
    return pa.table({
        "src_id": ids.astype(np.int64),
        "src_part": (ids // KEYS_PER_PART).astype(np.int32),
        "src_name": [f"cust_{i}_v{version}" for i in ids],
        "src_status": np.array(STATUSES)[rng.integers(0, 4, n)],
        "src_amount": _money(rng, 0, 10_000, n),
        "src_region": np.array(REGIONS)[rng.integers(0, 5, n)],
        "src_note": np.array(["x" * 16, "y" * 24, "z" * 8])[rng.integers(0, 3, n)],
    })


class UpsertFeed:
    """Base table + deterministic change-batch stream.

    Batch ``i`` depends only on (seed, i): its updates pick keys among the
    base keys and the keys minted by earlier batches (the minting schedule
    is a pure function of i). 70% of the updates hit the four most recent
    partitions, the rest four older partitions chosen at random, so a batch
    touches about eight partitions plus the one its new keys land in. PKs
    are unique within a batch, so "last batch wins" is a complete
    expected-state rule.
    """

    def __init__(self, seed: int, base_rows: int, batch_rows: int):
        self.seed, self.base_rows = seed, base_rows
        self.n_new = batch_rows // 5
        self.n_upd = batch_rows - self.n_new

    def base(self) -> pa.Table:
        rng = np.random.default_rng([self.seed, 2])
        return _raw_rows(rng, np.arange(self.base_rows), 0)

    def key_limit(self, i: int) -> int:
        """Keys that exist before batch ``i`` is applied."""
        return self.base_rows + i * self.n_new

    def batch(self, i: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 3, i])
        limit = self.key_limit(i)
        recent = max(0, limit // KEYS_PER_PART - 3)
        n_hot = int(self.n_upd * 0.7)
        hot = rng.choice(np.arange(recent * KEYS_PER_PART, limit), n_hot, replace=False)
        old = rng.choice(recent, min(4, recent), replace=False)
        pool = (old[:, None] * KEYS_PER_PART + np.arange(KEYS_PER_PART)).ravel()
        cold = rng.choice(pool, self.n_upd - n_hot, replace=False)
        new = np.arange(limit, limit + self.n_new)
        ids = rng.permutation(np.concatenate([hot, cold, new]))
        return _raw_rows(rng, ids, i + 1)


def write_hive_table(table: pa.Table, root: str) -> None:
    """Write the mapped base table hive-partitioned on ``part``."""
    pq.write_to_dataset(table, root, partition_cols=["part"])


# ---------------------------------------------------------------------------
# dedup_corpus: documents with planted near-duplicate groups + embeddings
# with planted near neighbours.

def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(letters[rng.integers(0, 26, k)]))
    return np.array(sorted(words))


#: Embedding width, token substitution rate of planted copies, and parquet
#: files per corpus table.
EMBED_DIM, EDIT_RATE, SHARDS = 64, 0.025, 8


class Corpus:
    """Documents, embeddings and the planted ground truth.

    - ``text_groups``: groups of 2-4 docs; member 0 is the original, the
      others copy it with ``EDIT_RATE`` of tokens substituted (Jaccard of
      word 3-shingles mostly above the 0.7 verify threshold).
    - ``emb_groups``: groups of 2-3 docs with unrelated texts whose
      embeddings are one base vector plus small noise (cosine > 0.99); the
      first member of four of them is a top-k query.
    - ``junk``: docs the quality filter must drop (too short, or
      punctuation runs).
    """

    def __init__(self, seed: int, n_docs: int):
        rng = np.random.default_rng([seed, 4])
        vocab = _vocab(rng, 6000)
        p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
        p /= p.sum()
        texts: list[str] = []
        self.junk: set[int] = set()
        self.text_groups: list[list[int]] = []
        self.emb_groups: list[list[int]] = []

        def fresh(lo=40, hi=110) -> list[str]:
            return list(vocab[rng.choice(len(vocab), int(rng.integers(lo, hi)), p=p)])

        n_text_groups = n_docs // 10
        n_emb_groups = n_docs // 40
        n_junk = n_docs // 20
        while len(texts) < n_docs:
            r = rng.random()
            if r < 0.3 and len(self.text_groups) < n_text_groups:
                orig = fresh()
                size = int(rng.integers(2, 5))
                group = []
                for m in range(size):
                    toks = list(orig)
                    if m:
                        for j in np.flatnonzero(rng.random(len(toks)) < EDIT_RATE):
                            toks[j] = vocab[rng.integers(0, len(vocab))]
                    group.append(len(texts))
                    texts.append(" ".join(toks))
                self.text_groups.append(group)
            elif r < 0.4 and len(self.emb_groups) < n_emb_groups:
                size = int(rng.integers(2, 4))
                self.emb_groups.append(list(range(len(texts), len(texts) + size)))
                texts.extend(" ".join(fresh()) for _ in range(size))
            elif r < 0.47 and len(self.junk) < n_junk:
                self.junk.add(len(texts))
                if rng.random() < 0.5:
                    texts.append(" ".join(fresh(3, 8)))
                else:
                    texts.append(" ".join(w + "!?;" for w in fresh()))
            else:
                texts.append(" ".join(fresh()))
        texts = texts[:n_docs]
        self.text_groups = [g for g in self.text_groups if g[-1] < n_docs]
        self.emb_groups = [g for g in self.emb_groups if g[-1] < n_docs]
        self.junk = {j for j in self.junk if j < n_docs}
        self.texts = texts

        emb = rng.standard_normal((n_docs, EMBED_DIM)).astype(np.float32)
        for g in self.emb_groups:
            base = emb[g[0]].copy()
            for m in g:
                emb[m] = base + rng.normal(0, 0.05, EMBED_DIM).astype(np.float32)
        self.emb = emb
        self.n_docs = n_docs
        # top-k queries: four docs with planted embedding neighbours, four not
        planted = [g[0] for g in self.emb_groups[:4]]
        others = [d for d in rng.choice(n_docs, 8, replace=False) if d not in planted]
        self.queries = sorted(int(q) for q in planted + others[: 8 - len(planted)])

    def planted_dups(self) -> set[int]:
        """Docs a perfect text dedup removes: every member of a planted text
        group but the lowest id."""
        return {m for g in self.text_groups for m in g[1:]}

    def write(self, out_dir: str) -> dict[str, str]:
        """Documents and embeddings, each as ``SHARDS`` parquet files (a
        corpus arrives sharded, so scans start with one task per shard)."""
        ids = np.arange(self.n_docs, dtype=np.int64)
        docs = pa.table({
            "doc_id": ids,
            "text": self.texts,
            "lang": ["en"] * self.n_docs,
            "source": [f"src{i % 20}" for i in range(self.n_docs)],
            "n_chars": np.array([len(t) for t in self.texts], dtype=np.int64),
        })
        embs = pa.table({
            "vec_id": ids,
            "embedding": pa.array(list(self.emb), pa.list_(pa.float32())),
        })
        paths = {}
        for name, table in (("documents", docs), ("embeddings", embs)):
            # "<name>.parquet": the registry queries read tables by that name
            paths[name] = os.path.join(out_dir, f"{name}.parquet")
            os.makedirs(paths[name])
            step = -(-self.n_docs // SHARDS)
            for k in range(SHARDS):
                pq.write_table(table.slice(k * step, step),
                               os.path.join(paths[name], f"part-{k:02d}.parquet"))
        return paths
