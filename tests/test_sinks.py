"""Sink semantics tests (SURVEY.md §2A #13-#16)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_java_spark.sinks.writers import (
    insert_if_absent,
    insert_if_absent_dataframes,
    merge_by_pk,
    merge_dataframes,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_dataframes_upsert(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    updates = spark.createDataFrame([(2, "B"), (3, "C")], "id int, v string")
    out = merge_dataframes(existing, updates, ["id"])
    assert _rows(out) == [(1, "a"), (2, "B"), (3, "C")]


def test_merge_idempotent(spark):
    # merge applied twice ≡ once (upsert idempotency, SURVEY §5-6)
    existing = spark.createDataFrame([(1, "a")], "id int, v string")
    updates = spark.createDataFrame([(1, "A"), (2, "B")], "id int, v string")
    once = merge_dataframes(existing, updates, ["id"])
    twice = merge_dataframes(once, updates, ["id"])
    assert _rows(once) == _rows(twice)


def test_merge_by_pk_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    merge_by_pk(spark, base, path, ["id"])
    upd = spark.createDataFrame([(2, "B"), (3, "C")], "id int, v string")
    merge_by_pk(spark, upd, path, ["id"])
    assert _rows(spark.read.parquet(path)) == [(1, "a"), (2, "B"), (3, "C")]


def _partition_files(path):
    import hashlib
    import os

    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, path)] = hashlib.md5(
                    open(p, "rb").read()
                ).hexdigest()
    return out


def test_merge_by_pk_partition_pruned(spark, tmp_path):
    """Partitioned MERGE rewrites ONLY touched partitions: untouched
    partitions' files stay byte-identical, results match the unpruned
    semantics, and new partition values are created."""
    path = str(tmp_path / "ptbl")
    base = spark.createDataFrame(
        [(1, "2024-01", "a"), (2, "2024-01", "b"), (3, "2024-02", "c"), (4, "2024-03", "d")],
        "id int, month string, v string",
    )
    merge_by_pk(spark, base, path, ["id"], partition_by=["month"])
    before = _partition_files(path)
    assert any("month=2024-02" in k for k in before)

    upd = spark.createDataFrame(
        [(2, "2024-01", "B"), (5, "2024-04", "E")], "id int, month string, v string"
    )
    merge_by_pk(spark, upd, path, ["id"], partition_by=["month"])
    after = _partition_files(path)

    untouched_before = {k: v for k, v in before.items() if "month=2024-01" not in k}
    untouched_after = {k: v for k, v in after.items() if "month=2024-01" not in k and "month=2024-04" not in k}
    assert untouched_before == untouched_after  # 2024-02/03 files untouched, byte-identical
    assert any("month=2024-04" in k for k in after)  # new partition created

    got = sorted(tuple(r) for r in spark.read.parquet(path).select("id", "month", "v").collect())
    assert got == [
        (1, "2024-01", "a"), (2, "2024-01", "B"), (3, "2024-02", "c"),
        (4, "2024-03", "d"), (5, "2024-04", "E"),
    ]


def test_merge_by_pk_partitioned_idempotent(spark, tmp_path):
    path = str(tmp_path / "ptbl2")
    base = spark.createDataFrame([(1, "x", "a")], "id int, part string, v string")
    merge_by_pk(spark, base, path, ["id"], partition_by=["part"])
    upd = spark.createDataFrame([(1, "x", "A"), (2, "y", "B")], "id int, part string, v string")
    merge_by_pk(spark, upd, path, ["id"], partition_by=["part"])
    merge_by_pk(spark, upd, path, ["id"], partition_by=["part"])
    got = sorted(tuple(r) for r in spark.read.parquet(path).select("id", "part", "v").collect())
    assert got == [(1, "x", "A"), (2, "y", "B")]


def test_insert_if_absent_all_columns(spark):
    existing = spark.createDataFrame([(1, "a")], "id int, v string")
    new = spark.createDataFrame([(1, "a"), (1, "x"), (2, "b"), (2, "b")], "id int, v string")
    out = insert_if_absent_dataframes(existing, new)
    # (1,'a') already present; (2,'b') deduped within batch (§7 hard-part b)
    assert _rows(out) == [(1, "x"), (2, "b")]


def test_insert_if_absent_path(spark, tmp_path):
    path = str(tmp_path / "tbl2")
    a = spark.createDataFrame([(1, "a")], "id int, v string")
    insert_if_absent(spark, a, path)
    b = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    insert_if_absent(spark, b, path)
    assert _rows(spark.read.parquet(path)) == [(1, "a"), (2, "b")]


def test_stateful_writers_raise_on_unreadable_state(spark, tmp_path):
    # VERDICT r8 #2: a read failure that is NOT a cold start
    # (PATH_NOT_FOUND) must raise, not silently overwrite prior state.
    # Injection: an empty directory fails schema inference with
    # AnalysisException/UNABLE_TO_INFER_SCHEMA — exactly the "transient
    # or corrupt, but the path exists" class.
    import os

    import pytest
    from pyspark.errors import AnalysisException

    from etl_java_spark.sinks.writers import apply_cdc_by_pk, merge_by_pk_evolve

    upd = spark.createDataFrame([(1, "a")], "id int, v string")
    cdc = spark.createDataFrame([(1, "U", 1, "a")], "id int, op string, seq long, v string")
    cases = [
        ("merge", lambda p: merge_by_pk(spark, upd, p, ["id"])),
        ("evolve", lambda p: merge_by_pk_evolve(spark, upd, p, ["id"])),
        ("absent", lambda p: insert_if_absent(spark, upd, p)),
        ("cdc", lambda p: apply_cdc_by_pk(spark, cdc, p, ["id"])),
    ]
    for name, fn in cases:
        bad = str(tmp_path / name)
        os.makedirs(bad)
        with pytest.raises(AnalysisException):
            fn(bad)
        assert os.listdir(bad) == [], f"{name} overwrote unreadable state"


def test_stateful_writers_cold_start_bootstrap(spark, tmp_path):
    # The true cold start (path absent -> PATH_NOT_FOUND) still
    # bootstraps the table instead of raising.
    from etl_java_spark.sinks.writers import apply_cdc_by_pk, read_cdc_state

    cdc = spark.createDataFrame(
        [(1, "U", 1, "a")], "id int, op string, seq long, v string"
    )
    path = str(tmp_path / "cdc_cold")
    apply_cdc_by_pk(spark, cdc, path, ["id"])
    assert _rows(read_cdc_state(spark, path)) == [(1, 1, "a")]


# ---------------------------------------------------------------------------
# Partition-scoped merge_by_pk: checked on stored rows and directory names,
# read directory by directory, never through a partition-inferring read.


def _stored(path):
    """{partition directory: sorted data rows} of a table partitioned on
    one column, read with pyarrow directory by directory (so no partition
    value is parsed or inferred)."""
    import pyarrow.parquet as pq

    out = {}
    for d in sorted(os.listdir(path)):
        full = os.path.join(path, d)
        if os.path.isdir(full) and not d.startswith((".", "_")):
            out[d] = sorted(tuple(r.values()) for r in pq.read_table(full).to_pylist())
    return out


def _files_under(path, part_dir):
    return {k: v for k, v in _partition_files(path).items() if k.startswith(part_dir + "/")}


_PARTITION_CASES = {
    # leading-zero strings: an inferring read turns both into ints
    "leading_zero": ("string", "007", "010", "part=007", "part=010"),
    "null": ("string", None, "x", "part=__HIVE_DEFAULT_PARTITION__", "part=x"),
    "escaped": ("string", "a b:c/d", "plain", "part=a b%3Ac%2Fd", "part=plain"),
    "date": ("date", "2024-01-01", "2024-01-02", "part=2024-01-01", "part=2024-01-02"),
}


@pytest.mark.parametrize(
    "case,scoped",
    # the full rewrite shares the typed read; its one regression case
    [(c, True) for c in sorted(_PARTITION_CASES)] + [("leading_zero", False)],
    ids=[f"{c}-scoped" for c in sorted(_PARTITION_CASES)] + ["leading_zero-full_rewrite"],
)
def test_merge_by_pk_partition_values_roundtrip(spark, tmp_path, monkeypatch, case, scoped):
    """Touched partition values that are easy to get wrong (numeric-looking
    strings, NULL, characters the writer escapes, dates) are matched to
    their own directories: the PK is stored once, under the directory
    Spark's writer names, and the untouched partition is not rewritten."""
    from etl_java_spark.sinks import writers

    typ, hot, cold, hot_dir, cold_dir = _PARTITION_CASES[case]
    path = str(tmp_path / "t")

    def frame(rows):
        df = spark.createDataFrame(rows, "id int, part string, v string")
        return df.withColumn("part", F.col("part").cast(typ))

    base = frame([(1, hot, "a"), (2, hot, "b"), (3, cold, "c")])
    merge_by_pk(spark, base, path, ["id"], partition_by=["part"])
    assert _stored(path) == {hot_dir: [(1, "a"), (2, "b")], cold_dir: [(3, "c")]}
    cold_files = _files_under(path, cold_dir)

    if not scoped:
        monkeypatch.setattr(writers, "MAX_PRUNED_PARTITIONS", 0)
    merge_by_pk(spark, frame([(1, hot, "A"), (4, hot, "D")]), path, ["id"], partition_by=["part"])
    assert _stored(path) == {
        hot_dir: [(1, "A"), (2, "b"), (4, "D")],
        cold_dir: [(3, "c")],
    }
    if scoped:
        assert _files_under(path, cold_dir) == cold_files


def test_merge_by_pk_nested_and_all_new_partitions(spark, tmp_path):
    """Two partition columns: a touched leaf is rewritten and its siblings
    are not; a batch of only new partitions (found without listing the
    table) writes them and rewrites no existing partition."""
    path = str(tmp_path / "t")
    schema = "id int, v string, y int, m string"

    def merge(rows):
        merge_by_pk(spark, spark.createDataFrame(rows, schema), path, ["id"], partition_by=["y", "m"])

    merge([(1, "a", 2024, "007"), (2, "b", 2024, "010"), (3, "c", 2023, "007")])
    before = _partition_files(path)
    merge([(1, "A", 2024, "007")])
    after = _partition_files(path)
    untouched = {k: v for k, v in before.items() if not k.startswith("y=2024/m=007/")}
    assert {k: v for k, v in after.items() if k in before} == untouched
    merge([(4, "d", 2025, "007"), (5, "e", 2024, None)])
    assert {k: v for k, v in _partition_files(path).items() if k in after} == after
    assert sorted(
        os.path.relpath(d, path) for d, _, files in os.walk(path)
        if any(f.endswith(".parquet") for f in files)
    ) == [
        "y=2023/m=007", "y=2024/m=007", "y=2024/m=010",
        "y=2024/m=__HIVE_DEFAULT_PARTITION__", "y=2025/m=007",
    ]
    assert _rows(spark.read.schema(schema).parquet(path)) == [
        (1, "A", 2024, "007"), (2, "b", 2024, "010"), (3, "c", 2023, "007"),
        (4, "d", 2025, "007"), (5, "e", 2024, None),
    ]


@pytest.mark.parametrize("damage", ["garbage_file", "empty_dir"])
def test_merge_by_pk_unreadable_touched_partition_raises(spark, tmp_path, damage):
    """A touched partition directory that exists but cannot be read raises
    and leaves the table as it was — it is never taken for a cold start."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "id int, part string, v string"
    )
    merge_by_pk(spark, base, path, ["id"], partition_by=["part"])
    if damage == "garbage_file":
        with open(os.path.join(path, "part=a", "part-99999-damaged.parquet"), "wb") as f:
            f.write(b"not a parquet file")
        touched = "a"
    else:
        os.makedirs(os.path.join(path, "part=c"))
        touched = "c"
    before = _partition_files(path)
    upd = spark.createDataFrame([(1, touched, "X")], "id int, part string, v string")
    with pytest.raises((PySparkException, Py4JJavaError)):
        merge_by_pk(spark, upd, path, ["id"], partition_by=["part"])
    assert _partition_files(path) == before
    assert sorted(d for d in os.listdir(path) if not d.startswith(".")) == sorted(
        ["_SUCCESS", "part=a", "part=b"] + (["part=c"] if damage == "empty_dir" else [])
    )


def test_writers_release_blocks_and_restore_conf(spark, tmp_path, monkeypatch):
    """No rewriting writer leaves a persisted RDD behind, and none leaves
    a session conf key changed — also when merge_by_pk's write raises."""
    from pyspark.sql import DataFrameWriter

    from etl_java_spark.sinks import writers

    rows = spark.createDataFrame(
        [(1, "p", "a"), (2, "q", "b")], "id int, part string, v string"
    )
    cdc = spark.createDataFrame([(1, "U", 1, "a")], "id int, op string, seq long, v string")

    def fallback(p):
        with monkeypatch.context() as m:
            m.setattr(writers, "MAX_PRUNED_PARTITIONS", 0)
            merge_by_pk(spark, rows, p, ["id"], partition_by=["part"])

    calls = [
        ("merge_scoped", lambda p: merge_by_pk(spark, rows, p, ["id"], partition_by=["part"])),
        ("merge_fallback", fallback),
        ("merge_unpartitioned", lambda p: merge_by_pk(spark, rows, p, ["id"])),
        ("evolve", lambda p: writers.merge_by_pk_evolve(spark, rows, p, ["id"])),
        ("cdc", lambda p: writers.apply_cdc_by_pk(spark, cdc, p, ["id"])),
        ("absent", lambda p: insert_if_absent(spark, rows, p)),
    ]
    jsc = spark.sparkContext._jsc
    conf = dict(spark.conf.getAll)

    def check(name, call):
        n = jsc.getPersistentRDDs().size()
        call(str(tmp_path / name))
        assert jsc.getPersistentRDDs().size() == n, name
        assert dict(spark.conf.getAll) == conf, name

    for name, call in calls:
        check(name, call)  # cold start
        check(name, call)  # rewrite of the existing table

    def boom(self, *a, **k):
        raise RuntimeError("write failed")

    monkeypatch.setattr(DataFrameWriter, "save", boom)
    for name, call in calls[:2]:  # partition-scoped, then _rewrite_table
        with pytest.raises(RuntimeError, match="write failed"):
            check(name, call)
        assert dict(spark.conf.getAll) == conf, name


def test_unpartitioned_rewrites_release_blocks_when_the_write_fails(spark, tmp_path, monkeypatch):
    """The static overwrites of unpartitioned tables (``_rewrite_table``
    behind ``merge_by_pk`` without ``partition_by``, ``merge_by_pk_evolve``
    and ``apply_cdc_by_pk``) release every checkpoint they took when their
    write raises, and leave the table's files as they were."""
    from pyspark.sql import DataFrameWriter

    from etl_java_spark.sinks import writers

    rows = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    cdc = spark.createDataFrame([(1, "U", 1, "a")], "id int, op string, seq long, v string")
    calls = {
        "merge": lambda p: merge_by_pk(spark, rows, p, ["id"]),
        "evolve": lambda p: writers.merge_by_pk_evolve(spark, rows, p, ["id"]),
        "cdc": lambda p: writers.apply_cdc_by_pk(spark, cdc, p, ["id"]),
    }
    for name, call in calls.items():
        call(str(tmp_path / name))
    before = {name: _partition_files(str(tmp_path / name)) for name in calls}
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()

    def boom(self, *a, **k):
        raise RuntimeError("write failed")

    monkeypatch.setattr(DataFrameWriter, "save", boom)
    for name, call in calls.items():
        with pytest.raises(RuntimeError, match="write failed"):
            call(str(tmp_path / name))
        assert jsc.getPersistentRDDs().size() == n, name
        assert _partition_files(str(tmp_path / name)) == before[name], name


def test_merge_by_pk_one_file_per_written_partition(spark, tmp_path, monkeypatch):
    """Partitioned table-state writes are optimized writes: after the cold
    start, a partition-scoped merge and a full rewrite, every partition
    the write touched holds exactly one parquet file, untouched ones stay
    byte-identical, and the stored rows are ``merge_dataframes`` of the
    same inputs."""
    from etl_java_spark.sinks import writers

    schema = "id int, part string, v string"
    path = str(tmp_path / "t")

    def table():
        return spark.read.schema(schema).parquet(path)

    def files_per_dir():
        out = {}
        for k in _partition_files(path):
            out[os.path.dirname(k)] = out.get(os.path.dirname(k), 0) + 1
        return out

    # each partition's rows start spread over 4 input partitions
    base = spark.createDataFrame(
        [(i, f"p{i % 3}", f"v{i}") for i in range(60)], schema
    ).repartition(4)
    merge_by_pk(spark, base, path, ["id"], partition_by=["part"])
    assert files_per_dir() == {"part=p0": 1, "part=p1": 1, "part=p2": 1}

    # an update and an insert in p0, a new partition p3, and an exact
    # duplicate row; p1 and p2 are untouched
    batch = spark.createDataFrame(
        [(0, "p0", "A"), (99, "p0", "B"), (100, "p3", "C"), (100, "p3", "C")], schema
    ).repartition(4)
    expected = _rows(merge_dataframes(table(), batch, ["id"]))
    before = _partition_files(path)
    merge_by_pk(spark, batch, path, ["id"], partition_by=["part"])
    assert files_per_dir() == {"part=p0": 1, "part=p1": 1, "part=p2": 1, "part=p3": 1}
    untouched = {k: v for k, v in before.items() if k.startswith(("part=p1/", "part=p2/"))}
    assert {k: v for k, v in _partition_files(path).items() if k in untouched} == untouched
    assert len(untouched) == 2
    assert _rows(table()) == expected

    monkeypatch.setattr(writers, "MAX_PRUNED_PARTITIONS", 0)
    batch = spark.createDataFrame([(1, "p1", "D")], schema)
    expected = _rows(merge_dataframes(table(), batch, ["id"]))
    merge_by_pk(spark, batch, path, ["id"], partition_by=["part"])
    assert files_per_dir() == {"part=p0": 1, "part=p1": 1, "part=p2": 1, "part=p3": 1}
    assert _rows(table()) == expected


#: case -> (partition columns, existing rows (id, v, *partition values),
#: batch ids, the moving column's value on a row's first evaluation and on
#: every later one). The batch updates one id and inserts another; the
#: moving value of later evaluations names a partition with rows of its own.
_MOVING_BATCHES = {
    "one_column": (["part"], [(1, "a", "p0"), (2, "b", "p0"), (3, "c", "p1"), (4, "d", "p1")],
                   [1, 10], "p0", "p1"),
    "null": (["part"], [(1, "a", None), (2, "b", None), (3, "c", "p1"), (4, "d", "p1")],
             [1, 10], None, "p1"),
    "two_columns": (["y", "m"], [(1, "a", 2024, "p0"), (2, "b", 2024, "p0"),
                                 (3, "c", 2024, "p1"), (4, "d", 2024, "p1")],
                    [1, 10], "p0", "p1"),
    "full_rewrite": (["part"], [(1, "a", "p0"), (2, "b", "p0"), (3, "c", "p1"), (4, "d", "p1")],
                     [1, 10], "p0", "p1"),
}


@pytest.mark.parametrize("case", sorted(_MOVING_BATCHES))
def test_merge_by_pk_reads_batch_once(spark, tmp_path, monkeypatch, case):
    """A batch whose source changes between reads (a live table) is read
    once: every batch row is evaluated exactly once, and the table equals
    the merge of that one evaluation. Here the partition column of each
    batch row names one partition on the row's first evaluation and
    another after it; a merge that reads the batch again would write
    rows into a partition it never read, and dynamic overwrite would
    delete that partition's existing rows."""
    from etl_java_spark.sinks import writers

    partition_by, existing, ids, first, later = _MOVING_BATCHES[case]
    moving = partition_by[-1]
    schema = "id int, v string, " + ", ".join(
        f"{c} {'int' if c == 'y' else 'string'}" for c in partition_by
    )
    path, marks = str(tmp_path / "t"), str(tmp_path / "marks")
    os.mkdir(marks)
    merge_by_pk(spark, spark.createDataFrame(existing, schema), path, ["id"],
                partition_by=partition_by)

    def evaluation(i):
        # one new file per evaluation of row i: i.0, i.1, ...
        k = 0
        while True:
            try:
                os.close(os.open(os.path.join(marks, f"{i}.{k}"), os.O_CREAT | os.O_EXCL))
                return first if k == 0 else later
            except FileExistsError:
                k += 1

    moved = F.udf(evaluation, "string").asNondeterministic()
    batch = spark.createDataFrame([(i, f"new{i}") for i in ids], "id int, v string")
    for c in partition_by:
        batch = batch.withColumn(c, moved("id") if c == moving else F.lit(2024))
    if case == "full_rewrite":
        monkeypatch.setattr(writers, "MAX_PRUNED_PARTITIONS", 0)
    merge_by_pk(spark, batch, path, ["id"], partition_by=partition_by)

    static = (2024,) if len(partition_by) == 2 else ()
    once = [(i, f"new{i}", *static, first) for i in ids]
    expected = sorted(
        [r for r in existing if r[0] not in ids] + once, key=lambda r: r[0]
    )
    assert sorted(map(tuple, spark.read.schema(schema).parquet(path).collect())) == expected
    assert sorted(os.listdir(marks)) == sorted(f"{i}.0" for i in ids)


def _first_read_only(marks):
    """A nondeterministic UDF true on the first evaluation of each id
    only: a live source that shows a row to one read of the batch and
    not to the next. Evaluation k of id i leaves the file ``i.k`` in the
    directory ``marks``."""

    def first_read(i):
        k = 0
        while True:
            try:
                os.close(os.open(os.path.join(marks, f"{i}.{k}"), os.O_CREAT | os.O_EXCL))
                return k == 0
            except FileExistsError:
                k += 1

    return F.udf(first_read, "boolean").asNondeterministic()


def test_merge_by_pk_unpartitioned_reads_batch_once(spark, tmp_path):
    """On an unpartitioned table too the batch is read once: a batch row
    that a live source shows only on its first read updates its existing
    row. Read twice, the anti-join keys saw it and the written rows did
    not, and the existing row was deleted."""
    path, marks = str(tmp_path / "t"), str(tmp_path / "marks")
    os.mkdir(marks)
    merge_by_pk(spark, spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"), path, ["id"])
    live = _first_read_only(marks)
    batch = spark.createDataFrame([(1, "A")], "id int, v string").filter(live("id"))
    merge_by_pk(spark, batch, path, ["id"])
    assert _rows(spark.read.parquet(path)) == [(1, "A"), (2, "b")]
    assert os.listdir(marks) == ["1.0"]


def test_merge_by_pk_evolve_reads_batch_once(spark, tmp_path):
    """The evolving upsert reads its batch once as well: a batch row that
    a live source shows only on its first read updates its existing row,
    and the column it adds reads NULL on the untouched one. Read twice,
    the anti-join keys saw the row and the written rows did not, and
    the existing row was deleted."""
    from etl_java_spark.sinks.writers import merge_by_pk_evolve

    path, marks = str(tmp_path / "t"), str(tmp_path / "marks")
    os.mkdir(marks)
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string").write.parquet(path)
    live = _first_read_only(marks)
    batch = spark.createDataFrame([(1, "A", "x")], "id int, v string, tag string")
    merge_by_pk_evolve(spark, batch.filter(live("id")), path, ["id"])
    assert _rows(spark.read.parquet(path)) == [(1, "A", "x"), (2, "b", None)]
    assert os.listdir(marks) == ["1.0"]


def test_merge_by_pk_empty_batch_changes_nothing(spark, tmp_path):
    """An empty batch into a partitioned table (its checkpoint observes an
    empty partition set) returns and leaves every file as it was."""
    path = str(tmp_path / "t")
    schema = "id int, v string, part string"
    merge_by_pk(spark, spark.createDataFrame([(1, "a", "p"), (2, "b", "q")], schema), path,
                ["id"], partition_by=["part"])
    before = _partition_files(path)
    merge_by_pk(spark, spark.createDataFrame([], schema), path, ["id"], partition_by=["part"])
    assert _partition_files(path) == before


def test_merge_by_pk_after_empty_partitioned_cold_start(spark, tmp_path):
    """An empty batch into a missing partitioned table leaves a root with
    no partition directory and no data file: a table with no rows. The
    next merge stores its batch there as a cold start would, instead of
    failing to infer a schema from the empty root on every later merge."""
    path = str(tmp_path / "t")
    schema = "id int, v string, part string"
    merge_by_pk(spark, spark.createDataFrame([], schema), path, ["id"], partition_by=["part"])
    assert os.path.isdir(path) and _stored(path) == {}
    batch = spark.createDataFrame([(1, "a", "p"), (2, "b", "q"), (2, "b", "q")], schema)
    merge_by_pk(spark, batch, path, ["id"], partition_by=["part"])
    assert _stored(path) == {"part=p": [(1, "a")], "part=q": [(2, "b")]}
    merge_by_pk(spark, spark.createDataFrame([(2, "B", "q")], schema), path, ["id"],
                partition_by=["part"])
    assert _stored(path) == {"part=p": [(1, "a")], "part=q": [(2, "B")]}


def test_merge_by_pk_partitioned_into_flat_table_raises(spark, tmp_path):
    """A table with data files at its root and no partition directory is
    not partitioned on ``partition_by``: a partitioned merge into it
    raises ValueError and leaves every file as it was, instead of laying
    the table out again by partition."""
    import hashlib

    path = str(tmp_path / "t")
    schema = "id int, v string, part string"
    merge_by_pk(spark, spark.createDataFrame([(1, "a", "p")], schema), path, ["id"])

    def files():
        return {
            n: hashlib.md5(open(os.path.join(path, n), "rb").read()).hexdigest()
            for n in os.listdir(path)
        }

    before = files()
    with pytest.raises(ValueError, match="partition"):
        merge_by_pk(spark, spark.createDataFrame([(2, "b", "q")], schema), path, ["id"],
                    partition_by=["part"])
    assert files() == before
    assert _rows(spark.read.parquet(path)) == [(1, "a", "p")]


def test_leaf_data_schema_matches_spark_inference(spark, tmp_path):
    """The driver-side footer schema (``readers._footer_schema``) equals
    the schema Spark infers, and ``read_parquet`` built on it equals the
    inferring read, schema and rows: a single file and a flat directory
    written by pyarrow (no Spark row metadata; decimals, nested and list
    types, a nanosecond timestamp read as long under nanosAsLong and a
    TIMESTAMP_NTZ, both normalized by ``normalize_nanos``), a Spark-written
    shard directory holding ``_SUCCESS`` and ``.crc`` files, and
    directories whose ``_common_metadata`` / ``_metadata`` summary
    differs from the data file (the summary wins, as in Spark)."""
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, TimestampNTZType

    from etl_java_spark.sources import readers

    def arrow_dir(name, ts_type):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            pa.table({
                "i": pa.array([1, None], pa.int32()),
                "l": pa.array([2, 3], pa.int64()),
                "d": pa.array([1.5, None], pa.float64()),
                "s": pa.array(["x", "ü"], pa.string()),
                "dt": pa.array([datetime.date(2024, 1, 1), None], pa.date32()),
                "dec": pa.array([decimal.Decimal("1.23"), None], pa.decimal128(10, 2)),
                "big": pa.array([decimal.Decimal("12345678901234567890.5"), None],
                                pa.decimal128(38, 1)),
                "st": pa.array([{"a": 1, "b": ["u", "v"]}, None],
                               pa.struct([("a", pa.int64()), ("b", pa.list_(pa.string()))])),
                "ts": pa.array([datetime.datetime(2024, 1, 2, 3, 4, 5, 6), None], ts_type),
            }),
            str(d / "a.parquet"),
            version="2.6",
        )
        return d

    nanos = arrow_dir("nanos", pa.timestamp("ns"))
    ntz = arrow_dir("ntz", pa.timestamp("us"))
    shards = str(tmp_path / "shards")
    spark.sql(
        "SELECT id, TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,"
        " CAST(id AS DECIMAL(12, 3)) AS dec,"
        " named_struct('a', id, 'b', named_struct('c', 'x')) AS nested,"
        " map('k', id) AS m, array(id, id + 1) AS arr"
        " FROM range(6)"
    ).repartition(3).write.parquet(shards)
    assert {"_SUCCESS"} <= set(os.listdir(shards))
    assert any(n.endswith(".crc") for n in os.listdir(shards))
    summaries = {}
    for name, files in {
        "common_metadata": ("_common_metadata", "_metadata"),
        "metadata": ("_metadata",),
    }.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(pa.table({"x": pa.array([1], pa.int32())}), str(d / "a.parquet"))
        for f in files:
            pq.write_metadata(pa.schema([("x", pa.int32()), (f, pa.string())]), str(d / f))
        summaries[name] = (d, files[0])

    paths = [nanos, nanos / "a.parquet", ntz, ntz / "a.parquet", shards]
    paths += [d for d, _ in summaries.values()]
    for p in map(str, paths):
        inferred = spark.read.parquet(p)
        assert readers._footer_schema(spark, p) == inferred.schema, p
        got = readers.read_parquet(spark, p)
        want = readers.normalize_nanos(inferred)
        assert got.schema == want.schema, p
        assert sorted(map(str, got.collect())) == sorted(map(str, want.collect())), p
    assert readers._footer_schema(spark, str(nanos))["ts"].dataType == LongType()
    assert readers._footer_schema(spark, str(ntz))["ts"].dataType == TimestampNTZType()
    for d, summary in summaries.values():
        assert readers._footer_schema(spark, str(d)).fieldNames() == ["x", summary]


def test_footer_schema_leaves_other_reads_to_spark(spark, tmp_path):
    """Reads the one-footer rule does not cover go to ``spark.read.parquet``
    unchanged: a missing path still raises PATH_NOT_FOUND (the cold-start
    test of the table-state writers), an empty directory raises the same
    error as the inferring read, a partitioned directory and a glob are
    inferred by Spark, and ``read_parquet_merged`` still merges every
    footer."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    from etl_java_spark.plans.pipeline import ParquetSource
    from etl_java_spark.sources import readers

    def condition(read, path):
        with pytest.raises(AnalysisException) as e:
            read(path)
        return e.value.getCondition()

    missing, empty = str(tmp_path / "missing"), tmp_path / "empty"
    empty.mkdir()
    scan = [lambda p: readers.read_parquet(spark, p), lambda p: ParquetSource(p).load(spark)]
    for read in scan:
        assert condition(read, missing) == "PATH_NOT_FOUND"
        assert condition(read, str(empty)) == condition(spark.read.parquet, str(empty))

    table = str(tmp_path / "table")
    spark.createDataFrame([(1, "007"), (2, "x")], "id int, part string").write.partitionBy(
        "part"
    ).parquet(table)
    gen = tmp_path / "gen"
    gen.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(gen / "g1.parquet"))
    pq.write_table(pa.table({"a": [2], "b": ["new"]}), str(gen / "g2.parquet"))
    for p in (table, str(gen / "*.parquet")):
        assert readers._footer_schema(spark, p) is None, p
        assert readers.read_parquet(spark, p).schema == spark.read.parquet(p).schema, p
    assert readers.read_parquet_merged(spark, str(gen)).columns == ["a", "b"]
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert readers._footer_schema(spark, str(gen)) is None
        assert readers.read_parquet(spark, str(gen)).columns == ["a", "b"]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
