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


def test_leaf_data_schema_matches_spark_inference(spark, tmp_path):
    """The driver-side footer schema of a leaf directory equals the schema
    Spark infers for it, for files written by pyarrow (no Spark row
    metadata; a nanosecond timestamp reads as long under nanosAsLong) and
    by Spark (timestamp, nested struct); an empty directory raises."""
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import LongType

    from etl_java_spark.sinks.writers import _leaf_data_schema

    by_arrow = tmp_path / "arrow"
    by_arrow.mkdir()
    pq.write_table(
        pa.table({
            "i": pa.array([1], pa.int32()),
            "l": pa.array([2], pa.int64()),
            "d": pa.array([1.5], pa.float64()),
            "s": pa.array(["x"], pa.string()),
            "dt": pa.array([datetime.date(2024, 1, 1)], pa.date32()),
            "dec": pa.array([decimal.Decimal("1.23")], pa.decimal128(10, 2)),
            "ts": pa.array([1], pa.timestamp("ns")),
        }),
        str(by_arrow / "a.parquet"),
        version="2.6",
    )
    by_spark = str(tmp_path / "spark")
    spark.sql(
        "SELECT 1 AS id, TIMESTAMP'2024-01-01 00:00:00' AS ts,"
        " named_struct('a', 1L, 'b', named_struct('c', 'x')) AS nested"
    ).write.parquet(by_spark)
    empty = tmp_path / "empty"
    empty.mkdir()

    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(str(tmp_path)).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )

    def leaf(d):
        return _leaf_data_schema(spark, fs, jvm.org.apache.hadoop.fs.Path(str(d)))

    for d in (by_arrow, by_spark):
        assert leaf(d) == spark.read.parquet(str(d)).schema, d
    assert leaf(by_arrow)["ts"].dataType == LongType()
    with pytest.raises(AnalysisException):
        leaf(empty)
