"""Live JDBC source/sink tests against embedded Derby (on Spark's
classpath for the Hive metastore) — reference-parity rows #1, #13, #16.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_java_spark.sinks.writers import jdbc_execute, jdbc_upsert, write_jdbc
from etl_java_spark.sources.readers import read_jdbc

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    d = tmp_path_factory.mktemp("derby")
    return f"jdbc:derby:{d}/db;create=true"


def test_jdbc_write_read_roundtrip(spark, derby_url):
    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", -2.0)], "id int, s string, v double")
    write_jdbc(df, derby_url, "rt", mode="overwrite", driver=DRIVER)
    back = read_jdbc(spark, derby_url, table="rt", driver=DRIVER)
    assert sorted(tuple(r) for r in back.collect()) == sorted(tuple(r) for r in df.collect())


def test_jdbc_partitioned_read(spark, derby_url):
    df = spark.createDataFrame([(i, f"r{i}") for i in range(100)], "id int, s string")
    write_jdbc(df, derby_url, "pt", mode="overwrite", driver=DRIVER)
    back = read_jdbc(
        spark, derby_url, table="pt", driver=DRIVER,
        partition_column="id", lower_bound=0, upper_bound=100, num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 100


def test_jdbc_query_pushdown(spark, derby_url):
    df = spark.createDataFrame([(i, i * 10) for i in range(50)], "id int, v int")
    write_jdbc(df, derby_url, "qp", mode="overwrite", driver=DRIVER)
    # Spark-written tables have quoted (case-sensitive) identifiers
    back = read_jdbc(spark, derby_url, query='SELECT "id" FROM qp WHERE "v" >= 250', driver=DRIVER)
    assert back.columns == ["ID"] or back.columns == ["id"]
    assert back.count() == 25


def test_jdbc_upsert_merge(spark, derby_url):
    jdbc_execute(
        spark, derby_url,
        "CREATE TABLE dest (id INT PRIMARY KEY, name VARCHAR(50), bal DOUBLE)",
    )
    base = spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)], "id int, name string, bal double")
    jdbc_upsert(spark, base, derby_url, "dest", pks=["id"], driver=DRIVER)
    upd = spark.createDataFrame([(2, "B", 99.0), (3, "c", 30.0)], "id int, name string, bal double")
    jdbc_upsert(spark, upd, derby_url, "dest", pks=["id"], driver=DRIVER)
    got = read_jdbc(spark, derby_url, table="dest", driver=DRIVER)
    rows = {r[0]: (r[1], r[2]) for r in got.collect()}
    assert rows == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0)}
    # idempotency: applying the same update again changes nothing
    jdbc_upsert(spark, upd, derby_url, "dest", pks=["id"], driver=DRIVER)
    assert read_jdbc(spark, derby_url, table="dest", driver=DRIVER).count() == 3


def test_jdbc_upsert_validates(spark, derby_url):
    df = spark.createDataFrame([(1, "x")], "id int, s string")
    with pytest.raises(ValueError, match="identifier"):
        jdbc_upsert(spark, df, derby_url, 'bad"table', pks=["id"], driver=DRIVER)
    with pytest.raises(ValueError, match="primary keys"):
        jdbc_upsert(spark, df, derby_url, "dest2", pks=["missing"], driver=DRIVER)


def test_jdbc_upsert_varchar_staging_many_rows(spark, derby_url):
    """Derby's MERGE corrupts multi-page CLOB staging reads (XSDA8 /
    UTFDataFormatException at ~25 rows); staging_column_types=VARCHAR
    is the documented workaround and must round-trip cleanly."""
    jdbc_execute(
        spark, derby_url,
        "CREATE TABLE big (id INT PRIMARY KEY, name VARCHAR(64))",
    )
    df = spark.createDataFrame(
        [(i, f"NAME_{i}") for i in range(200)], "id int, name string"
    )
    jdbc_upsert(
        spark, df, derby_url, "big", pks=["id"], driver=DRIVER,
        staging_column_types="name VARCHAR(64)",
    )
    got = read_jdbc(spark, derby_url, table="big", driver=DRIVER)
    assert got.count() == 200
    assert {r[1] for r in got.collect()} == {f"NAME_{i}" for i in range(200)}


def test_cli_lists_jdbc_catalog(spark, derby_url, capsys):
    """--list-tables and --list-columns read the JDBC catalog through
    the --driver the user names; a driver that does not exist fails."""
    from etl_java_spark.cli import main

    jdbc_execute(
        spark, derby_url, "CREATE TABLE cli_cat (id INT PRIMARY KEY, name VARCHAR(20))"
    )
    capsys.readouterr()
    assert main(["--source-jdbc", derby_url, "--driver", DRIVER, "--list-tables"]) == 0
    assert "CLI_CAT" in capsys.readouterr().out.split()
    assert main(["--source-jdbc", derby_url, "--driver", DRIVER, "--list-columns", "cli_cat"]) == 0
    assert capsys.readouterr().out.split() == ["ID", "NAME"]
    with pytest.raises(Exception, match="ClassNotFoundException"):
        main(["--source-jdbc", derby_url, "--driver", "no.such.Driver", "--list-tables"])


def test_pipeline_from_jdbc_source(spark, derby_url, tmp_path):
    """The reference job from a JDBC source: Derby table -> select ->
    rename -> transforms -> upsert into parquet. A second run of the
    same job leaves the table unchanged."""
    from etl_java_spark.plans.pipeline import JdbcSource, MergeSink, Pipeline

    src = spark.createDataFrame(
        [(1, "Ann", "RETAIL", 0.5), (2, "Bob", "Wholesale", 1.5), (3, "Cy", "retail", 2.5)],
        "c_id int, c_name string, c_seg string, c_bal double",
    )
    write_jdbc(src, derby_url, "pipe_src", mode="overwrite", driver=DRIVER)
    out = str(tmp_path / "dest")
    job = Pipeline(
        source=JdbcSource(derby_url, table="pipe_src", options={"driver": DRIVER}),
        select=["c_id", "c_name", "c_seg"],
        rename={"c_id": "id", "c_name": "name", "c_seg": "segment"},
        transforms=[("segment", "lower"), ("name", "concat", "!")],
        sink=MergeSink(out, pks=["id"]),
    )
    expected = [(1, "Ann!", "retail"), (2, "Bob!", "wholesale"), (3, "Cy!", "retail")]
    for _ in range(2):
        job.run(spark)
        got = spark.read.parquet(out)
        assert got.columns == ["id", "name", "segment"]
        assert sorted(tuple(r) for r in got.collect()) == expected


def test_q153_roundtrip_uses_live_derby(spark, capfd):
    """q153 must exercise the real JDBC path, not its parquet fallback."""
    from etl_java_spark.queries import QUERIES

    out = QUERIES["q153_jdbc_roundtrip"](spark, "/root/testdata/sf0.001")
    assert out.count() == 25
    assert "Derby unavailable" not in capfd.readouterr().err
