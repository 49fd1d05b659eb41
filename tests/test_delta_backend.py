"""merge_by_pk's format handling (VERDICT r5 #8 / SURVEY §1.2).

delta-spark is not a dependency of this engine: parquet targets use the
emulated rewrite, and asking for fmt="delta" fails loudly instead of
silently writing parquet.
"""

from __future__ import annotations

import os

import pytest

from etl_java_spark.sinks.writers import merge_by_pk


def test_parquet_target_selects_emulation(spark, tmp_path):
    """The emulated rewrite produces the merged parquet table."""
    p = os.path.join(str(tmp_path), "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    merge_by_pk(spark, base, p, ["id"])
    upd = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"])
    merge_by_pk(spark, upd, p, ["id"])
    got = {(r["id"], r["v"]) for r in spark.read.parquet(p).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_delta_fmt_without_jar_fails_loudly(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    d = os.path.join(str(tmp_path), "d")
    with pytest.raises(RuntimeError, match="delta-spark"):
        merge_by_pk(spark, df, d, ["id"], fmt="delta")
    assert not os.path.exists(d)
