"""SparkSession factory with scale-oriented defaults.

The reference (``/root/reference/src/etl/ETLProcess.java``) is a
single-threaded JDBC pipe with no execution engine of its own; here the
session IS the engine, so the defaults matter:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  so the same code survives a 100x scale-up without retuning.
- ``spark.sql.shuffle.partitions`` sized to the local core count for
  tests; on a real cluster AQE coalesces up from a larger initial number.
- Session timezone pinned to UTC so results are comparable across
  engines (DuckDB oracle) and clusters.
- Arrow enabled for the few places we drop to pandas UDFs.
- The JVM-wide cache of compiled whole-stage-codegen classes
  (``spark.sql.codegen.cache.maxEntries``) holds 1000 classes, not
  Spark's default 100. The bound must hold an operation's working set:
  a near-duplicate pass (profile queries, MinHash pairs, clusters,
  top-k, write) compiles ~130 distinct classes, so at 100 each class
  was evicted before the next pass used it again and every pass
  recompiled all of them (~10 ms each). The cache is Guava-backed and
  can evict before it reaches its bound, hence the headroom. The conf
  is static: it can only be set when a session is built, so a session
  reused through ``getOrCreate`` keeps the bound it was started with.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(
    app_name: str = "etl-java-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults.

    On a real cluster, ``master`` comes from the environment and the
    shuffle-partition count should start high (AQE coalesces down);
    locally we default to local[$SPARK_GRAFT_CPUS].
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Fixture events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type — read as long and convert (see readers).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
