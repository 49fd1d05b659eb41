"""Sinks with the reference's load semantics, Spark-first.

Reference parity (``/root/reference/src/etl/ETLProcess.java``):

- #13/#15 upsert-by-PK (``:388-427`` live UPDATE-then-INSERT; ``:429-526``
  dead MERGE builders confirm MERGE semantics were intended)
  -> ``merge_by_pk``: dataframe-level MERGE as join + union + rewrite
  (left-anti existing vs updates ∪ new) — the standard emulation
  (pyspark_guide "CDC / SCD2"). The batch is deduplicated by one
  shuffle on the PK; the anti-join broadcasts the batch keys when the
  batch is small; a partitioned write adds one rebalancing shuffle of
  the written rows (``_write_table``).
- #14 insert-if-absent on ALL columns (``:444-466``)
  -> ``insert_if_absent``: left-anti join on every column + append. The
  incoming batch is deduplicated first — the reference's behavior was
  order-dependent within a run (SURVEY.md §7 hard-part b); we define it
  deterministically.
- #16 batched transactional load (``:208-282``, MAX_BATCH_SIZE=1000 at
  ``:210``) -> JDBC writer ``batchsize`` option honors the same default;
  atomicity comes from Spark's all-or-nothing job commit protocol rather
  than manual commit/rollback.

Table format: the table-state writers (``merge_by_pk``,
``merge_by_pk_evolve``, ``insert_if_absent``, ``apply_cdc_by_pk``,
``read_cdc_state``) read and write parquet only; ``append`` and
``overwrite`` take any format Spark writes. There is no Delta backend:
delta-spark is not a dependency of this engine.

Cost model: on a hive-partitioned table ``merge_by_pk`` lists, reads
and rewrites only the partitions a batch touches — O(touched
partitions) — and needs no eager checkpoint, because dynamic partition
overwrite swaps the touched directories in only at job commit (details
in its docstring). Every partitioned table-state write is an optimized
write: one file per written partition. Full rewrites are static
overwrites, which delete the table before their job runs:
``_rewrite_table`` materializes their input first and releases it
after.
"""

from __future__ import annotations

import json
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..plans.checkpoints import materialize, release

REFERENCE_BATCH_SIZE = 1000  # ETLProcess.java:210


def _read_state_or_cold_start(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a writer's persisted parquet state table; ``None`` ONLY on a
    true cold start (PATH_NOT_FOUND error class). Any other read failure
    — transient IO, permissions, corruption — re-raises: the caller is
    about to ``mode("overwrite")`` the path, and misreading such an
    error as cold start would silently destroy all prior state
    (tombstones, merged history). Mirrors ``read_incremental``'s
    bookmark discipline (sources/readers.py), comparing the error
    CLASS, not message text."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as ex:
        getter = getattr(ex, "getCondition", None) or getattr(
            ex, "getErrorClass", None
        )
        if (getter() if getter else None) != "PATH_NOT_FOUND":
            raise
        return None


def append(df: DataFrame, path: str, fmt: str = "parquet", partition_by: Sequence[str] | None = None) -> None:
    w = df.write.mode("append").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def overwrite(df: DataFrame, path: str, fmt: str = "parquet", partition_by: Sequence[str] | None = None) -> None:
    w = df.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def merge_dataframes(
    existing: DataFrame, updates: DataFrame, pks: Sequence[str]
) -> DataFrame:
    """MERGE semantics as a pure DataFrame op (reference #13/#15).

    WHEN MATCHED -> take the update row; WHEN NOT MATCHED -> insert.
    ``existing`` is anti-joined against the batch's raw keys: an
    anti-join only tests existence, so duplicate keys change nothing
    there. Only the inserted side is deduplicated per PK
    (dropDuplicates), and which row wins among in-batch duplicate PKs is
    UNDEFINED — it can change with partitioning and run to run; callers
    that need last-wins must reduce the batch themselves.

    Scale: the batch is aggregated once, by one shuffle on the PK; the
    anti-join's key side is broadcast when ``updates`` is small relative
    to ``existing`` (AQE decides), else it shuffles on the PK too. No
    collect, no per-row work.
    """
    pks = list(pks)
    kept = existing.join(updates.select(*pks), on=pks, how="left_anti")
    return kept.unionByName(updates.dropDuplicates(pks).select(*existing.columns))


#: Above this many touched partitions the partition-scoped MERGE falls
#: back to a full rewrite: the per-partition existence checks and file
#: churn stop paying for themselves once most of the table is touched.
MAX_PRUNED_PARTITIONS = 10_000


def _touched_partition_dirs(
    spark: SparkSession, updates: DataFrame, partition_by: Sequence[str]
) -> list[str] | None:
    """Sorted relative directories (``c1=v1/c2=v2``) of the partitions
    ``updates`` touches; None past MAX_PRUNED_PARTITIONS.

    The distinct partition tuples are collected driver-side as strings —
    bounded by the batch's partition spread, the same contract as Delta's
    ``replaceWhere``; metadata-sized, not data-sized. Directory names come
    from the writer's own rule (``ExternalCatalogUtils.
    getPartitionPathString``, applied to ``cast(col AS string)`` in the
    session time zone): escaping, and ``__HIVE_DEFAULT_PARTITION__`` for
    NULL, match the directories a partitioned write creates.
    """
    rows = (
        updates.select(*[F.col(c).cast("string").alias(c) for c in partition_by])
        .distinct()
        .limit(MAX_PRUNED_PARTITIONS + 1)
        .collect()
    )
    if len(rows) > MAX_PRUNED_PARTITIONS:
        return None
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return sorted(
        "/".join(utils.getPartitionPathString(c, row[c]) for c in partition_by)
        for row in rows
    )


def _some_partition_dir(spark: SparkSession, fs, root, partition_by: Sequence[str]):
    """Any existing leaf partition directory under ``root`` (a Hadoop
    Path) — one ``listStatus`` per partition level, never a recursive
    listing — or None when there is none (including a missing root)."""
    if not fs.exists(root):
        return None
    jvm = spark._jvm
    utils = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    cur = root
    for c in partition_by:
        prefix = utils.escapePathName(c) + "="
        names = sorted(
            st.getPath().getName() for st in fs.listStatus(cur) if st.isDirectory()
        )
        hit = next((n for n in names if n.startswith(prefix)), None)
        if hit is None:
            return None
        cur = jvm.org.apache.hadoop.fs.Path(cur, hit)
    return cur


def _leaf_data_schema(spark: SparkSession, fs, leaf) -> StructType:
    """Data schema of the parquet leaf directory ``leaf`` (a Hadoop
    Path), read on the driver from one footer — no Spark job.

    Spark's own rule, as its schema inference applies it to the same
    directory: the first data file in path order (names starting with
    ``_`` or ``.`` are not data), ``ParquetFileFormat.
    readSchemaFromFooter`` (the writer's Spark row-metadata key when
    there is one — pyarrow writes none — else the parquet schema
    converted under the session's SQLConf, so ``nanosAsLong`` holds),
    then ``asNullable`` as every file source's data schema is."""
    first = min(
        (
            st for st in fs.listStatus(leaf)
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))
        ),
        key=lambda st: st.getPath().toString(),
        default=None,
    )
    if first is None:
        # No footer to read: Spark's inference judges the directory, and
        # raises UNABLE_TO_INFER_SCHEMA for an empty one.
        return spark.read.parquet(leaf.toString()).schema
    jvm = spark._jvm
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    conf = spark._jsc.hadoopConfiguration()
    meta = parquet.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(first, conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    converter = parquet.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf()
    )
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(first.getPath(), meta), converter
    ).asNullable()
    return StructType.fromJson(json.loads(schema.json()))


def _table_schema(
    data: StructType, updates: DataFrame, partition_by: Sequence[str]
) -> StructType:
    """Read schema of a partitioned table: the data columns of ``data``,
    then the partition columns typed as in ``updates``. Types are never
    inferred from directory names — inference reads ``part=007`` back as
    the int 7, and the rewrite would then store the PK a second time
    under ``part=7``."""
    return StructType(
        [f for f in data.fields if f.name not in partition_by]
        + [StructField(c, updates.schema[c].dataType, True) for c in partition_by]
    )


def _write_table(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    dynamic: bool = False,
) -> None:
    """Overwrite the parquet table at ``path`` with ``df`` — the whole
    table, or with ``dynamic`` only the partitions ``df`` holds rows of.

    A partitioned write is an optimized write: ``df`` is rebalanced on
    the partition columns first, so each partition lands in one task
    and one file. AQE sizes the tasks to ``advisoryPartitionSizeInBytes``:
    small partitions share a task, and only a partition larger than that
    is split over several files. The price is one shuffle of the written
    rows; unpartitioned writes take no such shuffle."""
    if partition_by:
        df = df.hint("rebalance", *partition_by)
    w = df.write.format("parquet").mode("overwrite")
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def _merge_touched_partitions(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    pks: list[str],
    partition_by: list[str],
    touched: list[str],
) -> bool:
    """Partition-scoped MERGE: read only the ``touched`` directories that
    exist, rewrite exactly those (plus the new ones) by dynamic partition
    overwrite. Returns False, having done nothing, when ``path`` holds no
    partition directory to take the table's columns from — a cold start,
    or a root that only the full-rewrite path can judge."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    dirs = [p for p in (Path(root, rel) for rel in touched) if fs.exists(p)]
    sample = dirs[0] if dirs else _some_partition_dir(spark, fs, root, partition_by)
    if sample is None:
        return False
    schema = _table_schema(_leaf_data_schema(spark, fs, sample), updates, partition_by)
    if dirs:
        existing = spark.read.schema(schema).option("basePath", path).parquet(
            *[p.toString() for p in dirs]
        )
    else:
        existing = spark.createDataFrame([], schema)
    # No checkpoint: dynamic overwrite stages its output under
    # .spark-staging-* and swaps the touched directories in only at job
    # commit, after every task has read its source files. A failed job
    # leaves the table as it was.
    _write_table(merge_dataframes(existing, updates, pks), path, partition_by, dynamic=True)
    spark.catalog.refreshByPath(path)
    return True


def _rewrite_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
) -> None:
    """Overwrite the parquet table at ``path`` with ``df``, which may
    read ``path`` itself.

    A static overwrite deletes ``path`` before its job runs, so ``df`` is
    materialized first (plans/checkpoints policy). It is released once
    the write is over, and the stale file listings of ``path`` are
    dropped from the shared FileStatusCache."""
    local = materialize(df)
    try:
        _write_table(local, path, partition_by)
    finally:
        release(local)
    spark.catalog.refreshByPath(path)


def merge_by_pk(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    pks: Sequence[str],
    partition_by: Sequence[str] | None = None,
) -> None:
    """Upsert ``updates`` into the parquet table at ``path`` keyed on pks.

    Emulated MERGE (merge_dataframes + rewrite). With ``partition_by`` (a
    hive-partitioned table) the merge is PARTITION-SCOPED, and listing,
    reading and writing are all O(touched partitions), not O(table):

    1. one collect of the batch's distinct partition values, turned into
       directory names by Spark's own writer rule;
    2. one existence check per touched directory — the table root is
       never listed, so no whole-table listing job runs;
    3. the existing touched directories are read with ``basePath`` set
       to the root and an explicit schema: data columns from one
       footer, read on the driver by Spark's own rule (no schema
       inference job; ``_leaf_data_schema``), partition columns typed
       as in ``updates``, never inferred;
    4. the merged frame is rebalanced on the partition columns and
       written straight through dynamic partition overwrite, so each
       touched partition is replaced by one file (``_write_table``). No
       checkpoint is needed: dynamic overwrite stages its output and
       replaces the touched directories only at job commit, after every
       task has read its inputs, so a failed job leaves the table
       unchanged. Untouched partitions' files are not rewritten
       (byte-identical; see test_sinks).

    A batch that touches only new partitions writes them and rewrites
    nothing. Past MAX_PRUNED_PARTITIONS touched partitions, and without
    ``partition_by``, the call is a full read-modify-atomic-rewrite
    (_rewrite_table); a missing ``path`` is a cold start.

    Constraint (shared with every partition-pruned MERGE, incl. Delta's
    replaceWhere): an update must not move a PK across partitions — the
    stale row in the old partition would survive. Partition columns
    should be PK-derived or immutable per PK.
    """
    pks = list(pks)
    _check_idents(*pks)
    partition_by = list(partition_by or [])
    if partition_by:
        touched = _touched_partition_dirs(spark, updates, partition_by)
        if touched is not None and _merge_touched_partitions(
            spark, updates, path, pks, partition_by, touched
        ):
            return

    existing = _read_state_or_cold_start(spark, path)
    if existing is None:
        _write_table(updates.dropDuplicates(pks), path, partition_by)
        return
    if partition_by:
        # re-read with typed partition columns (see _table_schema)
        schema = _table_schema(existing.schema, updates, partition_by)
        existing = spark.read.schema(schema).parquet(path)
    _rewrite_table(spark, merge_dataframes(existing, updates, pks), path, partition_by)


def insert_if_absent_dataframes(existing: DataFrame, new: DataFrame) -> DataFrame:
    """Rows of ``new`` not already present in ``existing`` (all-column key).

    Reference #14 (ETLProcess.java:444-466): IF NOT EXISTS(all mapped
    cols) INSERT. Incoming batch deduped first for determinism.
    """
    cols = existing.columns
    return (
        new.select(*cols)
        .dropDuplicates()
        .join(existing, on=cols, how="left_anti")
    )


def insert_if_absent(spark: SparkSession, new: DataFrame, path: str) -> None:
    existing = _read_state_or_cold_start(spark, path)
    if existing is None:
        _write_table(new.dropDuplicates(), path)
        return
    # An append deletes nothing, so the rows to add need no checkpoint:
    # the job reads the existing files it listed at planning time and
    # its new files appear only at job commit.
    insert_if_absent_dataframes(existing, new).write.format("parquet").mode("append").save(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = REFERENCE_BATCH_SIZE,
    **options,
) -> None:
    """JDBC sink; batchsize default honors the reference's 1000 (:210).

    For upsert against a JDBC destination the scalable pattern is
    stage-to-temp-table + server-side MERGE (SURVEY.md §2A row 13); this
    function is the staging write.
    """
    w = df.write.format("jdbc").option("url", url).option("dbtable", table).option(
        "batchsize", str(batchsize)
    )
    for k, v in options.items():
        w = w.option(k, v)
    w.mode(mode).save()


_IDENT = __import__("re").compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_idents(*names: str) -> None:
    """The reference string-concatenates identifiers into SQL (SQL-
    injectable by design, ETLProcess.java:124, :388-427). We synthesize
    SQL only for the server-side MERGE and validate every identifier."""
    for n in names:
        if not _IDENT.match(n):
            raise ValueError(f"invalid SQL identifier: {n!r}")


def jdbc_upsert(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    table: str,
    pks: Sequence[str],
    driver: str | None = None,
    batchsize: int = REFERENCE_BATCH_SIZE,
    staging_table: str | None = None,
    user: str | None = None,
    password: str | None = None,
    staging_column_types: str | None = None,
) -> None:
    """Reference #13 against a real JDBC destination: stage + server-side
    MERGE (SURVEY.md §2A row 13's scalable pattern).

    The reference upserts row-by-row with UPDATE-then-INSERT
    (ETLProcess.java:388-427); per-row round trips do not scale. Here
    the frame lands in a staging table via the batched JDBC writer
    (batchsize honors the reference's 1000), then ONE server-side
    ``MERGE INTO`` applies it atomically — the database's optimizer does
    the matching.

    ``staging_column_types`` is passed to the staging write as
    ``createTableColumnTypes``. Needed on Derby: its dialect maps
    StringType to CLOB, and Derby's MERGE hits XSDA8/UTFDataFormat
    corruption reading multi-page CLOB staging columns (observed at
    ~25 rows) — declare string columns as ``"col VARCHAR(n)"`` instead.
    """
    pks = list(pks)
    if not pks:
        raise ValueError("jdbc_upsert requires at least one primary key")
    stage = staging_table or f"{table}_stage"
    cols = df.columns
    _check_idents(table, stage, *cols, *pks)
    missing = [k for k in pks if k not in cols]
    if missing:
        raise ValueError(f"primary keys not in frame: {missing}")  # :336-342 parity

    df = df.dropDuplicates(pks)
    creds = {}
    if user is not None:
        creds["user"] = user
    if password is not None:
        creds["password"] = password
    write_jdbc(df, url, stage, mode="overwrite", batchsize=batchsize,
               **({"driver": driver} if driver else {}),
               **({"createTableColumnTypes": staging_column_types}
                  if staging_column_types else {}),
               **creds)

    # Spark's JDBC writer creates the staging table with QUOTED (case-
    # sensitive) column names; the destination keeps its owner's naming,
    # so staging references are quoted and destination references are not.
    on = " AND ".join(f't.{k} = s."{k}"' for k in pks)
    non_pk = [c for c in cols if c not in pks]
    set_clause = ", ".join(f't.{c} = s."{c}"' for c in non_pk)
    insert_cols = ", ".join(cols)
    insert_vals = ", ".join(f's."{c}"' for c in cols)
    matched = f"WHEN MATCHED THEN UPDATE SET {set_clause} " if non_pk else ""
    sql = (
        f"MERGE INTO {table} t USING {stage} s ON {on} "
        f"{matched}"
        f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    )
    conn = _jdbc_connect(spark, url, user, password, driver)
    try:
        stmt = conn.createStatement()
        stmt.executeUpdate(sql)
        stmt.close()
    finally:
        conn.close()


def _jdbc_connect(spark, url, user=None, password=None, driver=None):
    """DriverManager connection honoring the same credentials/driver the
    staging write used — the reference registers the driver class and
    passes user/password explicitly (ETLProcess.java:66-75)."""
    if driver:
        spark._jvm.java.lang.Class.forName(driver)
    dm = spark._jvm.java.sql.DriverManager
    if user is not None:
        return dm.getConnection(url, user, password or "")
    return dm.getConnection(url)


def jdbc_execute(
    spark: SparkSession,
    url: str,
    sql: str,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
) -> None:
    """Run one DDL/DML statement on a JDBC destination (tests/setup)."""
    conn = _jdbc_connect(spark, url, user, password, driver)
    try:
        stmt = conn.createStatement()
        stmt.execute(sql)
        stmt.close()
    finally:
        conn.close()


def apply_cdc_dataframes(
    state: DataFrame | None,
    changes: DataFrame,
    pks: Sequence[str],
    op_col: str = "op",
    seq_col: str = "seq",
    deleted_col: str = "__deleted",
) -> DataFrame:
    """Merge a CDC change batch (I/U/D ops) into a state table with
    SEQUENCE-CONDITIONED last-writer-wins and SOFT-DELETE tombstones —
    the Debezium-style apply step that a plain upsert (merge_by_pk)
    gets wrong twice over: a delete must remove the row, and an
    out-of-order change (older ``seq`` arriving in a later batch) must
    NOT regress the stored row or resurrect a deleted key.

    Batch reduction first: the latest change per PK within ``changes``
    (max_by over ``seq_col`` — ids, log offsets, commit timestamps).
    Then a full-outer reconcile against ``state``: the side with the
    HIGHER seq wins (incoming wins ties, making a retried batch
    idempotent); a winning op of 'D'/'d'/'delete' marks the tombstone
    flag rather than dropping the row, so the tombstone keeps absorbing
    late stale updates. Readers filter ``NOT __deleted`` (see
    read_cdc_state); tombstone GC past the late-data horizon is a
    retention sweep, not this operator's job.

    ``state`` None/empty means cold start. State schema = changes minus
    ``op_col`` plus the boolean tombstone column. One key-hash shuffle
    per batch; batching-order-robust by the seq condition (property-
    tested under shuffled splits in tests/test_r7b_streaming.py).
    """
    pks = list(pks)
    data_cols = [
        c for c in changes.columns if c != op_col and c not in pks
    ]
    is_del = F.upper(F.col(op_col)).isin("D", "DELETE")
    latest = (
        changes.groupBy(*pks)
        .agg(
            F.max_by(
                F.struct(*data_cols, is_del.alias(deleted_col)),
                F.col(seq_col),
            ).alias("__s")
        )
        .select(*pks, "__s.*")
    )
    if state is None:
        return latest
    new_side = F.struct(*data_cols, F.col(deleted_col))
    incoming = latest.select(
        *pks, new_side.alias("__new")
    )
    stored = state.select(
        *[F.col(k).alias(f"__k_{k}") for k in pks],
        F.struct(*data_cols, F.col(deleted_col)).alias("__old"),
    )
    cond = None
    for k in pks:
        t = F.col(k).eqNullSafe(F.col(f"__k_{k}"))
        cond = t if cond is None else cond & t
    joined = incoming.join(stored, cond, "full_outer")
    winner = (
        F.when(F.col("__new").isNull(), F.col("__old"))
        .when(F.col("__old").isNull(), F.col("__new"))
        .when(
            F.col(f"__new.{seq_col}") >= F.col(f"__old.{seq_col}"),
            F.col("__new"),
        )
        .otherwise(F.col("__old"))
    )
    keys = [
        F.coalesce(F.col(k), F.col(f"__k_{k}")).alias(k) for k in pks
    ]
    return joined.select(*keys, winner.alias("__w")).select(*pks, "__w.*")


def apply_cdc_by_pk(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    pks: Sequence[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> None:
    """Apply a CDC batch to the parquet table at ``path``
    (apply_cdc_dataframes + read-modify-atomic-rewrite through
    _rewrite_table). The whole table is rewritten on every batch; the
    same reconcile could run partition-scoped like merge_by_pk, which
    this writer does not do yet."""
    pks = list(pks)
    _check_idents(*pks)
    state = _read_state_or_cold_start(spark, path)
    _rewrite_table(spark, apply_cdc_dataframes(state, changes, pks, op_col, seq_col), path)


def read_cdc_state(spark: SparkSession, path: str) -> DataFrame:
    """Live rows of a CDC state table: tombstones filtered, flag dropped."""
    df = spark.read.parquet(path)
    return df.filter(~F.col("__deleted")).drop("__deleted")


def inferred_dim_members(
    dim: DataFrame,
    fact: DataFrame,
    dim_key: str,
    fact_key: str,
    defaults: Mapping[str, object] | None = None,
) -> DataFrame:
    """Late-arriving-dimension handling (Kimball "inferred members"):
    fact rows sometimes reference dimension keys the dim feed hasn't
    delivered yet (out-of-order sources, cross-system lag). Dropping
    them loses facts; failing the load blocks the warehouse. The
    standard fix is to INSERT a placeholder dim row per unknown key —
    joins land, reports show 'Unknown', and the real attributes
    overwrite the placeholder when the late dim row finally arrives
    (merge_by_pk on the same key does exactly that).

    Returns ``dim`` plus one placeholder row per DISTINCT fact key
    absent from the dim: key column set, every other column NULL
    unless given in ``defaults`` (literal values, e.g. name='Unknown'),
    and an ``__inferred`` boolean marking placeholders (existing rows
    read false) so downstream can audit/backfill them.

    Scale: one distinct on the fact's key column + one anti-join
    against the dim (broadcast — dims are small by definition). The
    fact is never rewritten.
    """
    defaults = dict(defaults or {})
    # NULL foreign keys mean "no parent", not "late parent": a NULL
    # placeholder row could never be joined to or backfilled (NULL
    # never equi-matches), so it would pollute the dim forever.
    missing = (
        fact.select(F.col(fact_key).alias(dim_key))
        .filter(F.col(dim_key).isNotNull())
        .distinct()
        .join(dim.select(dim_key), dim_key, "left_anti")
    )
    cols = []
    for c in dim.columns:
        if c == dim_key:
            cols.append(F.col(dim_key))
        elif c in defaults:
            cols.append(F.lit(defaults[c]).cast(dict(dim.dtypes)[c]).alias(c))
        else:
            cols.append(F.lit(None).cast(dict(dim.dtypes)[c]).alias(c))
    placeholders = missing.select(*cols).withColumn(
        "__inferred", F.lit(True)
    )
    return dim.withColumn("__inferred", F.lit(False)).unionByName(placeholders)


def align_schemas_evolve(
    existing: DataFrame, updates: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Widen both sides to the UNION of their columns (missing columns
    become typed NULLs, types taken from whichever side has the
    column) — the schema-evolution half of an evolving MERGE. Column
    type conflicts raise loudly: silent casts are how a lake corrupts."""
    ex_t, up_t = dict(existing.dtypes), dict(updates.dtypes)
    for c in set(ex_t) & set(up_t):
        if ex_t[c] != up_t[c]:
            raise TypeError(
                f"schema evolution type conflict on {c!r}: "
                f"existing {ex_t[c]} vs updates {up_t[c]}"
            )
    all_cols = list(existing.columns) + [
        c for c in updates.columns if c not in ex_t
    ]
    def widen(df, have):
        return df.select(
            *[
                F.col(c) if c in have
                else F.lit(None).cast((ex_t | up_t)[c]).alias(c)
                for c in all_cols
            ]
        )
    return widen(existing, ex_t), widen(updates, up_t)


def merge_by_pk_evolve(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    pks: Sequence[str],
) -> None:
    """Schema-EVOLVING upsert: like merge_by_pk, but an update batch
    may carry columns the stored table has never seen (and vice
    versa) — the new columns are appended to the table schema and read
    as NULL on untouched rows, exactly Delta's
    ``mergeSchema``/autoMerge contract, emulated on parquet. Same-name
    type conflicts raise rather than cast silently.

    The evolving half is align_schemas_evolve; storage discipline is
    _rewrite_table's (read-modify-atomic-rewrite + cache refresh).
    """
    pks = list(pks)
    _check_idents(*pks)
    existing = _read_state_or_cold_start(spark, path)
    if existing is None:
        _write_table(updates.dropDuplicates(pks), path)
        return
    ex_w, up_w = align_schemas_evolve(existing, updates)
    _rewrite_table(spark, merge_dataframes(ex_w, up_w, pks), path)
