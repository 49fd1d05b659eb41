"""Sources: parquet/CSV/JSON/JDBC readers + catalog helpers.

Reference parity (SURVEY.md §2A):
- #1 JDBC source connect  (``/root/reference/src/etl/ETLProcess.java:66-75``)
  -> ``read_jdbc`` with partitioned reads for scale (the reference streams
  one single-threaded cursor; a 1000-executor cluster needs
  partitionColumn/lowerBound/upperBound/numPartitions).
- #3 raw SQL passthrough   (``ETLProcess.java:84-86,163-164``)
  -> ``spark.sql`` over the temp views ``register_views`` creates (Catalyst
  replaces the source DB's optimizer) or JDBC ``query`` option for
  source-side pushdown.
- #4/#5 catalog listings    (``ETLProcess.java:142-159,302-311``)
  -> ``list_tables`` / ``list_columns`` over ``spark.catalog``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..plans.checkpoints import materialize

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_fixture_confs(spark: SparkSession) -> SparkSession:
    """Make an externally-created SparkSession able to read the fixtures.

    Both confs are runtime-settable, so this works on sessions we did
    not build (e.g. the driver's): nanos-as-long for TIMESTAMP(NANOS)
    parquet columns, UTC session timezone for cross-engine-stable
    timestamp semantics. Also ships this package to Python workers so
    pickled-by-reference UDFs (stateful operators, media codecs) import
    cleanly even when the driver process launched outside the repo.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ship_package(spark)
    return spark


_SHIPPED_CONTEXTS: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """addPyFile a zip of etl_java_spark once per SparkContext (idempotent).

    The guard is a process-global set keyed by context id plus a check of
    ``sc._python_includes`` — NOT ``setLocalProperty``, which is
    thread-local and would re-zip + re-ship from every new thread of a
    multithreaded driver, accumulating temp zips over a long session.
    """
    sc = spark.sparkContext
    ctx_key = id(sc)
    if ctx_key in _SHIPPED_CONTEXTS:
        return
    includes = getattr(sc, "_python_includes", None) or []
    if any("etl_java_spark_" in str(p) for p in includes):
        _SHIPPED_CONTEXTS.add(ctx_key)
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="etl_java_spark_")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    _SHIPPED_CONTEXTS.add(ctx_key)


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """Data schema of the parquet file or flat directory ``path``, read
    on the driver from one footer — no Spark job. ``None`` wherever
    Spark's own read must judge: a glob, a missing path, a directory
    with subdirectories (partitions), nothing to read, an unreadable
    footer, or a session that merges schemas.

    Spark's own rule (``ParquetUtils.inferSchema`` without
    ``mergeSchema``): the files its listing keeps (``HadoopFSUtils.
    shouldFilterOutPathName``), sorted by path; a ``_common_metadata``
    summary first, then ``_metadata``, then the first data file; its
    footer read by ``ParquetFileFormat.readSchemaFromFooter`` (the
    writer's Spark row metadata when there is one — pyarrow writes none
    — else the parquet schema converted under the session's SQLConf, so
    ``nanosAsLong`` holds); then ``asNullable``, as every file source's
    data schema is."""
    from py4j.java_gateway import JavaClass
    from py4j.protocol import Py4JJavaError

    if any(ch in path for ch in "{}[]*?\\") or (
        spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true"
    ):
        return None

    def jclass(name: str) -> JavaClass:
        # one reference by full name; ``spark._jvm.a.b.C`` costs a py4j
        # round trip per package level
        return JavaClass(name, spark._sc._gateway._gateway_client)

    conf = spark._jsc.hadoopConfiguration()
    root = jclass("org.apache.hadoop.fs.Path")(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return None
    status = fs.getFileStatus(root)
    listed = (
        (st.getPath().toString(), st)
        for st in ([status] if status.isFile() else fs.listStatus(root))
    )
    kept = sorted((p, st) for p, st in listed if _listed_by_spark(p.rsplit("/", 1)[-1]))
    if any(st.isDirectory() for _, st in kept):
        return None
    by_name = {p.rsplit("/", 1)[-1]: st for p, st in kept}
    first = by_name.get("_common_metadata") or by_name.get("_metadata") or next(
        (st for name, st in by_name.items() if name not in _SUMMARY_FILES), None
    )
    if first is None:
        return None
    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    try:
        meta = jclass(parquet + "ParquetFooterReader").readFooter(
            jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(first, conf),
            jclass("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
        )
    except Py4JJavaError:
        return None  # Spark's inference raises its own error for the file
    converter = jclass(parquet + "ParquetToSparkSchemaConverter")(
        spark._jsparkSession.sessionState().conf()
    )
    schema = jclass(parquet + "ParquetFileFormat").readSchemaFromFooter(
        jclass("org.apache.parquet.hadoop.Footer")(first.getPath(), meta), converter
    ).asNullable()
    return StructType.fromJson(json.loads(schema.json()))


_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _listed_by_spark(name: str) -> bool:
    """Whether Spark's file listing keeps a file or directory of this
    name: ``HadoopFSUtils.shouldFilterOutPathName``, negated."""
    hidden = (name.startswith("_") and "=" not in name) or name.startswith(".") or (
        name.endswith("._COPYING_")
    )
    return not hidden or name.startswith(_SUMMARY_FILES)


def _scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` given its data schema from one footer
    where Spark's inference would read only that footer
    (:func:`_footer_schema`): the same frame without the inference job.
    Everything else is read exactly as ``spark.read.parquet`` reads it,
    errors included."""
    schema = _footer_schema(spark, path)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan; Catalyst pushes filters + prunes columns at the
    footer. A file or a flat shard directory takes its schema from one
    footer on the driver, so building the frame runs no Spark job."""
    ensure_fixture_confs(spark)
    return normalize_nanos(_scan_parquet(spark, path))


def normalize_nanos(df: DataFrame, cols: tuple[str, ...] = ("ts",)) -> DataFrame:
    """Normalize fixture timestamp columns to session-zone TIMESTAMP.

    Two fixture vintages exist:
    - TIMESTAMP(NANOS): read as long nanos under
      spark.sql.legacy.parquet.nanosAsLong -> truncate to micros
      (integer division, matching us-resolution engines on ingest).
    - TIMESTAMP_MICROS with isAdjustedToUTC=false: Spark 4 reads this as
      TIMESTAMP_NTZ, which refuses numeric casts and breaks interval
      arithmetic shared with the LTZ path. The session is pinned to UTC,
      so NTZ wall-clock == the UTC instant DuckDB sees; casting to
      TIMESTAMP is lossless and keeps one code path downstream.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for c in cols:
        if c not in df.columns:
            continue
        dt = df.schema[c].dataType
        if isinstance(dt, T.LongType):
            # integer division: double division loses precision above 2^53 ns
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_csv(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    opts = {"header": "true", **options}
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)  # never inferSchema at scale: full extra pass
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (built into Spark) — same pushdown/pruning story as
    parquet; useful when the lakehouse's existing data is ORC."""
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema=None,
    **options,
) -> DataFrame:
    """XML scan via Spark 4's built-in XML data source (no external
    package): one DataFrame row per ``row_tag`` element, schema
    inferred unless given. XML is the interchange surface legacy ETL
    feeds still speak; keeping it first-class means those feeds land
    through the same declarative reader path as CSV/JSON/ORC."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).load(path)


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with schema evolution: ``mergeSchema=true`` unions
    the footers of every file under ``path``, so files written before a
    column existed surface it as NULL instead of failing the read — the
    append-only table-evolution contract a long-lived lake needs."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str | None = None,
    query: str | None = None,
    user: str | None = None,
    password: str | None = None,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int | None = None,
    fetchsize: int = 1000,
    **options,
) -> DataFrame:
    """Partitioned JDBC read.

    Reference parity: ETLProcess.java:66-75 opens one Connection and
    streams one cursor. Spark's JDBC relation additionally pushes
    filters/column pruning to the source and parallelizes via
    partitionColumn ranges — required for any realistically sized source.
    """
    if (table is None) == (query is None):
        raise ValueError("exactly one of table= or query= is required")
    reader = spark.read.format("jdbc").option("url", url).option("fetchsize", str(fetchsize))
    if table:
        reader = reader.option("dbtable", table)
    else:
        reader = reader.option("query", query)
    if user:
        reader = reader.option("user", user)
    if password:
        reader = reader.option("password", password)
    if partition_column:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 32))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def load_star_schema(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = STAR_TABLES
) -> dict[str, DataFrame]:
    """Load the driver fixtures for one scale factor as a dict of DataFrames."""
    ensure_fixture_confs(spark)
    out = {}
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            out[t] = normalize_nanos(_scan_parquet(spark, p))
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each fixture table as a temp view, for ``spark.sql``."""
    dfs = load_star_schema(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def list_tables(spark: SparkSession) -> list[str]:
    """Reference #4 (ETLProcess.java:142-159): enumerate catalog tables."""
    return sorted(t.name for t in spark.catalog.listTables())


def list_columns(spark: SparkSession, table: str) -> list[str]:
    """Reference #5 (ETLProcess.java:104-111,302-311): enumerate columns."""
    return [c.name for c in spark.catalog.listColumns(table)]


def write_fixed_width(
    df: DataFrame,
    path: str,
    colspecs: list[tuple[str, int]],
) -> None:
    """Fixed-width flat-file sink: each column rendered into its
    ``width``-CHARACTER field — left-justified space-padded, TRUNCATED
    at width (the copybook convention legacy ETL feeds speak; the
    reference's JDBC world ships such extracts nightly). NULL renders
    as all spaces. All JVM-side (concat/rpad/substr); one text file
    per partition — a plain distributed text write.

    Two sharp edges of the format itself, not hidden by this writer:
    widths count CHARACTERS — for byte-positioned (EBCDIC/mainframe)
    consumers keep the data ASCII, since a multibyte UTF-8 value
    shifts every later field's byte offset; and a NUMERIC value wider
    than its field truncates into a DIFFERENT number (size numeric
    fields to the domain's max width — the copybook author's job).

    ``colspecs``: ordered (column, width) pairs.
    """
    line = F.concat(
        *[
            F.rpad(
                F.substring(
                    F.coalesce(F.col(c).cast("string"), F.lit("")), 1, w
                ),
                w,
                " ",
            )
            for c, w in colspecs
        ]
    )
    df.select(line.alias("value")).write.mode("overwrite").text(path)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: list[tuple[str, int, str]],
) -> DataFrame:
    """Fixed-width flat-file source: slice each line by byte offsets
    and cast — the inverse of write_fixed_width. Empty (all-space)
    fields read as NULL. ``colspecs``: ordered (column, width, type)
    triples; offsets are cumulative. substring/trim/cast are all
    whole-stage-codegen JVM expressions — the parse adds no Python to
    the scan path, and column pruning still reaches the text scan.
    """
    raw = spark.read.text(path)
    out = []
    pos = 1
    for name, width, typ in colspecs:
        field = F.trim(F.substring(F.col("value"), pos, width))
        out.append(
            F.when(field == "", None).otherwise(field).cast(typ).alias(name)
        )
        pos += width
    return raw.select(*out)


def read_incremental(
    spark: SparkSession,
    df: DataFrame,
    bookmark_dir: str,
    ts_col: str,
    advance: bool = True,
) -> DataFrame:
    """High-water-mark incremental extract: return only rows with
    ``ts_col`` STRICTLY ABOVE the persisted bookmark — the classic ETL
    tail-pickup every nightly JDBC/file ingest runs (the reference's
    domain: repeated extracts from a live source without re-reading
    history).

    The bookmark is a 1-row parquet table at ``bookmark_dir`` (absent =
    cold start = everything qualifies; any OTHER read failure raises —
    swallowing it would silently re-extract all of history).
    Correctness contract shared by every watermark extract: ``ts_col``
    must be monotonic-at-source for committed rows (late rows BELOW
    the bookmark are invisible — that's what CDC (q350) is for; this
    operator is the cheap path for append-only sources).
    Strictly-above semantics make a re-run with no new data a clean
    zero-row no-op, and the bookmark only advances when new rows exist.

    Delivery semantics — pick per pipeline:
    - ``advance=True`` (default): bookmark advances IN THIS CALL,
      before the caller lands the batch — AT-MOST-ONCE. A downstream
      failure after this call skips the batch on retry. Use when the
      downstream sink is fire-and-forget or dedups anyway.
    - ``advance=False``: extract only; call :func:`advance_bookmark`
      AFTER the downstream commit — AT-LEAST-ONCE (a crash between
      commit and advance re-delivers the batch; pair with an
      idempotent/keyed sink such as merge_by_pk for exactly-once).

    One filter scan + one 1-row max aggregate; the returned frame is
    materialized (plans/checkpoints) so callers can read it after the
    next bookmark write.
    """
    from pyspark.errors import AnalysisException

    try:
        bm = spark.read.parquet(bookmark_dir).collect()[0]["bookmark"]
    except AnalysisException as ex:
        # compare the error CLASS, not message text — a wrapped error
        # whose chained message merely mentions the token must not be
        # misread as cold start (it would re-deliver all of history)
        getter = getattr(ex, "getCondition", None) or getattr(
            ex, "getErrorClass", None
        )
        if (getter() if getter else None) != "PATH_NOT_FOUND":
            raise
        bm = None
    new = df.filter(F.col(ts_col) > F.lit(bm)) if bm is not None else df
    new = materialize(new)
    if advance:
        advance_bookmark(spark, new, bookmark_dir, ts_col)
    return new


def advance_bookmark(
    spark: SparkSession,
    batch: DataFrame,
    bookmark_dir: str,
    ts_col: str,
) -> None:
    """Persist max(``ts_col``) of ``batch`` as the new bookmark (no-op
    on an empty batch — the bookmark never regresses or vanishes).
    The commit half of the two-phase ``read_incremental(advance=False)``
    pattern: call it only after the batch has landed downstream."""
    hi = batch.agg(F.max(ts_col).alias("bookmark")).collect()[0]["bookmark"]
    if hi is not None:
        spark.createDataFrame(
            [(hi,)],
            schema=batch.select(F.col(ts_col).alias("bookmark")).schema,
        ).write.mode("overwrite").parquet(bookmark_dir)
