"""Declarative ETL pipeline spec — the reference's whole program as data.

The reference's only "query plan" is a fixed linear pipeline
Scan -> Project/Rename -> Map(scalar) -> UpsertSink, orchestrated
interactively (``/root/reference/src/etl/ETLProcess.java:161-287`` and the
wizard at ``:313-386``). Here the same pipeline is a declarative spec:

    Pipeline(
        source=ParquetSource(path),              # or JdbcSource / SqlSource
        select=["c_custkey", "c_name"],          # §2A #6
        rename={"c_custkey": "id"},              # §2A #7
        transforms=[("c_name", "lower")],        # §2A #8-12
        sink=MergeSink(path, pks=["id"]),        # §2A #13-16
    ).run(spark)

Everything compiles to one lazy DataFrame -> Catalyst sees the whole
plan (projection pushdown through the transforms into the scan).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.transforms import apply_transforms, project, rename_map
from ..sinks import writers
from ..sources.readers import _scan_parquet


def shape(
    df: DataFrame,
    select: Sequence[str] | None = None,
    rename: Mapping[str, str] | None = None,
    transforms: Sequence[tuple] = (),
    dest_columns: Sequence[str] | None = None,
    dest_pks: Sequence[str] | None = None,
) -> DataFrame:
    """The pipeline's shaping stages (reference #6-#12), each applied
    when given: ``project`` to ``select``, ``rename_map`` (columns not in
    ``rename`` keep their names; ``dest_columns``/``dest_pks`` validate
    the mapping), then ``apply_transforms``. ``Pipeline.build`` and the
    CLI both shape their frame here."""
    if select:
        df = project(df, select)
    if rename:
        full_map = {c: rename.get(c, c) for c in df.columns}
        df = rename_map(df, full_map, dest_columns, dest_pks)
    if transforms:
        df = apply_transforms(df, transforms)
    return df


@dataclass
class ParquetSource:
    """A parquet file or directory. A file or a flat directory takes its
    schema from one footer, so building a pipeline runs no Spark job."""

    path: str

    def load(self, spark: SparkSession) -> DataFrame:
        return _scan_parquet(spark, self.path)


@dataclass
class SqlSource:
    """Reference #3: raw SQL passthrough over registered views."""

    query: str

    def load(self, spark: SparkSession) -> DataFrame:
        return spark.sql(self.query)


@dataclass
class JdbcSource:
    url: str
    table: str | None = None
    query: str | None = None
    options: dict = field(default_factory=dict)

    def load(self, spark: SparkSession) -> DataFrame:
        from ..sources.readers import read_jdbc

        return read_jdbc(spark, self.url, table=self.table, query=self.query, **self.options)


@dataclass
class MergeSink:
    """Upsert-by-PK into a parquet table (reference #13/#15). PK coverage
    is validated against the outgoing schema, reproducing
    ETLProcess.java:336-342."""

    path: str
    pks: Sequence[str] = ()

    def write(self, spark: SparkSession, df: DataFrame) -> None:
        missing = [p for p in self.pks if p not in df.columns]
        if missing:
            raise ValueError(f"primary keys not present in pipeline output: {missing}")
        writers.merge_by_pk(spark, df, self.path, list(self.pks))


@dataclass
class Pipeline:
    source: object
    select: Sequence[str] | None = None
    rename: Mapping[str, str] | None = None
    transforms: Sequence[tuple] = ()
    sink: object | None = None
    dest_columns: Sequence[str] | None = None
    dest_pks: Sequence[str] | None = None

    def build(self, spark: SparkSession) -> DataFrame:
        """Compose the lazy DataFrame without executing (inspect/explain)."""
        return shape(
            self.source.load(spark), self.select, self.rename, self.transforms,
            self.dest_columns, self.dest_pks,
        )

    def run(self, spark: SparkSession) -> DataFrame:
        df = self.build(spark)
        if self.sink is not None:
            self.sink.write(spark, df)
        return df
