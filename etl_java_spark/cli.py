"""Non-interactive CLI — the reference's console wizard as flags.

The reference walks the user through source selection, column picking,
mapping, transforms, and sink config interactively in Spanish
(``/root/reference/src/etl/ETLProcess.java:9-53, 313-386``). This CLI
exposes the same pipeline declaratively:

    python -m etl_java_spark \
        --source-parquet /data/customer.parquet \
        --select c_custkey,c_name,c_mktsegment \
        --rename c_custkey=id --rename c_name=name \
        --transform name:lower --transform name:concat:_v1 \
        --sink-parquet /out/customers --mode merge --pks id

Catalog exploration (reference #4/#5):

    python -m etl_java_spark --source-jdbc URL --list-tables
    python -m etl_java_spark --source-jdbc URL --list-columns TBL
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="etl_java_spark", description=__doc__)
    src = p.add_argument_group("source")
    src.add_argument("--source-parquet", help="parquet path")
    src.add_argument("--source-csv", help="CSV path (header assumed)")
    src.add_argument("--source-json", help="JSON path")
    src.add_argument("--source-jdbc", help="JDBC url")
    src.add_argument("--table", help="JDBC table (with --source-jdbc)")
    src.add_argument("--query", help="SQL: JDBC pushdown query, or (with file sources) passthrough over view 'src'")
    src.add_argument("--driver", help="JDBC driver class")

    p.add_argument("--list-tables", action="store_true", help="print catalog tables and exit")
    p.add_argument("--list-columns", metavar="TBL", help="print a table's columns and exit")

    shape = p.add_argument_group("shape")
    shape.add_argument("--select", help="comma-separated column subset")
    shape.add_argument("--rename", action="append", default=[], metavar="SRC=DST")
    shape.add_argument(
        "--transform", action="append", default=[], metavar="COL:OP[:ARG]",
        help="OP in lower|upper|date|concat (reference #8-#11)",
    )

    sink = p.add_argument_group("sink")
    sink.add_argument("--sink-parquet", help="output parquet path")
    sink.add_argument("--sink-jdbc", help="output JDBC url")
    sink.add_argument("--dest-table", help="destination table (JDBC sink)")
    sink.add_argument("--mode", choices=["append", "overwrite", "merge", "insert-if-absent"], default="append")
    sink.add_argument("--pks", help="comma-separated primary keys (merge mode; coverage validated)")
    p.add_argument("--show", type=int, metavar="N", help="print N result rows instead of writing")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from .plans.pipeline import shape
    from .session import get_session
    from .sinks import writers
    from .sources import readers

    spark = get_session("etl-java-spark-cli")

    # --- source (reference #1/#3/#6) ---
    if args.source_jdbc:
        if args.list_tables or args.list_columns:
            conn = writers._jdbc_connect(spark, args.source_jdbc, driver=args.driver)
            try:
                meta = conn.getMetaData()
                if args.list_tables:
                    # getTables takes a String[]; py4j sends a list as an ArrayList
                    types = spark.sparkContext._gateway.new_array(spark._jvm.java.lang.String, 1)
                    types[0] = "TABLE"
                    rs, name = meta.getTables(None, None, "%", types), "TABLE_NAME"
                else:
                    rs = meta.getColumns(None, None, args.list_columns.upper(), "%")
                    name = "COLUMN_NAME"
                while rs.next():
                    print(rs.getString(name))
            finally:
                conn.close()
            return 0
        df = readers.read_jdbc(
            spark, args.source_jdbc, table=args.table, query=args.query,
            **({"driver": args.driver} if args.driver else {}),
        )
    elif args.source_parquet:
        df = readers.read_parquet(spark, args.source_parquet)
    elif args.source_csv:
        df = readers.read_csv(spark, args.source_csv)
    elif args.source_json:
        df = readers.read_json(spark, args.source_json)
    else:
        print("error: no source given", file=sys.stderr)
        return 2

    if args.query and not args.source_jdbc:
        df.createOrReplaceTempView("src")
        df = spark.sql(args.query)

    # --- shape (reference #6/#7/#8-#12) ---
    df = shape(
        df,
        select=args.select.split(",") if args.select else None,
        rename=dict(r.split("=", 1) for r in args.rename),
        transforms=[tuple(t.split(":", 2)) for t in args.transform],
    )

    # --- sink (reference #13-#16) ---
    if args.show:
        for row in df.limit(args.show).collect():
            print(tuple(row))
        return 0
    pks = args.pks.split(",") if args.pks else []
    if args.sink_parquet:
        if args.mode == "merge":
            if not pks:
                print("error: --mode merge requires --pks", file=sys.stderr)
                return 2
            writers.merge_by_pk(spark, df, args.sink_parquet, pks)
        elif args.mode == "insert-if-absent":
            writers.insert_if_absent(spark, df, args.sink_parquet)
        elif args.mode == "overwrite":
            writers.overwrite(df, args.sink_parquet)
        else:
            writers.append(df, args.sink_parquet)
    elif args.sink_jdbc:
        if not args.dest_table:
            print("error: --sink-jdbc requires --dest-table", file=sys.stderr)
            return 2
        if args.mode == "merge":
            if not pks:
                # mirror the parquet branch: an empty PK list would reach
                # jdbc_upsert as dropDuplicates([]) + 'MERGE ... ON <empty>'
                print("error: --mode merge requires --pks", file=sys.stderr)
                return 2
            writers.jdbc_upsert(
                spark, df, args.sink_jdbc, args.dest_table, pks,
                driver=args.driver,
            )
        else:
            writers.write_jdbc(
                df, args.sink_jdbc, args.dest_table, mode=args.mode,
                **({"driver": args.driver} if args.driver else {}),
            )
    else:
        print("error: no sink given (use --show N to preview)", file=sys.stderr)
        return 2
    print(f"OK: wrote {args.sink_parquet or args.dest_table}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
