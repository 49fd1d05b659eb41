"""Per-query timing + plan capture harness for optimization rounds.

Times individual queries in ONE warm session with the bench's exact
methodology (count() action, min over reps), so numbers are comparable
to bench_full.json without paying a 10-minute full-corpus run per
iteration. Optionally dumps .explain("formatted") per query.

Each query's line also gives the generated classes Janino compiled in
its first and last rep, and the milliseconds spent compiling them
(``codegen first=N/Xms last=M/Yms``). The min over reps hides a query
that recompiles every rep; a last rep that still compiles shows it
(e.g. a codegen cache smaller than the working set).

Usage:
  python tools/qtime.py [--sf DIR] [--reps N] [--noop] [--explain OUTDIR] q1 [q2 ...]

Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS honored like bench.py.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints resolve here

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--noop", action="store_true", help="time a noop-sink write instead of count()")
    ap.add_argument("--explain", default=None, help="directory for <query>.txt formatted plans")
    ap.add_argument("--jobs", action="store_true", help="enable the UI and print per-job durations (REST)")
    args = ap.parse_args()

    from etl_java_spark import queries as Q
    from etl_java_spark.session import get_session

    extra = {"spark.ui.enabled": "true", "spark.ui.port": "4047"} if args.jobs else None
    spark = get_session("qtime", extra_conf=extra)
    # bench.py's machinery warmup (join/agg codegen, pandas_udf worker fork)
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    li = spark.read.parquet(os.path.join(args.sf, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(args.sf, "orders.parquet"))
    li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
    ).count()

    @pandas_udf("double")
    def _warm(s: pd.Series) -> pd.Series:
        return s * 1.0

    o.select(_warm("o_totalprice")).count()

    names = []
    for n in args.queries:
        hits = [q for q in Q.QUERIES if q == n or q.startswith(n + "_") or q.startswith(n)]
        if not hits:
            print(f"no query matches {n!r}", file=sys.stderr)
            sys.exit(2)
        names.extend(hits[:1] if n in Q.QUERIES else hits)

    def job_report(since_job: int) -> int:
        """Print per-job durations for jobs submitted after ``since_job``;
        returns the new high-water job id."""
        import json as _json
        import urllib.request

        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/jobs") as r:
            jobs = _json.loads(r.read())
        fresh = [j for j in jobs if j["jobId"] > since_job]
        hi = max((j["jobId"] for j in jobs), default=since_job)
        from datetime import datetime

        def dur(j):
            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            try:
                t0 = datetime.strptime(j["submissionTime"], fmt)
                t1 = datetime.strptime(j["completionTime"], fmt)
                return (t1 - t0).total_seconds()
            except Exception:
                return -1.0
        fresh.sort(key=lambda j: j["jobId"])
        tot = 0.0
        for j in fresh:
            d = dur(j)
            tot += max(d, 0)
            print(
                f"    job {j['jobId']:>4} {d:7.2f}s  tasks={j['numTasks']:>4}  "
                f"{(j.get('description') or j.get('name',''))[:100]}",
                file=sys.stderr,
            )
        print(f"    -- {len(fresh)} jobs, sum {tot:.2f}s", file=sys.stderr)
        return hi

    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def codegen_reading() -> tuple[int, int]:
        """(classes compiled, nanoseconds spent compiling) since JVM start."""
        return compiles.getCount(), codegen.compileTime()

    hi_job = -1
    for name in names:
        fn = Q.QUERIES[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(plan)
        times, compiled = [], []
        for r in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            n0, ns0 = codegen_reading()
            t0 = time.time()
            df = fn(spark, args.sf)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
                n_rows = -1
            else:
                n_rows = df.count()
            dt = time.time() - t0
            n1, ns1 = codegen_reading()
            times.append(dt)
            compiled.append(f"{n1 - n0}/{(ns1 - ns0) / 1e6:.0f}ms")
            print(
                f"  {name} rep{r}: {dt:.2f}s ({n_rows} rows, {compiled[-1]} compiled)",
                file=sys.stderr,
            )
            if args.jobs:
                hi_job = job_report(hi_job)
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}\tmin={min(times):.3f}\tall={[round(t,2) for t in times]}"
            f"\tcodegen first={compiled[0]} last={compiled[-1]}"
        )


if __name__ == "__main__":
    main()
