"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload upsert_feed --seed 1 --seconds 6 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench_work/`` (removed and recreated on every run), sets
up the engine, measures closed-loop operations for ``--seconds``, checks the
outputs outside the timed region, and prints one JSON result as the last
line of stdout: end-to-end metrics with ``--trace 0``, per-layer metrics
from a traced run with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
#: Engine threads: local[N], pinned so results compare. Two, not nproc: the
#: operations are bound by per-job and planning cost, not task parallelism,
#: and leaving cores to the Python driver, the JIT and GC threads and the
#: output checks measured steadier on a 4-core machine.
CPUS = min(2, len(os.sched_getaffinity(0)))


def pin_engine() -> None:
    """Engine configuration, fixed before anything imports the session
    module (it reads SPARK_GRAFT_CPUS at import time)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def build_session(trace: bool, java_opts: str):
    from etl_java_spark.session import get_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData {java_opts}".strip(),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    t = time.perf_counter()
    spark = get_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def storage(spark) -> tuple[int, int]:
    """(persisted RDD count, bytes they hold in memory + on disk)."""
    jsc = spark.sparkContext._jsc
    held = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    return jsc.getPersistentRDDs().size(), held


def stop(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        gw.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    pin_engine()
    sys.path.insert(0, ROOT)
    import etl_java_spark  # noqa: F401  -- fail before any work without the program

    from perfbench.tracing import Tracer, wrap_layers
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))

    wl = WORKLOADS[args.workload](WORK, args.seed)
    t_gen = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t_gen

    # set-up: process start -> session built -> workload path warmed once,
    # input generation excluded
    t = time.perf_counter()
    spark, session_s = build_session(trace, wl.JAVA_OPTS)
    tr = Tracer(spark)
    wl.warm(spark, tr)
    setup_s = time.perf_counter() - t + (t_gen - T_START)
    if trace:
        wrap_layers(tr)

    times: list[float] = []
    rows: list[int] = []
    after: dict[int, dict] = {}
    held: list[tuple[int, int]] = []
    i, deadline = 0, float("inf")
    # the workload's untimed settle operations, then the closed loop for
    # --seconds; a traced run ends on a whole untraced/traced pair
    settle = wl.SETTLE_OPS
    while time.perf_counter() < deadline or (trace and (i - settle) % 2):
        if i == settle:
            deadline = time.perf_counter() + args.seconds
        arg = wl.prepare(i)
        tr.release()
        t = time.perf_counter()
        try:
            with tr.operation(i, traced=trace and i >= settle and (i - settle) % 2 == 1):
                n = wl.op(spark, tr, i, arg)
        except Exception:
            traceback.print_exc()
            wl.failed_ops.add(i)
            n = 0
        times.append(time.perf_counter() - t)
        rows.append(n)
        held.append(storage(spark))
        try:
            after[i] = wl.after(i, arg)
        except Exception:
            traceback.print_exc()
            wl.failed_ops.add(i)
        i += 1
    attempted = i

    t_check = time.perf_counter()
    try:
        wl.check(spark)
    except Exception:
        traceback.print_exc()
        wl.failed_ops.update(range(attempted))
        wl.check_detail = "output check raised"
    failed = len(wl.failed_ops)
    check_s = time.perf_counter() - t_check

    info = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": trace,
        "cpus": CPUS, "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version, "python": platform.python_version(),
        "jdk": spark.sparkContext._jvm.System.getProperty("java.version"),
        "java_opts": wl.JAVA_OPTS,
        "generate_s": round(gen_s, 3), "setup_s": round(setup_s, 3),
        "check_s": round(check_s, 3),
        "ops": attempted, "op_s": [round(t, 4) for t in times],
        "persisted_rdds": [h[0] for h in held], "storage_bytes": [h[1] for h in held],
        "check": wl.check_detail or "ok",
    }

    timed = times[settle:]
    if not trace:
        ok_rows = sum(r for j, r in enumerate(rows) if j >= settle and j not in wl.failed_ops)
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s_p50": (statistics.median(timed), "s"),
            # the slowest operation: runs are too short for a percentile
            # above the median with 10 samples beyond it (see README)
            "op_s_tail": (max(timed), "s"),
            "rows_per_s": (ok_rows / sum(timed), "rows/s"),
            "write_amp": (wl.write_amp(), "ratio"),
            "recall": (wl.recall(), "ratio"),
            "ok_frac": (1 - failed / attempted, "ratio"),
        }
    else:
        metrics = layer_metrics(tr, times, after, held, session_s, settle)
        tr.dump(os.path.join(WORK, "spans.jsonl"))
    stop(spark)

    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(tr, times, after, held, session_s, settle) -> dict:
    """Per-layer metrics of a traced run: the median over traced operations
    of each per-operation value, plus the traced-minus-untraced overhead."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    per_op = tr.per_op()
    engine = tr.engine_counters()
    traced = [i for i in range(settle, len(times)) if (i - settle) % 2]
    values: dict[str, list[float]] = {}
    for i in traced:
        merged = {**per_op.get(i, {}), **engine.get(i, {}), **tr.counts.get(i, {}),
                  **after.get(i, {})}
        for k, v in merged.items():
            values.setdefault(k, []).append(v)
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        vs = values.get(name, [])
        # a layer absent from some traced ops contributes 0 for those ops
        vs = vs + [0.0] * (len(traced) - len(vs))
        out[name] = (statistics.median(vs) if vs else 0.0, m["unit"])
    out["session.get_session_s"] = (session_s, "s")
    # after the last untraced operation, whose start released the previous
    # traced operation's forced boundaries
    out["operators.persisted_rdds"] = (held[-2][0], "count")
    out["operators.storage_bytes"] = (held[-2][1], "bytes")
    pairs = [times[i] - times[i - 1] for i in traced]
    out["trace.overhead_s"] = (statistics.median(pairs) if pairs else 0.0, "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
