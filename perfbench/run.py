"""Layered lakehouse benchmark: one workload, one run.

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Each run starts its own Spark session on
``local[<cores>]``, builds a fresh warehouse under ``.perfbench/`` in the
checkout, runs the workload (``workloads.py``) and deletes the warehouse at
exit. The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics (``layers.py``) when
``--trace 1``. The line before it carries the run's details: the
contention sentinel at start and end, the per-kind latencies and the
workload's throughput figures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: (name, unit) of the end-to-end metrics, in report order
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_gmean_s", "s")]


def _configure_environment(workdir: str) -> None:
    """Size Spark for this machine through the variables ``session.py``
    reads: every core, and a driver heap well below physical memory."""
    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(ram_gb // 4)))}g"
    # keep every scratch file of Spark and Python inside the run directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None


def _sentinel(spark) -> float:
    """Fixed-cost, data-free, single-task CPU job (as in ``bench.py``): its
    time moves only with contention on the machine, not with the code."""
    t0 = time.perf_counter()
    spark.range(30_000_000, numPartitions=1).selectExpr("sum(id * 2654435761 % 1000003) AS s").collect()
    return time.perf_counter() - t0


def _p(values: list[float], q: float) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def _stop(spark) -> None:
    """Stop the session and wait for the JVM that PySpark launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on end of input
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    import iceberg_rust_custom_spark  # noqa: F401  (fails fast outside a checkout)

    import layers
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench"))
    spark = None
    try:
        _configure_environment(workdir)
        from iceberg_rust_custom_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
                # -XX:-UsePerfData: no hsperfdata file in the system temp directory
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            },
        )
        # as in bench.py: start a Python worker on every core before anything is timed
        spark.range(256).repartition(64).mapInPandas(lambda it: it, "id long").count()
        ctx = Ctx(spark, workdir, args.seed)
        ctx.log(f"session, {time.perf_counter() - T_START:.2f} s since start")
        workload = WORKLOADS[args.workload](ctx, args.seconds)
        workload.setup()
        # the sentinel brackets the timed phase; its first run primes it
        _sentinel(spark)
        sentinel_start = _sentinel(spark)
        setup_s = time.perf_counter() - T_START

        tracer = layers.Tracer(spark).install() if args.trace else None
        ctx.tracer = tracer
        t0 = time.perf_counter()
        workload.run()
        wall_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.uninstall()
            per_layer = tracer.metrics()
            for name in layers.LAYERS_USED[args.workload]:
                ctx.check(per_layer[name] > 0, f"per-layer metric {name} fired")
        workload.verify()
        sentinel_end = _sentinel(spark)

        ops = [v for vs in ctx.samples.values() for v in vs]
        # "read.range" and "read.point" samples also pool into "read"
        kinds = defaultdict(list)
        for k, vs in ctx.samples.items():
            kinds[k] += vs
            if "." in k:
                kinds[k.split(".")[0]] += vs
        details = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "sentinel_1task_s": {"start": sentinel_start, "end": sentinel_end},
            "setup_s": setup_s,
            "wall_s": wall_s,
            "failed_ratio": ctx.failed / max(1, ctx.attempted),
            "samples": {k: len(v) for k, v in kinds.items()},
            **{f"{k}_p50_s": _p(v, 0.5) for k, v in kinds.items()},
            **{f"{k}_p90_s": _p(v, 0.9) for k, v in kinds.items()},
            **ctx.info,
        }
        if "rows_committed" in ctx.info:
            details["ingest_rows_per_s"] = ctx.info["rows_committed"] / wall_s
        if "docs_processed" in ctx.info:
            details["corpus_docs_per_s"] = ctx.info["docs_processed"] / wall_s
        if tracer is not None:
            metrics = {
                name: {"value": per_layer[name], "unit": layers.unit(name)} for name, _ in layers.PER_LAYER
            }
        else:
            # the geometric mean weighs every operation of the fixed mix alike;
            # a pooled median would sit between two kinds and jump between them
            gmean = math.exp(statistics.fmean(math.log(v) for v in ops))
            values = {"setup_s": setup_s, "wall_s": wall_s, "op_gmean_s": gmean}
            metrics = {name: {"value": values[name], "unit": u} for name, u in END_TO_END}
        print(json.dumps(details), flush=True)
        print(
            json.dumps(
                {
                    "correct": ctx.failed == 0,
                    "attempted": ctx.attempted,
                    "failed": ctx.failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
