"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run generates the workload's inputs
from the seed, sets up a Spark session ``setup_reps`` times (a
workload attribute; ``setup_s`` is the median), warms the workload up untimed (checking outputs where
the workload checks them), measures for ``--seconds`` and prints, as the
last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it gives the rig context. A traced run also writes its spans to
``.perfbench_out/``; everything else the run writes goes to a scratch
directory under ``.perfbench_work/``, removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "orders_currency_conversion_etl_spark"
WORKLOADS = ("etl_drain", "headline")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def sandbox_env(work: str) -> None:
    """Point every cache, scratch and temp directory the engine, Spark,
    the JVM and Python use at ``work``, before Spark starts."""
    for var, sub in (
        ("SPARK_GRAFT_GRAPH_CACHE", "cache/graph"),
        ("SPARK_GRAFT_ANN_CACHE", "cache/ann"),
        ("SPARK_GRAFT_QS_CACHE", "cache/qs"),
        ("SPARK_LOCAL_DIRS", "spark-local"),
        ("TMPDIR", "tmp"),
    ):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # the registry binds its oracle SQL against this directory's tables
    os.environ["SPARK_GRAFT_SCHEMA_DIR"] = os.path.join(work, "data")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # Python workers import the package too, from a cwd inside ``work``
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{java_opts}" pyspark-shell'


def make_workload(name: str, ctx):
    if name == "headline":
        from perfbench.headline import Headline as cls
    else:
        from perfbench.etl import EtlDrain as cls
    return cls(ctx)


def stop_jvm(spark) -> None:
    """Stop the session and wait until the JVM this process launched
    has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def unit_of(key: str) -> str:
    if key.endswith("rows_per_s"):
        return "rows/s"
    if key == "latency_tail_rank":
        return "percentile"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("_frac", "fraction"),
                         ("_mb", "MiB")):
        if key.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ beside perfbench/: run from a full checkout", file=sys.stderr)
        return 2
    # rig context, taken before any work of this run loads the machine
    context = {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "load_avg_1m": os.getloadavg()[0],
    }
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(work)
    sandbox_env(work)
    context["cpus_used"] = int(os.environ["SPARK_GRAFT_CPUS"])
    # import the package and bench.py from the checkout, and keep this
    # directory's module names off the top of the path
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    cwd = os.getcwd()
    os.chdir(work)  # Spark's cwd-relative leftovers (derby.log, ...) go with it
    try:
        result = run(args, work, run_id, context)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"run": run_id, "context": context}))
    print(json.dumps(result))
    return 0


def run(args, work: str, run_id: str, context: dict) -> dict:
    from perfbench import layers
    from perfbench.common import Context, median, peak_rss_mb, start_session
    from perfbench.tracing import SparkStats, Tracer

    from orders_currency_conversion_etl_spark import state_cache
    from orders_currency_conversion_etl_spark.sources import catalog

    tracer = Tracer(run_id, enabled=bool(args.trace))
    tracer.wrap(catalog, "load_table", "sources.load_table")
    tracer.wrap(catalog, "load_table_parallel", "sources.load_table")
    tracer.wrap(
        state_cache,
        "materialize",
        "state_cache.materialize",
        before=lambda path, *_: tracer.add(
            "state_cache.hits" if state_cache.is_materialized(path) else "state_cache.builds"
        ),
    )
    ctx = Context(seed=args.seed, seconds=args.seconds, work_dir=work, tracer=tracer)
    workload = make_workload(args.workload, ctx)

    t0 = time.perf_counter()
    workload.prepare()
    context["prepare_s"] = time.perf_counter() - t0

    setups, spark = [], None
    for rep in range(workload.setup_reps):
        if spark is not None:
            workload.teardown()
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("setup", rep=rep):
            spark = start_session(tracer)
            workload.setup(spark)
        setups.append(time.perf_counter() - t0)
    with tracer.span("warmup"):
        workload.warmup(spark)
    if args.trace:
        ctx.stats = SparkStats(spark)
    with tracer.span("measure") as measure:
        ops = workload.run(spark)
    rss = peak_rss_mb(spark)
    workload.teardown()
    stop_jvm(spark)
    tracer.unwrap_all()

    if args.trace:
        metrics = layers.compute(tracer, workload, ops, setups, measure["id"], ctx.stats.cores, rss)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            {"context": context, "setups_s": setups, "metrics": metrics},
        )
    else:
        metrics = {"setup_s": median(setups), **workload.metrics(ops)}
    failed = sum(not op.ok for op in ops)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
