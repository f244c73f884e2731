"""Pieces shared by the workloads: the run context, session set-up,
percentiles and memory high-water marks."""

from __future__ import annotations

import dataclasses
import math
import os
import resource
import statistics

from .tracing import SparkStats, Tracer


@dataclasses.dataclass
class Context:
    """What a workload gets: its seed, how long to measure, where it may
    write, and the tracer (disabled in untraced runs)."""

    seed: int
    seconds: float
    work_dir: str
    tracer: Tracer
    stats: SparkStats | None = None  # set once the measured session exists

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)


class Op:
    """One timed operation of a workload (a query, a cycle, a round)."""

    __slots__ = ("name", "seconds", "rows", "ok", "layers")

    def __init__(self, name: str, seconds: float, rows: int = 0, layers: dict | None = None):
        self.name = name
        self.seconds = seconds
        self.rows = rows
        self.ok = True
        self.layers = layers or {}


def start_session(tracer: Tracer):
    from orders_currency_conversion_etl_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("session.warmup"):
        # the same warm-up bench.py runs before its timed passes
        spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    ordered = sorted(values)
    return ordered[max(math.ceil(q / 100 * len(ordered)) - 1, 0)]


def tail_rank(n: int) -> int:
    """The highest whole percentile with at least ten samples above it
    among ``n``; 50 when ``n`` is too small for any tail."""
    if n < 20:
        return 50
    return max(50, min(99, math.floor(100 * (1 - 10 / n))))


def median(values: list[float]) -> float:
    return statistics.median(values)


def peak_rss_mb(spark) -> float:
    """Driver JVM plus Python high-water resident set size, in MiB."""
    py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kib = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kib = int(line.split()[1])
    return (py_kib + jvm_kib) / 1024.0
