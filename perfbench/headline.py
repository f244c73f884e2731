"""Workload ``headline``: the 23 ``bench.HEADLINE`` queries, one per
operator family, through the noop sink, on tables generated from the
seed.

One operation is one query. Passes over the 23 queries repeat until the
run's time is spent, at least one whole pass; the last pass may stop
part-way. Per-query times are medians over the passes that ran the
query. Before the timed passes every query's output is compared with
its DuckDB oracle.
"""

from __future__ import annotations

import math
import time

from . import gen
from .common import Context, Op, median

#: Table scale (1.0 = 1.5M orders, the repo's "sf1"). At 0.005 a pass
#: takes about 11 s on 4 cores and the first, checked pass about 28 s,
#: which is what a run's time budget allows; an sf1 pass takes 67 s.
SCALE = 0.005

class Headline:
    name = "headline"
    #: Session set-ups per run; setup_s is their median. The first also
    #: launches the JVM, so the median is a set-up in a running JVM.
    #: A set-up here is a few tenths of a second, so five.
    setup_reps = 5

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.data = ctx.path("data")
        self.input_rows = 0
        self.bad_queries: set[str] = set()

    def prepare(self) -> None:
        self.input_rows = gen.write_analytic_tables(self.ctx.seed, SCALE, self.data)

    def setup(self, spark) -> None:
        """Nothing beyond the session: no headline query reads
        materialized engine state (``state_cache``) at this commit;
        ``pagerank_parts`` rebuilds its graph on every call. A query
        that starts reading such state must build it here, or the build
        would land in the untimed check pass."""

    def warmup(self, spark) -> None:
        """Compare every query's rows with its DuckDB oracle (the tests'
        full-row comparison). This first execution of each query also
        warms the JIT and the Python workers, as bench.py's untimed
        pass does."""
        import __spark_entry__  # noqa: F401  registers every query
        from tests.oracle_harness import compare_query

        from bench import HEADLINE
        from orders_currency_conversion_etl_spark.plans import registry

        oracles = registry.finalized_oracles()
        for name in HEADLINE:
            with self.ctx.tracer.span("check", query=name):
                try:
                    compare_query(spark, self.data, registry.QUERIES[name], oracles[name])
                except AssertionError as exc:
                    print(f"headline check failed: {name}: {exc}", flush=True)
                    self.bad_queries.add(name)

    def run(self, spark) -> list[Op]:
        from bench import HEADLINE
        from orders_currency_conversion_etl_spark.plans import registry

        tracer, stats = self.ctx.tracer, self.ctx.stats
        ops: list[Op] = []
        deadline = time.perf_counter() + self.ctx.seconds
        n_pass = 0
        while n_pass == 0 or time.perf_counter() < deadline:
            with tracer.span("pass", n=n_pass):
                for name in HEADLINE:
                    if n_pass and time.perf_counter() >= deadline:
                        break
                    spark.catalog.clearCache()  # as bench.py: no cached data across runs
                    group = f"headline:{n_pass}:{name}"
                    if stats is not None:
                        stats.set_group(group)
                    with tracer.span("query", query=name, group=group):
                        t0 = time.perf_counter()
                        with tracer.span("plans.build"):
                            df = registry.QUERIES[name](spark, self.data)
                        df.write.mode("overwrite").format("noop").save()
                        op = Op(name, time.perf_counter() - t0)
                    if stats is not None:
                        op.layers = stats.collect(group, op.seconds)
                    op.ok = name not in self.bad_queries
                    ops.append(op)
            n_pass += 1
        return ops

    def metrics(self, ops: list[Op]) -> dict[str, float]:
        per_query = per_query_median(ops)
        pass_s = sum(per_query.values())
        return {
            "latency_p50_s": median([op.seconds for op in ops]),
            "rows_per_s": self.input_rows / pass_s,
        }

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        from bench import HEADLINE

        per_query = per_query_median(ops)
        out = {f"query.{name}_s": per_query[name] for name in HEADLINE}
        out["pass_s"] = sum(per_query.values())
        out["query_geomean_s"] = math.exp(
            sum(math.log(v) for v in per_query.values()) / len(per_query)
        )
        return out

    def units(self, ops: list[Op]) -> float:
        """Passes run, the last one in part: per-layer totals are
        reported per pass."""
        from bench import HEADLINE

        return len(ops) / len(HEADLINE)

    def teardown(self) -> None:
        pass


def per_query_median(ops: list[Op]) -> dict[str, float]:
    times: dict[str, list[float]] = {}
    for op in ops:
        times.setdefault(op.name, []).append(op.seconds)
    return {name: median(v) for name, v in times.items()}

