"""End-to-end incremental pipeline over real parquet sinks — the
reference's cron loop (generate → convert unprocessed → append →
mark processed) replayed three rounds with the anti-join redesign
(SURVEY §7.4). Conservation and exactly-once must hold across rounds
and across a crash-replay."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

from orders_currency_conversion_etl_spark.operators.convert import convert_orders
from orders_currency_conversion_etl_spark.operators.generate import generate_orders
from orders_currency_conversion_etl_spark.sources.rates import rates_df
from orders_currency_conversion_etl_spark.sources.sinks import append_idempotent

TS = dt.datetime(2026, 1, 1)


def _run_round(spark, src_df, sink_path: str) -> int:
    """One cron tick: convert the not-yet-sunk orders, append them."""
    sink = spark.read.parquet(sink_path) if os.path.exists(sink_path) else None
    delta = append_idempotent(src_df, sink, key="order_id")
    out = convert_orders(delta, rates_df(spark), TS)
    n = out.count()
    if n:
        out.write.mode("append").parquet(sink_path)
    return n


def test_three_rounds_conserve_and_never_duplicate(spark):
    with tempfile.TemporaryDirectory() as work:
        sink = os.path.join(work, "orders_eur")
        # three generator ticks, each a distinct seeded batch
        batches = [generate_orders(spark, n=200, seed=s, base_time=TS) for s in (1, 2, 3)]
        seen_total = 0
        accumulated = None
        for b in batches:
            accumulated = b if accumulated is None else accumulated.unionByName(b)
            n = _run_round(spark, accumulated, sink)
            assert n == 200  # only the new batch is processed each round
            seen_total += n

        final = spark.read.parquet(sink)
        assert final.count() == seen_total == 600
        # exactly-once: no order_id ever appears twice
        assert final.groupBy("order_id").count().filter("count > 1").count() == 0

        # a re-run with NO new data is a no-op (idempotency)
        assert _run_round(spark, accumulated, sink) == 0


def test_replay_after_partial_failure_heals(spark):
    """Crash model: the sink write succeeded but the caller never
    learned (the reference's crash-between-commits window,
    reference: dags/order_currency_conversion_dag.py:156-157). The
    next run's anti-join sees the sunk ids and processes nothing."""
    with tempfile.TemporaryDirectory() as work:
        sink = os.path.join(work, "orders_eur")
        src = generate_orders(spark, n=100, seed=9, base_time=TS)
        assert _run_round(spark, src, sink) == 100
        # "replay" the same tick — in the reference this would need row
        # locks to avoid double-processing; here the sink IS the state
        assert _run_round(spark, src, sink) == 0
        assert spark.read.parquet(sink).count() == 100
