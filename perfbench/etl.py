"""Workload ``etl_drain``: the paper's hourly dataflow, cycle after
cycle, with its conversion served by one long-lived
``streaming.drain.QueueDrainSession``.

Each cycle lands a new batch of source orders as a parquet file in the
source directory, reads the source with ``spark.read.parquet`` and the
sink with the session's ``result_df()``, publishes
``unprocessed(source, sink)`` of the orders not yet stamped
``processed_at`` as one queue segment with ``file_queue.queue_append``,
and blocks in ``wait_caught_up()`` until the session, whose transform
is ``convert_orders`` against the broadcast rates, has committed that
segment to the sink. The sink grows while it is read, and the
anti-join rescans the whole history every cycle.

An epoch is one drain session from an empty source and sink: its first
batch lands and is published whole, the session starts and drains it
(untimed), then ``CYCLES`` timed cycles follow. Whole epochs repeat
until the run's time is spent, at least ``MIN_EPOCHS``, so every run
sees the same history sizes equally often. One operation is one cycle.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

import duckdb

from . import gen
from .common import Context, Op, median

#: Cycles per epoch after its first batch, and orders landed per cycle.
CYCLES = 6
ROWS_PER_CYCLE = 20_000
#: Untimed epochs before the timed ones, and the fewest timed.
WARM_EPOCHS = 1
MIN_EPOCHS = 2
#: The conversion time stamped on every converted row.
CONVERSION_TIME = dt.datetime(2026, 1, 1)

#: StreamingQueryProgress.durationMs phases reported per batch.
PHASES = {
    "latestOffset": "streaming.latest_offset_ms",
    "getBatch": "streaming.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "triggerExecution": "streaming.trigger_ms",
}


def conversion_oracle(src_glob: str) -> str:
    """DuckDB SQL converting the eligible source rows, written from the
    paper's rules: EUR passes through, a missing rate counts as 1.0,
    the quotient is computed in DOUBLE and cast to DECIMAL(12,2)."""
    from orders_currency_conversion_etl_spark.sources.rates import rates_sql_values

    return f"""
        SELECT src.order_id,
               CASE WHEN src.currency = 'EUR' THEN src.amount
                    ELSE CAST(CAST(src.amount AS DOUBLE) / COALESCE(rates.rate, 1.0)
                              AS DECIMAL(12,2)) END AS amount_eur
        FROM read_parquet('{src_glob}') AS src
        LEFT JOIN {rates_sql_values()} ON src.currency = rates.currency
        WHERE src.processed_at IS NULL
    """


def compare_with_oracle(expected_sql: str, sink_glob: str) -> list[str]:
    """Differences between the sink and the oracle's rows: missing,
    extra or duplicated ``order_id``s, per-row ``amount_eur``
    mismatches and the two ``sum(amount_eur)``s."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW expected AS {expected_sql}")
        con.execute(f"CREATE VIEW sink AS SELECT * FROM read_parquet('{sink_glob}')")
        (n_sink, n_ids, missing, extra, wrong, sum_sink, sum_exp) = con.execute(
            """
            SELECT (SELECT count(*) FROM sink),
                   (SELECT count(DISTINCT order_id) FROM sink),
                   (SELECT count(*) FROM (SELECT order_id FROM expected
                                          EXCEPT SELECT order_id FROM sink)),
                   (SELECT count(*) FROM (SELECT order_id FROM sink
                                          EXCEPT SELECT order_id FROM expected)),
                   (SELECT count(*) FROM sink JOIN expected USING (order_id)
                     WHERE sink.amount_eur IS DISTINCT FROM expected.amount_eur),
                   (SELECT sum(amount_eur) FROM sink),
                   (SELECT sum(amount_eur) FROM expected)
            """
        ).fetchone()
    finally:
        con.close()
    problems = []
    if n_sink != n_ids:
        problems.append(f"{n_sink - n_ids} duplicate order_id rows")
    if missing or extra:
        problems.append(f"{missing} published rows missing, {extra} unexpected rows")
    if wrong:
        problems.append(f"{wrong} rows with a wrong amount_eur")
    if sum_sink != sum_exp:
        problems.append(f"sum(amount_eur) {sum_sink} != {sum_exp}")
    return problems


class EtlDrain:
    name = "etl_drain"
    #: Session set-ups per run (see ``Headline.setup_reps``); each starts
    #: a drain session, seconds long.
    setup_reps = 3

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.stream = gen.OrderStream(ctx.seed)
        self.problems: list[str] = []
        self.useful_rows = 0
        self.scanned_rows = 0
        self.sink_files: list[int] = []
        self.batches: list[dict] = []
        self.session = None
        self._epochs = 0
        self._base = ""
        self._landed = 0
        self._history = 0
        self._seen_batch = -1

    def prepare(self) -> None:
        pass

    def setup(self, spark) -> None:
        """The rates table every micro-batch broadcasts, and a drain
        session started on the first batch of an epoch: set-up ends with
        the session's first micro-batch committed."""
        from orders_currency_conversion_etl_spark.sources.rates import rates_df

        rates_df(spark)
        self._open_epoch(spark)

    def warmup(self, spark) -> None:
        """Untimed epochs: the first cycles in a JVM take several times
        longer than later ones, and cycles keep getting faster for a
        while as the driver's JIT compiles."""
        for _ in range(WARM_EPOCHS):
            self._epoch(spark)

    def run(self, spark) -> list[Op]:
        ops: list[Op] = []
        deadline = time.perf_counter() + self.ctx.seconds
        while len(ops) < MIN_EPOCHS * CYCLES or time.perf_counter() < deadline:
            ops.extend(self._epoch(spark, self.ctx.stats, timed=True))
        if self.problems:
            for op in ops:
                op.ok = False
        return ops

    def _epoch(self, spark, stats=None, timed: bool = False) -> list[Op]:
        """``CYCLES`` cycles of the open epoch (a new one when none is
        open); then the epoch is closed and its sink checked."""
        if self.session is None:
            self._open_epoch(spark)
        if stats is not None:
            # drop the jobs and batches of the epoch's untimed start
            stats.collect(None, 0.0)
            self._new_progress(spark, keep=False)
        ops = [self._cycle(spark, stats, timed) for _ in range(CYCLES)]
        if timed:
            self.sink_files.append(self._sink_files())
        self._close_epoch()
        return ops

    def _path(self, *parts: str) -> str:
        return os.path.join(self._base, *parts)

    def _land(self):
        """Write the next batch into the source; returns it."""
        batch = self.stream.batch(ROWS_PER_CYCLE)
        gen.write_table(batch, self._path("src", f"batch-{self._landed:05d}.parquet"))
        self._landed += 1
        self._history += batch.num_rows
        return batch

    def _open_epoch(self, spark) -> None:
        """Empty source, queue and sink; land the first batch, publish
        it whole, start a drain session on it and wait until drained."""
        from pyspark.sql import functions as F

        from orders_currency_conversion_etl_spark import schemas
        from orders_currency_conversion_etl_spark.operators.convert import convert_orders
        from orders_currency_conversion_etl_spark.sources.rates import rates_df
        from orders_currency_conversion_etl_spark.streaming.drain import QueueDrainSession
        from orders_currency_conversion_etl_spark.streaming.file_queue import queue_append

        self._base = self.ctx.path("etl", f"epoch{self._epochs}")
        self._epochs += 1
        os.makedirs(self._path("src"))
        self._landed = self._history = 0
        self._seen_batch = -1
        self._land()
        source = spark.read.parquet(self._path("src"))
        queue_append(source.filter(F.col("processed_at").isNull()), self._path("queue"), 0)
        rates = rates_df(spark)
        self.session = QueueDrainSession(
            spark,
            self._path("queue"),
            schemas.ORDERS_SRC,
            self._path("drain"),
            transform=lambda stream: convert_orders(stream, rates, CONVERSION_TIME),
        )
        self.session.wait_caught_up()

    def _close_epoch(self) -> None:
        """Stop the session, check its sink against the source, and
        remove the epoch's files."""
        self.session.stop()
        self.session = None
        with self.ctx.tracer.span("check"):
            problems = compare_with_oracle(
                conversion_oracle(self._path("src", "*.parquet")),
                self._path("drain", "out", "batch=*", "*.parquet"),
            )
        if problems:
            print(f"etl_drain epoch {self._epochs - 1} check failed: {problems}", flush=True)
            self.problems.extend(problems)
        shutil.rmtree(self._base)

    def _sink_files(self) -> int:
        out = self._path("drain", "out")
        return sum(
            f.endswith(".parquet") for d in os.listdir(out) for f in os.listdir(os.path.join(out, d))
        )

    def _cycle(self, spark, stats, timed: bool) -> Op:
        """Land one batch, publish what is unprocessed, wait until the
        sink holds it."""
        from pyspark.sql import functions as F

        from orders_currency_conversion_etl_spark.operators.incremental import unprocessed
        from orders_currency_conversion_etl_spark.streaming.file_queue import queue_append

        tracer = self.ctx.tracer
        with tracer.span("cycle"):
            t0 = time.perf_counter()
            with tracer.span("land"):
                batch = self._land()
            landed = time.perf_counter()
            with tracer.span("sources.read"):
                source = spark.read.parquet(self._path("src"))
                sink = self.session.result_df()
            with tracer.span("plans.build"):
                fresh = unprocessed(source, sink, watermark=F.col("processed_at").isNull())
            with tracer.span("streaming.publish"):
                queue_append(fresh, self._path("queue"), 0)
            published = time.perf_counter()
            with tracer.span("streaming.wait_caught_up"):
                self.session.wait_caught_up()
            done = time.perf_counter()
        eligible = batch.column("processed_at").null_count
        op = Op("cycle", done - landed, rows=eligible)
        op.layers = {"wall_s": done - t0}
        if timed:
            self.useful_rows += eligible
            self.scanned_rows += self._history
        if stats is not None:
            op.layers.update(stats.collect(None, done - t0))
            data = [b for b in self._new_progress(spark, keep=True) if b["numInputRows"] > 0]
            trigger_s = sum(b["durationMs"].get("triggerExecution", 0) for b in data) / 1e3
            op.layers["streaming.batches_per_publish"] = len(data)
            op.layers["streaming.wait_s"] = max(done - published - trigger_s, 0.0)
        return op

    def _new_progress(self, spark, keep: bool) -> list[dict]:
        """Progress of the micro-batches completed since the last call,
        kept for the per-batch medians if ``keep``."""
        query = spark.streams.active[0]
        fresh = [p for p in query.recentProgress if p.batchId > self._seen_batch]
        if fresh:
            self._seen_batch = max(p.batchId for p in fresh)
        out = [{"durationMs": dict(p.durationMs), "numInputRows": p.numInputRows} for p in fresh]
        if keep:
            self.batches.extend(out)
        return out

    def metrics(self, ops: list[Op]) -> dict[str, float]:
        return {
            "latency_p50_s": median([op.seconds for op in ops]),
            # landed rows per second of cycle wall time (landing included)
            "rows_per_s": median([op.rows / op.layers["wall_s"] for op in ops]),
        }

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        data = [b for b in self.batches if b["numInputRows"] > 0]
        out = {
            key: median([b["durationMs"].get(phase, 0) for b in data]) if data else 0.0
            for phase, key in PHASES.items()
        }
        out["incremental.useful_frac"] = self.useful_rows / self.scanned_rows
        out["sinks.files"] = median(self.sink_files)
        return out

    def units(self, ops: list[Op]) -> int:
        """Cycles run: per-layer totals are reported per cycle."""
        return len(ops)

    def teardown(self) -> None:
        if self.session is not None:
            self._close_epoch()
