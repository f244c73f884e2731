"""Per-layer metrics of a traced run.

Every workload reports every name in :func:`names`; a layer the
workload does not exercise reads 0. Totals over the timed region are
divided by the workload's units (headline passes, ETL cycles), so runs
of different length compare. NOTES.md maps each metric to the
end-to-end metric and workload it should move.
"""

from __future__ import annotations

from .common import median, percentile, tail_rank
from .tracing import SPARK_COUNTERS

#: Spans the benchmark records around its calls into each layer,
#: reported per unit of the timed region.
SPAN_TOTALS = (
    ("sources.load_table_s", "sources.load_table"),
    ("plans.build_s", "plans.build"),
    ("sources.read_s", "sources.read"),
    ("streaming.publish_s", "streaming.publish"),
)

#: Per-operation values a workload computes itself, averaged per unit.
OP_LAYERS = ("driver.gap_s", "streaming.batches_per_publish", "streaming.wait_s")


def names() -> list[str]:
    from bench import HEADLINE

    from .etl import PHASES

    return [
        "session.start_s",
        "session.warmup_s",
        "state_cache.builds",
        "state_cache.hits",
        "state_cache.materialize_s",
        "sources.load_table_calls",
        *(key for key, _ in SPAN_TOTALS),
        *SPARK_COUNTERS,
        "op.peak_mem_bytes",
        "exec.idle_core_frac",
        *OP_LAYERS,
        "incremental.useful_frac",
        "sinks.files",
        "pass_s",
        "query_geomean_s",
        *(f"query.{q}_s" for q in HEADLINE),
        *PHASES.values(),
        "latency_samples",
        "latency_tail_rank",
        "latency_tail_s",
        "peak_rss_mb",
        "trace.setup_s",
        "trace.latency_p50_s",
        "trace.rows_per_s",
    ]


def compute(tracer, workload, ops, setups, measure_id: int, cores: int, rss_mb: float) -> dict:
    units = max(workload.units(ops), 1)
    out = dict.fromkeys(names(), 0.0)
    out["session.start_s"] = median(tracer.durations("session.start"))
    out["session.warmup_s"] = median(tracer.durations("session.warmup"))
    out["state_cache.builds"] = tracer.counts.get("state_cache.builds", 0.0)
    out["state_cache.hits"] = tracer.counts.get("state_cache.hits", 0.0)
    out["state_cache.materialize_s"] = sum(tracer.durations("state_cache.materialize"))
    out["sources.load_table_calls"] = len(tracer.durations("sources.load_table", measure_id)) / units
    for key, span in SPAN_TOTALS:
        out[key] = sum(tracer.durations(span, measure_id)) / units

    totals: dict[str, float] = {}
    for op in ops:
        for key, value in op.layers.items():
            if key == "op.peak_mem_bytes":
                totals[key] = max(totals.get(key, 0.0), value)
            else:
                totals[key] = totals.get(key, 0.0) + value
    for key in (*SPARK_COUNTERS, *OP_LAYERS):
        out[key] = totals.get(key, 0.0) / units
    out["op.peak_mem_bytes"] = totals.get("op.peak_mem_bytes", 0.0)
    span = totals.get("exec.job_span_s", 0.0)
    if span:
        out["exec.idle_core_frac"] = 1.0 - totals.get("exec.run_s", 0.0) / (cores * span)
    out.update(workload.layer_metrics(ops))

    latencies = [op.seconds for op in ops]
    rank = tail_rank(len(latencies))
    out["latency_samples"] = len(latencies)
    out["latency_tail_rank"] = rank
    out["latency_tail_s"] = percentile(latencies, rank)
    out["peak_rss_mb"] = rss_mb
    for key, value in {"setup_s": median(setups), **workload.metrics(ops)}.items():
        out[f"trace.{key}"] = value
    return out
