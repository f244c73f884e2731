"""Tracing for the benchmark: spans and counts kept in memory, plus
Spark's own job, stage and SQL-operator statistics.

Spans are recorded by the benchmark around its calls into each layer of
the package (and by wrapping a few package functions from here); the
package itself is not instrumented. Nothing is written until the run
ends (:meth:`Tracer.dump`).
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time
from collections import defaultdict


class Tracer:
    """Spans (name, start, end, parent, run id) and named counts.

    A disabled tracer records nothing; its ``span`` still yields, so
    the measured code is the same in traced and untraced runs apart
    from the recording itself."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] += value

    def wrap(self, owner, attr: str, span_name: str, before=None) -> None:
        """Record a span around every call of ``owner.attr``; ``before``
        sees the call's arguments first (to count cache hits, say).
        Undone by :meth:`unwrap_all`."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            with self.span(span_name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def durations(self, name: str, under: int | None = None) -> list[float]:
        """Durations of the spans called ``name`` that are not nested in
        another span of that name, only those inside span ``under`` if
        given."""
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            ancestors = set()
            p = s["parent"]
            while p is not None:
                ancestors.add(p)
                p = self.spans[p]["parent"]
            if any(self.spans[a]["name"] == name for a in ancestors):
                continue
            if under is None or under in ancestors:
                out.append(s["end"] - s["start"])
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"run": self.run_id, "spans": self.spans, "counts": dict(self.counts), **extra},
                fh,
            )


# --------------------------------------------------------------------------
# Spark's status stores
# --------------------------------------------------------------------------

_NUM = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")
_UNITS = {
    "": 1.0,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
_NODE = re.compile(r'label="<(?:br><)?b>(.*?)</b><br><br>(.*?)" tooltip=')

#: (SQL node-name test, metric name) -> operator metric. Times are in
#: seconds, sizes in bytes.
_OP_METRICS = (
    ("op.scan_s", lambda n: n.startswith("Scan"), "scan time"),
    ("op.scan_files", lambda n: n.startswith("Scan"), "number of files read"),
    ("op.agg_build_s", lambda n: "Aggregate" in n, "time in aggregation build"),
    ("op.sort_s", lambda n: n == "Sort", "sort time"),
    ("op.broadcast_bytes", lambda n: n == "BroadcastExchange", "data size"),
    ("op.python_rows", lambda n: "Python" in n or "InPandas" in n or "InArrow" in n,
     "number of output rows"),
)

#: Counters summed over the run; op.peak_mem_bytes is a maximum.
SPARK_COUNTERS = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.spill_bytes",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.shuffle_records",
    "exec.job_span_s",
    *(m[0] for m in _OP_METRICS),
)


def parse_metric(text: str) -> float:
    """A formatted SQL metric value (``'1,204'``, ``'3.1 s'``,
    ``'64.2 MiB'``; for per-task metrics the total line) as a number in
    seconds, bytes or rows."""
    m = _NUM.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def node_metrics(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(node name, {metric: value}) for each operator in a plan graph
    rendered by ``SparkPlanGraph.makeDotFile``."""
    out = []
    for name, body in _NODE.findall(dot):
        lines = body.split("<br>")
        metrics: dict[str, float] = {}
        i = 0
        while i < len(lines):
            line = lines[i]
            if line.endswith("total (min, med, max (stageId: taskId))") and i + 1 < len(lines):
                metrics[line.split(" total (")[0]] = parse_metric(lines[i + 1])
                i += 2
                continue
            key, sep, value = line.partition(": ")
            if sep:
                metrics[key] = parse_metric(value)
            i += 1
        out.append((name, metrics))
    return out


class SparkStats:
    """Reads, after each operation, the jobs, stages and SQL executions
    Spark recorded since the previous read, from ``AppStatusStore`` and
    the SQL status store (both kept with the UI disabled). Jobs are
    joined to the operation by its job group when one is given."""

    def __init__(self, spark):
        self._spark = spark
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self.cores = sc.defaultParallelism
        self._job_mark = self._max_job_id()
        execs = self._sql.executionsList()
        self._exec_mark = max(
            (execs.apply(i).executionId() for i in range(execs.size())), default=-1
        )

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def set_group(self, group: str) -> None:
        self._spark.sparkContext.setJobGroup(group, group)

    def collect(self, group: str | None, wall_s: float) -> dict[str, float]:
        """Statistics of the jobs and SQL executions since the last call.
        ``wall_s`` is the operation's wall time, for ``driver.gap_s``."""
        self._bus.waitUntilEmpty()
        out: dict[str, float] = defaultdict(float)
        jobs = self._store.jobsList(None)  # newest first
        intervals = []
        newest = self._job_mark
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._job_mark:
                break
            newest = max(newest, jid)
            if group is not None and job.jobGroup().getOrElse(None) != group:
                continue
            out["exec.jobs"] += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime() / 1e3, end.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                self._add_stage(int(stage_ids.apply(k)), out)
        self._job_mark = newest
        span = _union_length(intervals)
        out["exec.job_span_s"] += span
        out["driver.gap_s"] = max(wall_s - span, 0.0)
        self._add_sql(out)
        return out

    def _add_stage(self, stage_id: int, out: dict[str, float]) -> None:
        attempts = self._store.stageData(stage_id, False, None, False, self._no_quantiles)
        for a in range(attempts.size()):
            st = attempts.apply(a)
            if st.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["exec.run_s"] += st.executorRunTime() / 1e3
            out["exec.cpu_s"] += st.executorCpuTime() / 1e9
            out["exec.gc_s"] += st.jvmGcTime() / 1e3
            out["exec.spill_bytes"] += st.diskBytesSpilled()
            out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["exec.shuffle_records"] += st.shuffleWriteRecords()

    def _add_sql(self, out: dict[str, float]) -> None:
        execs = self._sql.executionsList()  # oldest first
        fresh = []
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= self._exec_mark:
                break
            fresh.append(eid)
        for eid in fresh:
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for name, metrics in node_metrics(dot):
                for key, test, metric in _OP_METRICS:
                    if metric in metrics and test(name):
                        out[key] += metrics[metric]
                if "peak memory" in metrics:
                    out["op.peak_mem_bytes"] = max(
                        out["op.peak_mem_bytes"], metrics["peak memory"]
                    )
        self._exec_mark = max(fresh, default=self._exec_mark)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total

