"""Per-query layer attribution from Spark's JSON event log.

The benchmark runs one query at a time, so every job, stage, task and
streaming progress event whose start falls inside a query's wall
interval belongs to that query. This includes jobs that
``run_overlapped`` starts on its own threads, whatever job group they
carry. Spark writes the event log with the driver clock, the same clock
``time.time()`` reads, so the intervals compare directly.

Layers are named after the repository's modules, or after the Spark
component that stands in for the vega module of that name:

- ``registry``: plan construction, the call ``QUERIES[name](spark, dir)``
- ``catalyst``: the ``QueryPlanningTracker`` phases of the executed plan
- ``scheduler``: jobs, stages, tasks and the driver time outside jobs
- ``exec``: task run, CPU, GC and deserialize time, slot use
- ``shuffle`` and ``spill``: shuffle bytes and times, spilled bytes
- ``scan``: file bytes the scans read, records they produced
- ``python``: the Arrow/Python worker boundary (SQL metrics)
- ``streaming``: micro-batch progress and state-store commits
- ``output``: bytes and records written by sinks
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
}

# Per-execution sums; each is averaged over executions in the summary.
SUMMED = [
    ("registry.build_s", "s"), ("registry.build_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.driver_gap_s", "s"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.deserialize_s", "s"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.write_s", "s"), ("shuffle.fetch_wait_s", "s"),
    ("spill.memory_bytes", "bytes"), ("spill.disk_bytes", "bytes"),
    ("scan.bytes_read", "bytes"), ("scan.records_read", "count"),
    ("python.bytes_sent", "bytes"), ("python.bytes_returned", "bytes"),
    ("python.run_s", "s"), ("python.start_s", "s"),
    ("streaming.batches", "count"), ("streaming.trigger_s", "s"),
    ("streaming.add_batch_s", "s"), ("streaming.commit_s", "s"),
    ("streaming.state_commit_s", "s"), ("streaming.query_planning_s", "s"),
    ("output.bytes_written", "bytes"), ("output.records_written", "count"),
]
# Ratios of sums over the whole workload.
RATIOS = [
    ("exec.slot_util", "ratio"), ("scan.records_per_result_row", "ratio"),
    ("output.bytes_per_input_byte", "ratio"),
    ("trace.unattributed_share", "ratio"),
]
UNITS = dict(SUMMED + RATIOS)


class EventLog:
    """Spark's own JSON event logger, attached to a live session only
    while traced work runs, so one session can alternate untraced and
    traced passes. The file is plain JSON lines, one file per run."""

    def __init__(self, spark, log_dir: str):
        os.makedirs(log_dir, exist_ok=True)
        self.log_dir = log_dir
        self._sc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        conf = (self._sc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._sc.applicationId(), jvm.scala.Option.empty(),
            jvm.java.net.URI(f"file://{os.path.abspath(log_dir)}"), conf,
            self._sc.hadoopConfiguration())
        self._listener.start()

    def attach(self):
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.addSparkListener(self._listener)

    def detach(self):
        # deliver the traced work's events before the logger goes
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._listener)

    def close(self) -> str:
        """Flush and close the log; returns its path."""
        self._listener.stop()
        [name] = os.listdir(self.log_dir)
        return os.path.join(self.log_dir, name)


def _iso_ms(stamp: str) -> float:
    t = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=timezone.utc).timestamp() * 1000


def _union_ms(intervals, lo, hi) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class _Owner:
    """Maps an event time to the execution whose interval holds it."""

    def __init__(self, executions):
        self.spans = sorted((e["t0_ms"], e["t1_ms"], i)
                            for i, e in enumerate(executions))

    def __call__(self, t_ms):
        for a, b, i in self.spans:
            if a <= t_ms <= b:
                return i
        return None


def attribute(event_log: str, executions: list[dict], cores: int) -> list[dict]:
    """One row per execution with every layer metric.

    Each execution carries ``query``, ``t0_ms`` (call start),
    ``tb_ms`` (plan built), ``t1_ms`` (count returned), ``rows`` and
    the three ``catalyst.*`` phase times in seconds."""
    owner = _Owner(executions)
    rows = [dict.fromkeys(UNITS, 0.0) for _ in executions]
    for row, e in zip(rows, executions):
        row.update({k: e[k] for k in ("query", "rows", "catalyst.analysis_s",
                                      "catalyst.optimization_s",
                                      "catalyst.planning_s")})
        row["wall_s"] = (e["t1_ms"] - e["t0_ms"]) / 1000
        row["registry.build_s"] = (e["tb_ms"] - e["t0_ms"]) / 1000
    jobs = [[] for _ in executions]
    job_open = {}
    sql_owner = {}  # SQL execution id -> execution index
    metric_names = {}  # SQL metric accumulator id -> name
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                i = owner(ev["Submission Time"])
                if i is not None:
                    job_open[ev["Job ID"]] = (i, ev["Submission Time"])
                    rows[i]["scheduler.jobs"] += 1
                    if ev["Submission Time"] <= executions[i]["tb_ms"]:
                        rows[i]["registry.build_jobs"] += 1
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_open:
                i, start = job_open.pop(ev["Job ID"])
                jobs[i].append((start, ev["Completion Time"]))
            elif kind == "SparkListenerStageCompleted":
                i = owner(ev["Stage Info"].get("Submission Time", -1))
                if i is not None:
                    rows[i]["scheduler.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                i = owner(ev["Task Info"]["Launch Time"])
                if i is not None:
                    _add_task(rows[i], ev)
            elif kind.endswith("SQLExecutionStart"):
                sql_owner[ev["executionId"]] = owner(ev["time"])
                _metric_names(ev["sparkPlanInfo"], metric_names)
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                _metric_names(ev["sparkPlanInfo"], metric_names)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                i = sql_owner.get(ev["executionId"])
                if i is not None:
                    # the parquet reader reports almost no task input
                    # bytes, so scan bytes come from the scan node
                    rows[i]["scan.bytes_read"] += sum(
                        v for acc, v in ev["accumUpdates"]
                        if metric_names.get(acc) == "size of files read")
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                p = ev["progress"]
                i = owner(_iso_ms(p["timestamp"]))
                if i is not None:
                    _add_progress(rows[i], p)
    for row, e, spans in zip(rows, executions, jobs):
        busy = _union_ms(spans, e["t0_ms"], e["t1_ms"]) / 1000
        build_busy = _union_ms(spans, e["t0_ms"], e["tb_ms"]) / 1000
        catalyst = (row["catalyst.analysis_s"] + row["catalyst.optimization_s"]
                    + row["catalyst.planning_s"])
        row["job_busy_s"] = busy
        row["scheduler.driver_gap_s"] = row["wall_s"] - busy
        # driver time that neither plan construction nor Catalyst explains
        row["unattributed_s"] = max(0.0, row["scheduler.driver_gap_s"] - catalyst
                                    - (row["registry.build_s"] - build_busy))
        _ratios(row, [row], cores)
    return rows


def _add_task(row, ev):
    m = ev.get("Task Metrics") or {}
    row["scheduler.tasks"] += 1
    row["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    row["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    row["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
    row["exec.deserialize_s"] += m.get("Executor Deserialize Time", 0) / 1e3
    sw = m.get("Shuffle Write Metrics", {})
    row["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    row["shuffle.write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
    sr = m.get("Shuffle Read Metrics", {})
    row["shuffle.read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
    row["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    row["spill.memory_bytes"] += m.get("Memory Bytes Spilled", 0)
    row["spill.disk_bytes"] += m.get("Disk Bytes Spilled", 0)
    row["scan.records_read"] += m.get("Input Metrics", {}).get("Records Read", 0)
    out = m.get("Output Metrics", {})
    row["output.bytes_written"] += out.get("Bytes Written", 0)
    row["output.records_written"] += out.get("Records Written", 0)
    for acc in ev["Task Info"].get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is not None:
            # the two times are "timing" SQL metrics, kept in ms
            scale = 1e3 if key.endswith("_s") else 1
            row[key] += float(acc.get("Update", 0)) / scale


def _metric_names(plan: dict, out: dict):
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _metric_names(child, out)


def _add_progress(row, p):
    d = p.get("durationMs", {})
    row["streaming.batches"] += 1
    row["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
    row["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
    row["streaming.commit_s"] += (d.get("commitOffsets", 0)
                                  + d.get("walCommit", 0)) / 1e3
    row["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
    row["streaming.state_commit_s"] += sum(
        op.get("commitTimeMs", 0) for op in p.get("stateOperators", [])) / 1e3


def _ratios(out, rows, cores):
    def total(key):
        return sum(r[key] for r in rows)

    def share(num, den):
        return num / den if den > 0 else 0.0

    out["exec.slot_util"] = share(total("exec.task_run_s"),
                                  total("job_busy_s") * cores)
    out["scan.records_per_result_row"] = share(
        total("scan.records_read"), sum(max(r["rows"], 1) for r in rows))
    out["output.bytes_per_input_byte"] = share(total("output.bytes_written"),
                                               total("scan.bytes_read"))
    out["trace.unattributed_share"] = share(total("unattributed_s"),
                                            total("wall_s"))


def summarize(rows: list[dict], cores: int) -> dict[str, float]:
    """Workload-level per-layer metrics: sums are per-execution means,
    ratios are taken over the summed numerators and denominators."""
    n = max(len(rows), 1)
    out = {k: sum(r[k] for r in rows) / n for k, _ in SUMMED}
    _ratios(out, rows, cores)
    return out
