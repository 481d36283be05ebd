"""Traced mode: spans around the calls into each package module, plus
per-operation Spark job, stage and Catalyst numbers.

Spans are recorded from the benchmark's own files only: ``Tracer.wrap``
replaces a module or class attribute with a timing wrapper, on the binding
the caller actually uses (``__spark_entry__`` binds ``tune`` and
``load_table`` by name, ``plans.levels`` binds ``read_toa5`` by name).
Each operation runs under its own Spark job group; after it, the tracer
drains the listener bus and reads the jobs of that group from the status
tracker and the status store.  Catalyst phase times come from a
``QueryExecutionListener`` (a py4j callback) on every action the
operation ran.  Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# per-layer metric -> (span name, what to take); spans are named after modules
SPAN_METRICS = {
    "session.tune_calls": ("session.tune", "count"),
    "session.tune_s": ("session.tune", "time"),
    "sources.tables.load_calls": ("sources.tables.load", "count"),
    "sources.tables.load_s": ("sources.tables.load", "time"),
    "sources.toa5.read_s": ("sources.toa5.read", "time"),
    "levels.l0_l1_build_s": ("levels.l0_l1_build", "time"),
    "levels.l0_l1_build_jobs": ("levels.l0_l1_build", "jobs"),
    "levels.l1_load_s": ("levels.l1_load", "time"),
    "levels.l1_l2_build_s": ("levels.l1_l2_build", "time"),
    "levels.l1_l2_build_jobs": ("levels.l1_l2_build", "jobs"),
    "sinks.l1_csv_s": ("sinks.l1_csv", "time"),
    "sinks.l2_csv_s": ("sinks.l2_csv", "time"),
    "sinks.netcdf_s": ("sinks.netcdf", "time"),
    "netcdf3.write_s": ("netcdf3.write", "time"),
    "query.build_s": ("query.build", "time"),
    "query.build_jobs": ("query.build", "jobs"),
    "query.exec_s": ("query.exec", "time"),
}
OP_METRICS = (
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_s", "driver.gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.python_mb",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.gc_s", "spark.spill_mb",
)
UNITS = {"count": "count", "time": "s", "jobs": "count"}
MB = 1024.0 * 1024.0
_PY_METRIC_RE = re.compile(
    r"SQLPlanMetric\((?:data sent to Python workers|data returned from Python workers),(\d+),"
)
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def metric_units() -> dict[str, str]:
    out = {k: UNITS[kind] for k, (_, kind) in SPAN_METRICS.items()}
    for k in OP_METRICS:
        out[k] = "count" if k in ("spark.jobs", "spark.stages", "spark.tasks") else (
            "MB" if k.endswith("_mb") else "s")
    out["traced.steady_s"] = "s"
    out["jvm.old_gen_peak_mb"] = "MB"
    return out


class Tracer:
    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: dict[str, dict] = {}
        self._stack: list[int] = []
        self._op: str | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self._phases: dict[str, dict] = {}
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PhaseListener(self)
        spark._jsparkSession.listenerManager().register(self._listener)

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent, "op": self._op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        """Undo the wrappers and unregister the listener."""
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        self.spark._jsparkSession.listenerManager().unregister(self._listener)

    # -- operations ------------------------------------------------------------
    @contextmanager
    def operation(self, op_id: str):
        """Run one operation under job group ``op_id``, then read its jobs,
        stages and Catalyst phases."""
        self._op = op_id
        self.sc.setJobGroup(op_id, op_id)
        first_execution = self._sql_store().executionsCount()
        t0 = time.time()
        try:
            with self.span("operation"):
                yield
        finally:
            wall = time.time() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            # phases of this operation's actions arrive while the bus drains
            rec = self._spark_side(op_id, wall, first_execution)
            self._op = None
        with self._lock:
            phases = self._phases.pop(op_id, {})
        phases.pop("seen", None)
        rec.update(phases)
        self.ops[op_id] = rec

    def note_frame(self, df) -> None:
        """Count a built DataFrame's analysis phase (done eagerly when it was
        built, so a write's own query execution does not repeat it)."""
        self.on_query(df._jdf.queryExecution())

    def on_query(self, qe) -> None:
        """Listener callback: add one executed query's Catalyst phases to
        the current operation (a query seen twice counts once)."""
        op = self._op
        if op is None:
            return
        phases = qe.tracker().phases()
        times = {}
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            if p.isDefined():
                times[f"catalyst.{phase}_s"] = p.get().durationMs() / 1000.0
        with self._lock:
            acc = self._phases.setdefault(op, {"seen": set()})
            if qe.hashCode() in acc["seen"]:
                return
            acc["seen"].add(qe.hashCode())
            for k, v in times.items():
                acc[k] = acc.get(k, 0.0) + v

    def _spark_side(self, op_id: str, wall: float, first_execution: int) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        rec = defaultdict(float)
        intervals, stage_ids, job_ids = [], set(), []
        for jid in self.sc.statusTracker().getJobIdsForGroup(op_id):
            job = store.job(jid)
            job_ids.append(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                a, b = sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0
                intervals.append((a, b))
                rec["spark.job_s"] += b - a
            rec["spark.jobs"] += 1
            rec["spark.stages"] += job.numCompletedStages()
            rec["spark.tasks"] += job.numCompletedTasks()
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            rec["spark.executor_run_s"] += st.executorRunTime() / 1000.0
            rec["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            rec["spark.gc_s"] += st.jvmGcTime() / 1000.0
            rec["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            rec["spark.shuffle_read_mb"] += st.shuffleReadBytes() / MB
            rec["spark.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        rec["spark.python_mb"] = self._python_bytes(set(job_ids), first_execution) / MB
        covered, end = 0.0, None
        for a, b in sorted(intervals):
            if end is None or a > end:
                covered += b - a
                end = b
            elif b > end:
                covered += b - end
                end = b
        rec["driver.gap_s"] = max(0.0, wall - covered)
        rec["intervals"] = intervals
        return dict(rec)

    def _python_bytes(self, job_ids: set[int], first_execution: int) -> float:
        """Bytes sent to and returned from Python workers, from the SQL
        metrics of the executions that ran this operation's jobs."""
        sql_store = self._sql_store()
        n = sql_store.executionsCount()
        if not job_ids or n <= first_execution:
            return 0.0
        recent = sql_store.executionsList(first_execution, n - first_execution)
        total = 0.0
        for i in range(recent.size()):
            ex = recent.apply(i)
            ran = {int(j) for j in ex.jobs().keys().mkString(",").split(",") if j}
            if not ran & job_ids:
                continue
            # one round trip: "SQLPlanMetric(name,accumulatorId,type)" per metric
            wanted = [int(acc) for acc in _PY_METRIC_RE.findall(ex.metrics().mkString("\n"))]
            if not wanted:
                continue
            values = sql_store.executionMetrics(ex.executionId())
            for acc in wanted:
                v = values.get(acc)
                if v.isDefined():
                    total += _parse_size(v.get())
        return total

    def old_gen_peak_mb(self) -> float:
        """Peak used size of the JVM's old generation over the run: unlike
        resident memory, it moves with the data the driver keeps below the
        fixed heap size (eden is cycled through whatever it holds)."""
        pools = self.sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        for i in range(pools.size()):
            pool = pools.get(i)
            if pool.getName() in ("G1 Old Gen", "PS Old Gen", "Tenured Gen"):
                return pool.getPeakUsage().getUsed() / MB
        return 0.0

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    # -- results ---------------------------------------------------------------
    def layer_metrics(self, op_ids: list[str], passes: int) -> dict[str, float]:
        """Per-pass averages of every per-layer metric over ``op_ids``."""
        ops = set(op_ids)
        out = {k: 0.0 for k in list(SPAN_METRICS) + list(OP_METRICS)}
        for key, (name, kind) in SPAN_METRICS.items():
            for s in self.spans:
                if s["name"] != name or s["op"] not in ops:
                    continue
                if kind == "count":
                    out[key] += 1
                elif kind == "time":
                    out[key] += s["end"] - s["start"]
                else:
                    out[key] += sum(
                        1 for a, _ in self.ops[s["op"]]["intervals"] if s["start"] <= a <= s["end"]
                    )
        for op in ops:
            for key in OP_METRICS:
                out[key] += self.ops[op].get(key, 0.0)
        return {k: v / passes for k, v in out.items()}

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines, each Spark job as one more span
        (``spark.job``, parent: its operation's span)."""
        op_span = {s["op"]: i for i, s in enumerate(self.spans) if s["name"] == "operation"}
        jobs = [
            {"name": "spark.job", "start": a, "end": b, "parent": op_span.get(op), "op": op}
            for op, rec in self.ops.items()
            for a, b in rec["intervals"]
        ]
        with open(path, "w") as f:
            for s in self.spans + jobs:
                f.write(json.dumps(s) + "\n")


class _PhaseListener:
    """py4j implementation of Spark's QueryExecutionListener."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802, N803
        self.tracer.on_query(qe)

    def onFailure(self, funcName, qe, exception):  # noqa: N802, N803
        self.tracer.on_query(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _parse_size(text: str) -> float:
    """Total of a Spark size metric string ("total (min, med, max ...)\\n
    1.5 MiB (...)" or a bare "1.5 MiB")."""
    lines = text.strip().splitlines()
    m = re.match(r"\s*([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)", lines[-1] if lines else "")
    return float(m.group(1)) * _SIZE[m.group(2)] if m else 0.0
