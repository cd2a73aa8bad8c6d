"""Traced runs: spans around the public calls each CLI verb makes.

Spans are recorded from this directory only, by wrapping the library's
public functions for the duration of a traced op. Each span:

- records name, start, end, parent and the op's trace id, in memory;
- counts py4j round trips (``ClientServerConnection.send_command``);
- sets its own Spark job group, so the jobs it starts can be read back
  from the status stores, which work with the UI off:
  ``statusStore().lastStageAttempt(id)`` for stage counters and the SQL
  status store for per-node metrics (Python worker bytes and time).

Stage call-site names are not used to attribute work: under AQE most
stages are named after ``CompletableFuture``, not the calling module.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

#: physical operators that run Python workers (Template, Cmd, pandas UDFs)
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInArrow", "PythonMapInArrow")

#: SQL node metric name -> span counter
_PYTHON_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "time to run Python workers": "python_worker_s",
}
_SCAN_METRICS = {"size of files read": "scan_bytes"}

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3,
               "TiB": 1024**4}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_total(text: str) -> float:
    """Total of one formatted SQL metric value, in bytes or seconds.

    A metric over several tasks reads ``"total (min, med, max ...)\\n12.3
    MiB (...)"``; over one task just ``"12.3 MiB"``."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9][0-9,.]*)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    return value


class Py4JCounter:
    """Counts py4j round trips while ``on`` is set."""

    def __init__(self):
        from py4j.clientserver import ClientServerConnection

        self.cls = ClientServerConnection
        self.orig = ClientServerConnection.send_command
        self.calls = 0
        self.on = False
        counter = self

        def send_command(conn, command, *a, **kw):
            if counter.on:
                counter.calls += 1
            return counter.orig(conn, command, *a, **kw)

        ClientServerConnection.send_command = send_command

    def close(self) -> None:
        self.cls.send_command = self.orig


class Tracer:
    """Span recorder for one run. ``patch(layer, module, attr)`` wraps a
    public function so each call becomes a span named ``layer``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.py4j = Py4JCounter()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.trace_id = None
        self.enabled = False
        self._undo: list = []
        #: the fuzzy-dedup step's (input frame, params), kept by the
        #: step's span wrapper, and the pair counts taken from it
        self.dedup_input = None
        self.dedup_result = None

    # -- spans ----------------------------------------------------------

    def _set_group(self, group: str | None) -> None:
        was, self.py4j.on = self.py4j.on, False
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)
        self.py4j.on = was

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        sp = {
            "id": len(self.spans), "name": name, "trace": self.trace_id,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{self.trace_id}-{len(self.spans)}",
        }
        self.spans.append(sp)
        self.stack.append(sp)
        self._set_group(sp["group"])
        calls0 = self.py4j.calls
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["py4j_calls"] = self.py4j.calls - calls0
            self.stack.pop()
            self._set_group(parent["group"] if parent else None)

    @contextmanager
    def op(self, trace_id: str, name: str):
        """One traced op: the root span of a trace."""
        self.trace_id = trace_id
        self.enabled = True
        self.py4j.on = True
        try:
            with self.span(name) as sp:
                yield sp
        finally:
            self.py4j.on = False
            self.enabled = False

    def patch(self, layer: str, owner, attr: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(layer):
                return orig(*a, **kw)

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self.on_close(lambda: setattr(owner, attr, orig))

    def on_close(self, undo) -> None:
        self._undo.append(undo)

    def close(self) -> None:
        while self._undo:
            self._undo.pop()()
        self.py4j.close()

    # -- reading counters back -------------------------------------------

    def trace_spans(self, trace_id: str) -> list[dict]:
        return [s for s in self.spans if s["trace"] == trace_id]

    def collect(self, trace_id: str) -> None:
        """Attach job, stage and SQL-node counters to each span of a
        trace. Runs after the op, outside its timed region."""
        spans = self.trace_spans(trace_id)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for sp in spans:
            jobs = list(tracker.getJobIdsForGroup(sp["group"]))
            stages = []
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                stages.extend(info.stageIds if info else [])
            sp.update(jobs=len(jobs), tasks=0, task_failures=0,
                      task_run_s=0.0, task_cpu_s=0.0,
                      shuffle_write_bytes=0, spill_bytes=0,
                      output_bytes=0, stage_intervals=[])
            for sid in set(stages):
                try:
                    sd = store.lastStageAttempt(int(sid))
                except Exception:  # skipped stages have no attempt
                    continue
                sp["tasks"] += sd.numCompleteTasks()
                sp["task_failures"] += sd.numFailedTasks()
                sp["task_run_s"] += sd.executorRunTime() / 1e3
                sp["task_cpu_s"] += sd.executorCpuTime() / 1e9
                sp["output_bytes"] += sd.outputBytes()
                sp["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                sp["spill_bytes"] += (sd.memoryBytesSpilled()
                                      + sd.diskBytesSpilled())
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    sp["stage_intervals"].append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        self._sql_node_metrics(spans)
        self._self_times(spans)

    def _sql_node_metrics(self, spans: list[dict]) -> None:
        """Per-node metrics from the SQL status store, matched to a span
        on the execution's description (the span's job group): bytes and
        run time of Python workers, and file bytes read by parquet scans."""
        by_group = {s["group"]: s for s in spans}
        for s in spans:
            s.update(python_bytes_sent=0.0, python_bytes_returned=0.0,
                     python_worker_s=0.0, scan_bytes=0.0)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            sp = by_group.get(ex.description())
            if sp is None:
                continue
            eid = ex.executionId()
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                if name.startswith(PYTHON_NODES):
                    wanted = _PYTHON_METRICS
                elif name.startswith("Scan parquet"):
                    wanted = _SCAN_METRICS
                else:
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = wanted.get(m.name())
                    if key and values.contains(m.accumulatorId()):
                        sp[key] += _metric_total(values.apply(m.accumulatorId()))

    @staticmethod
    def _self_times(spans: list[dict]) -> None:
        """Self time = duration minus the part its child spans cover;
        driver time = duration with no stage of the span's own jobs
        running (stage times are epoch seconds, spans perf_counter)."""
        offset = time.time() - time.perf_counter()
        for sp in spans:
            dur = sp["end"] - sp["start"]
            kids = [c for c in spans if c["parent"] == sp["id"]]
            sp["duration_s"] = dur
            sp["self_s"] = dur - sum(c["end"] - c["start"] for c in kids)
            sp["self_py4j_calls"] = sp["py4j_calls"] - sum(
                c["py4j_calls"] for c in kids)
            lo, hi = sp["start"] + offset, sp["end"] + offset
            busy, edge = 0.0, lo
            for a, b in sorted(sp["stage_intervals"]):
                a, b = max(a, edge), min(b, hi)
                if b > a:
                    busy += b - a
                    edge = b
            sp["stage_busy_s"] = busy
            sp["driver_s"] = max(0.0, sp["self_s"] - busy)
            del sp["stage_intervals"]
