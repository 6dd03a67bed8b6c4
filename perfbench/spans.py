"""Tracing for the benchmark's traced runs: spans, self time, and the Spark
event-log and listener readers that give per-layer counts.

Spans are recorded by the benchmark around its calls into each layer
(run -> workload -> key or load -> build / exec / verify), kept in memory and
written out when the run ends. None of this is active in an untraced run.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict


class Tracer:
    """In-memory span recorder. ``span()`` nests by call structure;
    ``add()`` records a span measured elsewhere (e.g. a Catalyst phase
    reported by Spark) under an explicit parent."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id, attrs)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: Span, **attrs) -> Span:
        s = Span(len(self.spans), name, start, end, parent.sid, self.run_id, attrs)
        self.spans.append(s)
        return s

    def to_json(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {"id": s.sid, "name": s.name, "start": round(s.start - t0, 6),
             "end": round(s.end - t0, 6), "parent": s.parent,
             "run_id": s.run_id, **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


def covered(interval: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Length of the part of ``interval`` covered by the union of
    ``children`` (each clipped to the interval)."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in children if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.sid: (s.end - s.start) - covered((s.start, s.end), kids[s.sid])
            for s in spans}


# --- Spark event log -------------------------------------------------------

def read_event_log(paths: list[str]) -> dict[str, dict]:
    """Aggregate an uncompressed Spark event log, given as its files in
    order, by job group.

    Returns, per ``spark.jobGroup.id`` (``""`` for jobs with none): jobs,
    stages, tasks, summed job wall (submission to completion), executor run
    and CPU time, GC time, shuffle read/write bytes, spill bytes, bytes
    written by output tasks, and the critical-path task time: the sum over
    the group's stages of the longest task in each stage.
    """
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    stage_max_task: dict[int, float] = defaultdict(float)
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"]
            groups[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                groups[job_group[jid]]["job_s"] += (
                    ev["Completion Time"] - job_start[jid]) / 1e3
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            groups[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = groups[stage_group.get(sid, "")]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
            stage_max_task[sid] = max(stage_max_task[sid], dur)
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            g["tasks"] += 1
            g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for sid, longest in stage_max_task.items():
        groups[stage_group.get(sid, "")]["critical_task_s"] += longest
    return {g: dict(v) for g, v in groups.items()}


def _events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


# --- listeners over the py4j callback server ---------------------------------

class QueryPhases:
    """``QueryExecutionListener`` implemented in Python: records, per
    finished query, its name and the Catalyst phase durations Spark's
    ``QueryPlanningTracker`` measured."""

    def __init__(self):
        self.events: list[tuple[str, float, dict[str, float]]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        phases = qe.tracker().phases()
        got = {p: phases.get(p).get().durationMs() / 1e3
               for p in ("analysis", "optimization", "planning") if phases.contains(p)}
        self.events.append((func_name, duration_ns / 1e9, got))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self.events.append((func_name, 0.0, {}))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_query_phases(spark) -> QueryPhases:
    from pyspark.java_gateway import ensure_callback_server_started

    gw = spark.sparkContext._gateway
    ensure_callback_server_started(gw)
    listener = QueryPhases()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def drain_listener_bus(spark) -> None:
    """Block until Spark has delivered every posted listener event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def make_stream_listener():
    """A ``StreamingQueryListener`` collecting (run id, batch id, trigger
    duration seconds, input rows) per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Batches(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[str, int, float, int]] = []

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            if p.numInputRows:
                self.batches.append((str(p.runId), p.batchId,
                                     p.durationMs.get("triggerExecution", 0) / 1e3,
                                     p.numInputRows))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return _Batches()
