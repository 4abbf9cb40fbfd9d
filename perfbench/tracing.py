"""Tracing from outside the program: spans around calls into its public
functions, Spark's own event log, and streaming progress events.

Spans are kept in memory as (name, start, end, parent, run id) and written
when the run ends. A span's self time is its duration minus the part of it
that its children cover.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``span()`` nests through a stack, ``add()`` records a
    span whose times were measured elsewhere (event log, progress)."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._sc = spark.sparkContext if spark is not None else None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if self._sc is not None:
            # event-log jobs started inside the span carry its name
            self._sc.setJobDescription(name)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time(), parent,
                                   self.run_id))
            self._stack.pop()
            if self._sc is not None:
                self._sc.setJobDescription(
                    self._stack[-1] if self._stack else None)

    def add(self, name: str, start: float, end: float, parent: str) -> None:
        self.spans.append(Span(name, start, end, parent, self.run_id))

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(spans: list[Span], name: str) -> float:
    """Duration of span ``name`` minus the union of its children."""
    me = next(s for s in spans if s.name == name)
    kids = [(s.start, s.end) for s in spans if s.parent == name]
    return me.duration - covered(kids, me.start, me.end)


def place_sequential(tracer: Tracer, parent: str,
                     durations: dict[str, float]) -> None:
    """Record children known only by total duration (a job's per-phase
    sums) back to back from the parent's start. Only their total is
    observed; their placement is not."""
    t = tracer.get(parent).start
    for name, d in durations.items():
        tracer.add(name, t, t + d, parent)
        t += d


# ------------------------------------------------------------- event log

def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """All events of application ``app_id``'s log under ``log_dir``: a
    plain JSON file or a Spark 4 rolling ``eventlog_v2_*`` directory (its
    ``events_<n>_*`` parts read in order). Uncompressed logs only."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*"))):
        if os.path.isdir(path):
            def _index(p):
                return int(os.path.basename(p).split("_")[1])
            parts = sorted(glob.glob(os.path.join(path, "events_*")),
                           key=_index)
        else:
            parts = [path]
        for part in parts:
            with open(part) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        pass  # a line cut by a crash; the rest is usable
    return events


# SQL metric names of the Python-worker boundary in Spark 4.1, keyed by
# the benchmark's metric name, with the factor to its unit
PYTHON_METRICS = {
    "python.run_s": ("time to run Python workers", 1e-3),
    "python.boot_s": ("time to start Python workers", 1e-3),
    "python.init_s": ("time to initialize Python workers", 1e-3),
    "python.sent_mb": ("data sent to Python workers", 1e-6),
    "python.received_mb": ("data returned from Python workers", 1e-6),
}

_TASK = "internal.metrics."


def _accums(stage_info: dict) -> dict:
    out = {}
    for a in stage_info.get("Accumulables", []):
        v = a.get("Value")
        if isinstance(v, str):
            try:
                v = float(v)
            except ValueError:
                continue
        if isinstance(v, (int, float)):
            out[a.get("Name")] = out.get(a.get("Name"), 0) + v
    return out


class EventLog:
    """Jobs and completed stages of an event log, joined to job
    descriptions (the span names the benchmark set)."""

    def __init__(self, events: list[dict]):
        self.jobs = {}        # job id -> {submit, description, stages}
        self.stages = {}      # stage id -> {submit, end, accums}
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[ev["Job ID"]] = {
                    "submit": ev.get("Submission Time", 0) / 1e3,
                    "description": props.get("spark.job.description"),
                    "stages": ev.get("Stage IDs", [])}
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if si.get("Submission Time") is None:
                    continue  # skipped stage: never ran
                self.stages[si["Stage ID"]] = {
                    "submit": si["Submission Time"] / 1e3,
                    "end": si.get("Completion Time",
                                  si["Submission Time"]) / 1e3,
                    "tasks": si.get("Number of Tasks", 0),
                    "accums": _accums(si)}

    def jobs_in(self, lo: float, hi: float) -> list[int]:
        return [j for j, v in self.jobs.items() if lo <= v["submit"] <= hi]

    def jobs_described(self, description: str) -> list[int]:
        return [j for j, v in self.jobs.items()
                if v["description"] == description]

    def stages_of(self, jobs: list[int]) -> list[dict]:
        ids = {s for j in jobs for s in self.jobs[j]["stages"]}
        return [self.stages[s] for s in sorted(ids) if s in self.stages]

    def shuffle_write_mb(self, jobs: list[int]) -> float:
        return sum(s["accums"].get(_TASK + "shuffle.write.bytesWritten", 0)
                   for s in self.stages_of(jobs)) / 1e6

    def python_metrics(self, jobs: list[int]) -> dict:
        stages = self.stages_of(jobs)
        return {name: sum(s["accums"].get(label, 0) for s in stages) * f
                for name, (label, f) in PYTHON_METRICS.items()}

    def engine_metrics(self, lo: float, hi: float, cores: int) -> dict:
        """Spark engine totals over the jobs submitted in [lo, hi]."""
        jobs = self.jobs_in(lo, hi)
        stages = self.stages_of(jobs)

        def total(key):
            return sum(s["accums"].get(_TASK + key, 0) for s in stages)

        wall = hi - lo
        run_s = total("executorRunTime") / 1e3
        busy = covered([(s["submit"], s["end"]) for s in stages], lo, hi)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": total("executorCpuTime") / 1e9,
            "spark.gc_s": total("jvmGCTime") / 1e3,
            "spark.shuffle_write_mb":
                total("shuffle.write.bytesWritten") / 1e6,
            "spark.shuffle_records": total("shuffle.write.recordsWritten"),
            "spark.spill_mb": (total("memoryBytesSpilled")
                               + total("diskBytesSpilled")) / 1e6,
            "spark.busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
            "spark.idle_s": wall - busy,
        }


# -------------------------------------------------------------- streaming

class TriggerWatcher:
    """Finds the streaming query a call starts by polling
    ``spark.streams.active`` from a thread, and reads its per-trigger
    progress (batch id, start, durationMs) once the call returned.

    A polling thread is used instead of a Python StreamingQueryListener:
    the listener's callbacks slowed this workload's triggers by a third."""

    def __init__(self, spark, interval: float = 0.25):
        self.spark, self.interval = spark, interval
        self.queries = {}
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self.queries.clear()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            for q in self.spark.streams.active:
                self.queries.setdefault(q.id, q)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def triggers(self) -> list[dict]:
        return [{"batch": p.batchId, "start": _iso_seconds(p.timestamp),
                 "rows": p.numInputRows, "ms": dict(p.durationMs)}
                for q in self.queries.values() for p in q.recentProgress
                if p.numInputRows]


def _iso_seconds(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def trigger_spans(tracer: Tracer, triggers: list[dict], parent: str) -> None:
    """Each trigger as a span under ``parent``, with its addBatch (the
    foreachBatch body) as a child placed at the trigger's end."""
    for t in triggers:
        start = t["start"]
        end = start + t["ms"]["triggerExecution"] / 1e3
        name = f"streaming.trigger.{t['batch']}"
        tracer.add(name, start, end, parent)
        add = t["ms"].get("addBatch", 0) / 1e3
        tracer.add(f"streaming.add_batch.{t['batch']}", end - add, end, name)
