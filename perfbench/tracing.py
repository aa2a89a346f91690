"""Tracing for the traced run, all of it outside the engine.

- ``Spans``: wall-clock spans recorded around calls into each layer.
- ``patch_sources``: wraps the public functions of ``sources.tables`` in
  every engine module that imported them, so their wall time is a span.
- ``StreamListener``: a ``StreamingQueryListener`` keeping every progress.
- ``read_event_log``: parses Spark's JSON event log into jobs and tasks.

Jobs are attributed to a span by their submission time. The benchmark's
driver loop is single-threaded, so spans of one kind never overlap.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    kind: str  # pass | sources | build | plan | exec | ingest | merge | lookup
    label: str  # pass label and operation, e.g. "warm1:hits_bipartite"
    start: float
    end: float

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Spans:
    items: list[Span] = field(default_factory=list)
    enabled: bool = True

    def timed(self, kind: str, label: str, fn, *args, **kwargs):
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            if self.enabled:
                self.items.append(Span(kind, label, t0, time.time()))

    def of(self, kind: str, prefix: str = "") -> list[Span]:
        return [s for s in self.items if s.kind == kind and s.label.startswith(prefix)]


def patch_sources(spans: Spans, label_of) -> None:
    """Time every call into ``sources.tables`` as a ``sources`` span.

    Query modules import the functions by name, so each module attribute
    bound to an original function is replaced. The defining module keeps
    its own, so a call from one of these functions to another is not a
    second, nested span.
    """
    from aml_feature_store_spark.sources import tables

    originals = {
        name: getattr(tables, name)
        for name in ("load_table", "load_events", "stream_events", "load_all")
    }
    wrapped = {}
    for name, fn in originals.items():

        def wrapper(*a, _fn=fn, _name=name, **k):
            return spans.timed("sources", f"{label_of()}:{_name}", _fn, *a, **k)

        wrapped[id(fn)] = functools.wraps(fn)(wrapper)
    for mod_name, mod in list(sys.modules.items()):
        if (mod is None or mod is tables
                or not mod_name.startswith("aml_feature_store_spark")):
            continue
        for attr, val in list(vars(mod).items()):
            if callable(val) and id(val) in wrapped:
                setattr(mod, attr, wrapped[id(val)])


class StreamListener(StreamingQueryListener):
    """Keeps every query progress; lets the caller wait for a query's end."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._ended: set[str] = set()
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators
        with self._cond:
            self.progress.append(
                {
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                    "commit_ms": sum(o.commitTimeMs for o in ops),
                    "t": time.time(),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self._ended.add(str(event.runId))
            self._cond.notify_all()

    def wait_ended(self, run_id: str, timeout: float = 10.0) -> bool:
        """Progress events arrive on the listener bus after
        ``awaitTermination`` returns; wait until this run's last one did."""
        with self._cond:
            return self._cond.wait_for(lambda: run_id in self._ended, timeout)


@dataclass
class Job:
    job_id: int
    submit: float  # seconds since epoch
    end: float
    stages: list[int]
    tasks: list[dict] = field(default_factory=list)


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their finished tasks from one application's event log.

    Needs ``spark.eventLog.compress=false`` and rolling off; the log is
    complete only after the SparkContext stopped."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                              ev.get("Stage IDs", []))
                    jobs[job.job_id] = job
                    for s in job.stages:
                        # a later job lists a reused stage again, as skipped;
                        # its tasks ran for the first job that listed it
                        stage_job.setdefault(s, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task(ev))
    for t in tasks:
        job_id = stage_job.get(t["stage"])
        if job_id is not None:
            jobs[job_id].tasks.append(t)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def _task(ev: dict) -> dict:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    overhead_ms = m.get("Executor Deserialize Time", 0) + m.get(
        "Result Serialization Time", 0
    )
    duration_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    return {
        "stage": ev.get("Stage ID"),
        "failed": bool(info.get("Failed")) or bool(info.get("Killed")),
        "run_s": run_ms / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "sched_delay_s": max(0, duration_ms - run_ms - overhead_ms) / 1000.0,
        "shuffle_read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
        "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_b": inp.get("Bytes Read", 0),
    }


def jobs_in(jobs: list[Job], spans: list[Span]) -> list[Job]:
    """Jobs submitted inside any of the spans."""
    return [j for j in jobs if any(s.start <= j.submit <= s.end for s in spans)]


def busy_s(jobs: list[Job], span: Span) -> float:
    """Part of the span during which at least one of the jobs was running."""
    ivs = sorted((max(j.submit, span.start), min(j.end or span.end, span.end))
                 for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def exec_totals(jobs: list[Job]) -> dict[str, float]:
    """Task-level execution totals over the jobs (``exec.*`` metrics)."""
    tasks = [t for j in jobs for t in j.tasks]
    mb = 1024.0 * 1024.0
    return {
        "jobs": float(len(jobs)),
        "tasks": float(len(tasks)),
        "task_run_s": sum(t["run_s"] for t in tasks),
        "task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "sched_delay_s": sum(t["sched_delay_s"] for t in tasks),
        "shuffle_read_mb": sum(t["shuffle_read_b"] for t in tasks) / mb,
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / mb,
        "spill_mb": sum(t["spill_b"] for t in tasks) / mb,
        "failed_tasks": float(sum(t["failed"] for t in tasks)),
        "input_mb": sum(t["input_b"] for t in tasks) / mb,
    }
