"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded by the benchmark around its calls into ``db_core_spark``
and, for calls the program makes internally (a `snapshot()` inside
`ObjectStore.read_at`, a `checkpoint()` inside `maybe_checkpoint()`), by
wrapping the public method for the length of the traced segment. Each span
runs under its own Spark job group, so Spark's event log can credit every
job, stage and task to the innermost span, and through it to a layer.
Spans stay in memory; `SpanLog.layer_summary` folds them with the parsed
event log when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

# event-log SQL metric names of the Python-worker operators (ArrowEvalPython,
# FlatMapGroupsInPandas, MapInPandas, Python DataSource scans/writes)
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    run: str
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class SpanLog:
    """In-memory span recorder. `enabled` gates recording, so untraced ops
    in a traced run pay one attribute test per call."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.enabled = False
        self._patched: list[tuple[type, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        sp = Span(
            id=f"{self.run_id}.{len(self.spans)}", name=name, layer=layer,
            parent=parent.id if parent else None, run=self.run_id, start=time.time(),
        )
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(sp.id, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1].id, self.stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, cls: type, attr: str, layer: str, name: str | None = None) -> None:
        """Record a span around every call of `cls.attr` until `unwrap_all`."""
        raw = cls.__dict__[attr]
        label = name or f"{layer}.{attr}"
        tracer = self
        if isinstance(raw, classmethod):
            fn = raw.__func__

            @functools.wraps(fn)
            def cwrapper(klass, *args, **kwargs):
                with tracer.span(label, layer):
                    return fn(klass, *args, **kwargs)

            setattr(cls, attr, classmethod(cwrapper))
        else:

            @functools.wraps(raw)
            def wrapper(*args, **kwargs):
                with tracer.span(label, layer):
                    return raw(*args, **kwargs)

            setattr(cls, attr, wrapper)
        self._patched.append((cls, attr, raw))

    def unwrap_all(self) -> None:
        for cls, attr, raw in reversed(self._patched):
            setattr(cls, attr, raw)
        self._patched.clear()


# ------------------------------------------------------------- event log


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: list
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_b: float = 0.0
    spill_b: float = 0.0
    py_run_s: float = 0.0
    py_start_s: float = 0.0
    py_sent_b: float = 0.0
    py_returned_b: float = 0.0
    skew: float = 0.0


def parse_event_log(log_dir: str) -> list[Job]:
    """Jobs of the (single) application under `log_dir`, with task counters
    summed per job. Times are epoch seconds."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    # rolling logs (the default since Spark 3.0's v2 format): one directory
    # per application holding events_<n>_<app> parts
    for d in glob.glob(os.path.join(log_dir, "eventlog_v2_*")):
        parts = glob.glob(os.path.join(d, "events_*"))
        files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[float]] = {}
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                id=ev["Job ID"], group=props.get("spark.jobGroup.id"),
                start=ev["Submission Time"] / 1000.0, end=ev["Submission Time"] / 1000.0,
                stages=list(ev.get("Stage IDs", [])),
            )
            jobs[job.id] = job
            for s in job.stages:
                stage_job[s] = job.id
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            if job is None:
                continue
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.run_s += m.get("Executor Run Time", 0) / 1000.0
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            job.shuffle_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            stage_tasks.setdefault(ev["Stage ID"], []).append(
                (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
            )
            for acc in info.get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if not isinstance(upd, (int, float)) and not (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                    continue
                v = float(upd)
                if name == PY_RUN:
                    job.py_run_s += v / 1000.0
                elif name == PY_START:
                    job.py_start_s += v / 1000.0
                elif name == PY_SENT:
                    job.py_sent_b += v
                elif name == PY_RETURNED:
                    job.py_returned_b += v
    for sid, durs in stage_tasks.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is not None and len(durs) >= 2:
            med = statistics.median(durs)
            if med > 0:
                job.skew = max(job.skew, max(durs) / med)
    return sorted(jobs.values(), key=lambda j: j.id)


def _lines(files: list[str]):
    for path in files:
        with open(path) as fh:
            yield from fh


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span], t0: float, t1: float) -> dict[str, float]:
    """Self time per layer over [t0, t1]: each span's duration minus the
    part its children cover; the remainder of [t0, t1] not under any span
    is the benchmark's own time, layer `bench`."""
    children: dict[str | None, list[Span]] = {}
    for sp in spans:
        children.setdefault(sp.parent, []).append(sp)
    out: dict[str, float] = {}
    for sp in spans:
        kids = [(c.start, c.end) for c in children.get(sp.id, [])]
        out[sp.layer] = out.get(sp.layer, 0.0) + sp.duration - union_length(kids)
    roots = [(sp.start, sp.end) for sp in children.get(None, [])]
    out["bench"] = (t1 - t0) - union_length(roots)
    return out


def attach_jobs(spans: list[Span], jobs: list[Job]) -> None:
    by_id = {sp.id: sp for sp in spans}
    for job in jobs:
        sp = by_id.get(job.group)
        if sp is not None:
            sp.jobs.append(job)
