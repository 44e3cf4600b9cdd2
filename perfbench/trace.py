"""Spans around layer calls, Spark's JSON event log, and the fold of the
two into per-call layer statistics.

The benchmark records a span around every call it makes into a layer.
For the traced pass it attaches Spark's own ``EventLoggingListener``
(uncompressed, non-rolling JSON lines) to the running context, then
assigns each Spark job to the innermost span that was open when the
job was submitted; stages follow their job and tasks their stage. With
one client thread this time-window rule also catches jobs that the
engine submits from helper threads without a job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    """Spans and check outcomes of one measured pass."""

    def __init__(self):
        self.spans: List[Span] = []
        self.attempted = 0
        self.failed = 0
        self.failures: List[str] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        s = Span(name, time.time(), attrs=attrs)
        try:
            yield s.attrs
        finally:
            s.end = time.time()
            self.spans.append(s)

    def check(self, what: str, fn) -> None:
        """Count one checked call; ``fn`` returns None when the answer
        is right, else the reason. An exception counts as a failure."""
        self.attempted += 1
        try:
            reason = fn()
        except Exception as e:  # a failed call is a failed op
            reason = f"{type(e).__name__}: {e}"
        if reason is not None:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{what}: {reason}")

    def of(self, *names: str) -> List[Span]:
        return [s for s in self.spans if s.name in names]

    def indices(self, *names: str) -> List[int]:
        return [i for i, s in enumerate(self.spans) if s.name in names]

    def busy_s(self) -> float:
        """Time spent inside top-level measured calls."""
        return sum(s.dur for s in self.spans if not s.attrs.get("nested"))


class EventLog:
    """Spark's event log, attached to a running context for a window.

    Uses the same listener and file writer that ``spark.eventLog.enabled``
    would start with the context; attaching it later keeps set-up jobs
    out of the log and lets one process measure with and without it.
    """

    def __init__(self, spark, directory: str, name: str):
        os.makedirs(directory, exist_ok=True)
        self.path = os.path.join(directory, name)
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        conf = (self._sc.conf().clone()
                .set("spark.eventLog.enabled", "true")
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false")
                .set("spark.eventLog.overwrite", "true"))
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name, jvm.scala.Option.empty(),
            jvm.java.net.URI("file://" + os.path.abspath(directory)), conf,
            self._sc.hadoopConfiguration())

    def __enter__(self) -> "EventLog":
        self._listener.start()
        self._sc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._listener)
        self._listener.stop()


# -- event log → per-stage statistics --------------------------------------

PY_RUN = "time to run Python workers"


def parse_event_log(path: str) -> dict:
    """Jobs (submission time, stage ids) and per-stage task totals."""
    jobs: Dict[int, dict] = {}
    stages: Dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "submit": None, "complete": None, "scopes": set(), "tasks": 0,
            "task_s": [], "cpu_s": 0.0, "gc_s": 0.0, "python_s": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0, "rows_read": 0,
            "bytes_written": 0})

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {"t": e["Submission Time"] / 1000.0,
                                     "stages": e["Stage IDs"]}
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stage(info["Stage ID"])
                st["submit"] = info.get("Submission Time", 0) / 1000.0
                st["complete"] = info.get("Completion Time", 0) / 1000.0
                for rdd in info.get("RDD Info", []):
                    if rdd.get("Scope"):
                        st["scopes"].add(json.loads(rdd["Scope"])["name"])
            elif kind == "SparkListenerTaskEnd":
                st = stage(e["Stage ID"])
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                st["tasks"] += 1
                st["task_s"].append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000.0)
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0))
                st["rows_read"] += (m.get("Input Metrics") or {}
                                    ).get("Records Read", 0)
                st["bytes_written"] += (m.get("Output Metrics") or {}
                                        ).get("Bytes Written", 0)
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == PY_RUN:
                        st["python_s"] += float(acc.get("Update", 0)) / 1000.0
    return {"jobs": jobs, "stages": stages}


def _union_len(intervals, lo: float, hi: float) -> float:
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


def attribute(spans: List[Span], log: dict):
    """Per span index: jobs, stages, tasks and task totals of the Spark
    work submitted while it was the innermost open span, plus driver
    idle time (span wall minus the union of its stage intervals).
    Returns ``(per_span, jobs_outside_every_span)``."""
    order = sorted(range(len(spans)), key=lambda i: spans[i].start)
    owner_of_job: Dict[int, Optional[int]] = {}
    for jid, job in log["jobs"].items():
        owner = None
        for i in order:
            s = spans[i]
            if s.start <= job["t"] <= s.end:
                owner = i  # later start = more deeply nested
        owner_of_job[jid] = owner
    owner_of_stage: Dict[int, Optional[int]] = {}
    for jid in sorted(log["jobs"]):
        for sid in log["jobs"][jid]["stages"]:
            owner_of_stage.setdefault(sid, owner_of_job[jid])

    out: Dict[int, dict] = {i: {
        "jobs": 0, "stages": [], "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
        "python_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
        "rows_read": 0, "bytes_written": 0} for i in range(len(spans))}
    unattributed = 0
    for owner in owner_of_job.values():
        if owner is None:
            unattributed += 1
        else:
            out[owner]["jobs"] += 1
    for sid, st in log["stages"].items():
        owner = owner_of_stage.get(sid)
        if owner is None or st["submit"] is None:
            continue
        agg = out[owner]
        agg["stages"].append(st)
        for key in ("tasks", "cpu_s", "gc_s", "python_s", "shuffle_bytes",
                    "spill_bytes", "rows_read", "bytes_written"):
            agg[key] += st[key]
    for i, s in enumerate(spans):
        agg = out[i]
        agg["idle_s"] = s.dur - _union_len(
            [(st["submit"], st["complete"]) for st in agg["stages"]],
            s.start, s.end)
    return out, unattributed


def scoped(agg: dict, scope: str) -> List[dict]:
    """The span's stages whose operators include ``scope``."""
    return [st for st in agg["stages"] if scope in st["scopes"]]


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def mean(values, default: float = 0.0) -> float:
    values = list(values)
    return sum(values) / len(values) if values else default
