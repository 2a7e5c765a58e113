"""Spans, summary statistics and the Spark event-log ledger.

A span is one call into a layer's public function, recorded by the
benchmark around that call: name, phase (``setup``, ``warmup``,
``timed`` or ``check``), wall-clock start and end, and, when tracing,
the process-tree CPU split into JVM and Python. Spans never overlap:
the benchmark calls layers one after another.

The event log that Spark writes with ``spark.eventLog.enabled`` is
parsed offline. Each job is assigned to the span whose time window
contains the job's submission time, which also covers jobs a layer
submits from its own threads. Each task's metrics go to its stage's
job, and from there to the span.
"""

from __future__ import annotations

import json
import math
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from procstat import TreeCpu, tree_cpu

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
METRIC_UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}: want 1-64 of "
                         "[A-Za-z0-9_.-], starting with a letter or digit")
    return name


def check_metric_unit(unit: str) -> str:
    if not METRIC_UNIT.fullmatch(unit):
        raise ValueError(f"bad metric unit {unit!r}")
    return unit


# ---------------------------------------------------------------- stats

def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float]:
    """First and third quartile; a single value is its own quartiles."""
    values = list(values)
    if len(values) < 2:
        return float(values[0]), float(values[0])
    q1, _q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q3


def spread(values) -> float:
    """Interquartile distance as a share of the median (0 for one value)."""
    values = list(values)
    med = median(values)
    q1, q3 = quartiles(values)
    return (q3 - q1) / med if med else 0.0


# ---------------------------------------------------------------- spans

@dataclass
class Span:
    name: str
    phase: str
    iteration: int
    t0: float                  # epoch seconds
    t1: float = 0.0
    wall_s: float = 0.0
    cpu: TreeCpu | None = None
    counters: dict = field(default_factory=dict)


class Tracer:
    """Collects spans in memory. With ``cpu=False`` a span costs two
    clock reads; with ``cpu=True`` it also reads the process tree's
    CPU from /proc at both ends."""

    def __init__(self, cpu: bool):
        self.cpu = cpu
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, phase: str, iteration: int = 0):
        sp = Span(name=name, phase=phase, iteration=iteration, t0=time.time())
        c0 = tree_cpu() if self.cpu else None
        p0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - p0
            sp.t1 = time.time()
            if self.cpu:
                sp.cpu = tree_cpu() - c0
            self.spans.append(sp)


# ------------------------------------------------------------ event log

@dataclass(frozen=True)
class Task:
    stage: int
    duration_ms: int
    executor_cpu_ns: int
    gc_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class EventLog:
    job_submit_ms: dict[int, int] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


def parse_event_log(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            log.job_submit_ms[job] = ev["Submission Time"]
            for stage in ev.get("Stage IDs", []):
                # a stage reused by a later job is skipped there: its
                # tasks ran under the first job that listed it
                log.stage_job.setdefault(stage, job)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            log.tasks.append(Task(
                stage=ev["Stage ID"],
                duration_ms=info.get("Finish Time", 0) - info.get("Launch Time", 0),
                executor_cpu_ns=(m.get("Executor CPU Time", 0)
                                 + m.get("Executor Deserialize CPU Time", 0)),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_read_bytes=(sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0)),
                shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                spill_bytes=m.get("Disk Bytes Spilled", 0),
            ))
    return log


def read_event_log(path: str) -> EventLog:
    with open(path) as fh:
        return parse_event_log(fh)


@dataclass
class JobLedger:
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    tasks: int = 0
    task_max_over_median: float = 0.0

    FIELDS = ("executor_cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "tasks",
              "task_max_over_median")


def span_of_job(submit_ms: int, spans: list[Span]) -> int | None:
    """Index of the span whose window holds ``submit_ms``, else None.
    The window is widened to whole milliseconds, the event log's
    resolution."""
    for i, sp in enumerate(spans):
        if math.floor(sp.t0 * 1000) <= submit_ms <= math.ceil(sp.t1 * 1000):
            return i
    return None


def attribute(log: EventLog, spans: list[Span]) -> dict[int, JobLedger]:
    """Per-span ledgers, keyed by index into ``spans``. Tasks of jobs
    no span claims are left out."""
    job_span = {job: span_of_job(ms, spans) for job, ms in log.job_submit_ms.items()}
    by_span: dict[int, list[Task]] = {}
    for t in log.tasks:
        i = job_span.get(log.stage_job.get(t.stage))
        if i is not None:
            by_span.setdefault(i, []).append(t)
    return {i: summarize_tasks(ts) for i, ts in by_span.items()}


def summarize_tasks(tasks: list[Task]) -> JobLedger:
    led = JobLedger(
        executor_cpu_s=sum(t.executor_cpu_ns for t in tasks) / 1e9,
        gc_s=sum(t.gc_ms for t in tasks) / 1e3,
        shuffle_read_bytes=sum(t.shuffle_read_bytes for t in tasks),
        shuffle_write_bytes=sum(t.shuffle_write_bytes for t in tasks),
        spill_bytes=sum(t.spill_bytes for t in tasks),
        tasks=len(tasks),
    )
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.duration_ms)
    # straggler ratio of the worst stage that ran more than one task
    ratios = [max(d) / statistics.median(d) for d in by_stage.values()
              if len(d) > 1 and statistics.median(d) > 0]
    led.task_max_over_median = max(ratios, default=1.0)
    return led


def total_executor_cpu_s(log: EventLog) -> float:
    return sum(t.executor_cpu_ns for t in log.tasks) / 1e9
