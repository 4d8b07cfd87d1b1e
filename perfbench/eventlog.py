"""Read a Spark event log and total its counters per benchmark span.

The benchmark tags every call it makes with the job group
``<workload>:<query>:<phase>`` (``phase`` is ``build`` or ``exec``) and
the local property ``perfbench.pass``.  Jobs that Spark starts under a
group of its own (a streaming micro-batch runs under the stream's run
id) are assigned by time instead: to the span whose wall-clock window
holds the job's submission.

Only uncompressed logs are read (``spark.eventLog.compress=false``);
Spark 4 compresses with zstd by default and Python has no zstd module
in the standard library.
"""

from __future__ import annotations

import bisect
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

PASS_PROPERTY = "perfbench.pass"
MB = 1024.0 * 1024.0


@dataclass(frozen=True)
class Span:
    """One timed call: pass index, query name, phase, wall-clock window."""

    pass_no: int
    query: str
    phase: str
    t0: float
    t1: float

    @property
    def key(self) -> tuple[int, str, str]:
        return (self.pass_no, self.query, self.phase)


@dataclass
class Counters:
    """Event-log totals for one span."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    single_task_stages: int = 0
    in_job_s: float = 0.0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    scan_mb: float = 0.0
    scan_tasks: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "Counters") -> None:
        for name, value in vars(other).items():
            if name != "intervals":
                setattr(self, name, getattr(self, name) + value)


def group_tag(workload: str, query: str, phase: str) -> str:
    return f"{workload}:{query}:{phase}"


def _log_order(path: str) -> tuple:
    """Sort key: rolling logs (``eventlog_v2_*/events_<n>_*``) by ``n``."""
    parts = os.path.basename(path).split("_")
    n = int(parts[1]) if parts[0] == "events" and parts[1].isdigit() else 0
    return (os.path.dirname(path), n, path)


def read_events(log_dir: str):
    """Yield every event of every log file under ``log_dir``, in order.

    Spark 4 rolls event logs by default: each application writes a
    directory of numbered ``events_*`` files plus an empty status file
    and checksum files, which are skipped.
    """
    paths = [
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)
        for f in files
        if not f.startswith((".", "appstatus_"))
    ]
    for path in sorted(paths, key=_log_order):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``[start, end]`` intervals."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class _SpanIndex:
    """Finds the span a job belongs to, by tag or by submission time."""

    def __init__(self, workload: str, spans: list[Span]) -> None:
        self.by_tag = defaultdict(dict)
        for s in spans:
            self.by_tag[group_tag(workload, s.query, s.phase)][s.pass_no] = s
        self.ordered = sorted(spans, key=lambda s: s.t0)
        self.starts = [s.t0 for s in self.ordered]

    def find(self, props: dict, submitted: float) -> Span | None:
        tagged = self.by_tag.get(props.get("spark.jobGroup.id"))
        if tagged is not None:
            try:
                return tagged.get(int(props.get(PASS_PROPERTY, "")))
            except ValueError:
                return None
        i = bisect.bisect_right(self.starts, submitted) - 1
        if i >= 0 and submitted <= self.ordered[i].t1:
            return self.ordered[i]
        return None


def stream_progress(log_dir: str) -> list[dict]:
    """Every streaming micro-batch's progress report in the event log."""
    return [
        ev["progress"]
        for ev in read_events(log_dir)
        if ev.get("Event", "").endswith("StreamingQueryListener$QueryProgressEvent")
    ]


def span_counters(log_dir: str, workload: str, spans: list[Span]) -> dict:
    """Return ``{span.key: Counters}`` for every span that ran a job."""
    index = _SpanIndex(workload, spans)
    out: dict[tuple[int, str, str], Counters] = defaultdict(Counters)
    job_span: dict[int, Span] = {}
    job_t0: dict[int, float] = {}
    stage_span: dict[int, Span] = {}
    stage_tasks: dict[int, int] = defaultdict(int)
    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t0 = ev["Submission Time"] / 1000.0
            span = index.find(ev.get("Properties") or {}, t0)
            if span is None:
                continue
            job_span[ev["Job ID"]] = span
            job_t0[ev["Job ID"]] = t0
            out[span.key].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_span.setdefault(sid, span)
        elif kind == "SparkListenerJobEnd":
            span = job_span.get(ev["Job ID"])
            if span is not None:
                t1 = ev["Completion Time"] / 1000.0
                a, b = max(job_t0[ev["Job ID"]], span.t0), min(t1, span.t1)
                if b > a:
                    out[span.key].intervals.append((a, b))
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(ev["Stage ID"])
            if span is None:
                continue
            c = out[span.key]
            stage_tasks[ev["Stage ID"]] += 1
            c.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                c.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            c.task_run_s += m.get("Executor Run Time", 0) / 1000.0
            c.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_mb += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / MB
            wr = m.get("Shuffle Write Metrics") or {}
            c.shuffle_write_mb += wr.get("Shuffle Bytes Written", 0) / MB
            c.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
            scanned = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            if scanned:
                c.scan_mb += scanned / MB
                c.scan_tasks += 1
    for sid, n in stage_tasks.items():
        c = out[stage_span[sid].key]
        c.stages += 1
        c.single_task_stages += n == 1
    for c in out.values():
        c.in_job_s = union_s(c.intervals)
    return dict(out)
