"""Spans, self-time arithmetic and Spark event-log parsing.

Spans are kept in memory by a ``Tracer`` and written out once, when the
run ends. A span's self time is its duration minus the part of its
interval that its children cover (children may overlap one another; the
covered part is the length of the union of their clipped intervals).

The event-log half reads the JSON-lines log Spark writes when
``spark.eventLog.enabled`` is set, and aggregates jobs, stages and task
metrics per job group — the benchmark runs every crawl round and every
index query under its own job group, so the log attributes to them
without any change to the program.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    """A timed interval (epoch seconds) of one layer; ``trace`` names the
    crawl or pass it belongs to."""
    name: str
    start: float
    end: float
    trace: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, each clipped to
    ``[lo, hi]`` when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children) -> float:
    """``span``'s duration minus the union of its children's intervals
    inside it."""
    return span.dur - union_length(
        [(c.start, c.end) for c in children], span.start, span.end
    )


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a
    no-op, so the untraced run pays nothing for the instrumentation."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, trace: str = "") -> Span | None:
        if not self.enabled:
            return None
        sp = Span(name, start, end, trace)
        self.spans.append(sp)
        return sp

    def timed(self, name: str, fn, trace: str = ""):
        """Run ``fn()`` inside a span; returns ``(result, span)``."""
        t0 = time.time()
        out = fn()
        return out, self.add(name, t0, time.time(), trace)


# -- Spark event log ------------------------------------------------------

@dataclass
class GroupStats:
    """Everything the event log says about one job group."""
    jobs: list[tuple[float, float]] = field(default_factory=list)  # epoch s
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_b: float = 0.0
    shuffle_write_b: float = 0.0
    spill_b: float = 0.0
    python_ms: float = 0.0  # "time to run Python workers"
    python_io_b: float = 0.0  # data sent to + returned from Python workers


PYTHON_IO = ("data sent to Python workers", "data returned from Python workers")


def _group_of(props: dict | None) -> str | None:
    if not props:
        return None
    return props.get("spark.jobGroup.id")


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Aggregate a Spark event log (an iterable of JSON lines) by job
    group. Jobs count once each with their submission-to-completion
    interval; stages count once per completed attempt; task metrics sum
    over every task end, failed attempts included (their time was
    spent)."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group_of(ev.get("Properties"))
            if g is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            g = job_group.get(jid)
            if g is not None:
                groups[g].jobs.append((job_start[jid], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            g = _group_of(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(ev["Stage Info"]["Stage ID"])
            if g is not None:
                groups[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g is None:
                continue
            st = groups[g]
            st.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success":
                st.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
            st.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == "time to run Python workers":
                    st.python_ms += float(acc.get("Update", 0))
                elif name in PYTHON_IO:
                    st.python_io_b += float(acc.get("Update", 0))
    return dict(groups)


def read_event_logs(log_dir: str) -> dict[str, GroupStats]:
    """Parse every closed event log under ``log_dir`` (one per session):
    single files, or the ``eventlog_v2_*`` directories of rolling logs,
    whose ``events_<n>_*`` parts are read in order."""
    merged: dict[str, GroupStats] = {}
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if name.endswith(".inprogress"):
            continue
        if os.path.isdir(path):
            parts = sorted(
                (p for p in os.listdir(path) if p.startswith("events_")),
                key=lambda p: int(p.split("_")[1]),
            )
            paths = [os.path.join(path, p) for p in parts]
        else:
            paths = [path]
        merged.update(parse_event_log(_lines(paths)))
    return merged


def _lines(paths):
    for path in paths:
        with open(path) as f:
            yield from f
