"""Tracing for the benchmark: spans around the engine's public functions,
one Spark job group per span, and Spark's event log as the counter source.

Spans are recorded from the benchmark's own code only.  :class:`Tracer`
replaces a public function (module attribute or class method) with a
wrapper that, while tracing is active, records ``(name, start, end,
parent, group)`` and sets a fresh job group on entry, restoring the
caller's group on exit.  Every Spark job therefore carries the group of
the innermost span that launched it, and :func:`parse_event_log` turns
the event log into per-group jobs, stages, tasks, CPU, shuffle, spill,
input bytes and job intervals.  Stages and tasks are counted from the
stages that actually ran (skipped stages are not counted).
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import time
from dataclasses import dataclass, field
from pathlib import Path

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    prev_group: str | None = None


class Tracer:
    """In-memory span recorder with Spark job-group attribution."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[Span] = []
        self._ids = itertools.count()

    # -- spans ---------------------------------------------------------------
    def span(self, name: str):
        return _SpanCtx(self, name)

    def _enter(self, name: str) -> Span:
        sid = next(self._ids)
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(sid, name, parent, f"pb-{sid}", 0.0)
        sp.prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.start = time.time()
        return sp

    def _exit(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.pop()
        self.sc.setLocalProperty(GROUP_KEY, sp.prev_group)
        self.spans.append(sp)

    # -- wrapping public functions -------------------------------------------
    def wrap(self, target: str, name: str) -> None:
        """Wrap ``package.module:attr`` or ``package.module:Class.method``."""
        mod_name, attr_path = target.split(":")
        owner = importlib.import_module(mod_name)
        *parents, attr = attr_path.split(".")
        for p in parents:
            owner = getattr(owner, p)
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span | None:
        self.sp = self.tracer._enter(self.name) if self.tracer.active else None
        return self.sp

    def __exit__(self, *exc) -> None:
        if self.sp is not None:
            self.tracer._exit(self.sp)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_WANTED = (
    '"SparkListenerJobStart"', '"SparkListenerJobEnd"',
    '"SparkListenerStageSubmitted"', '"SparkListenerTaskEnd"',
)


@dataclass
class GroupStats:
    """Counters of the jobs, stages and tasks launched under one job group."""

    jobs: list[int] = field(default_factory=list)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    stages: set = field(default_factory=set)
    tasks: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    python_ms: int = 0  # run - cpu on stages that run Python workers


def event_log_files(root: Path) -> list[Path]:
    """Every event-log file under ``root`` (plain or rolling layout)."""
    return sorted(p for p in Path(root).rglob("*") if p.is_file()
                  and (p.name.startswith("events_") or p.name.startswith("local-"))
                  and not p.name.endswith(".crc"))


def _is_python_stage(info: dict) -> bool:
    return any("Python" in (r.get("Scope") or "") or "Pandas" in (r.get("Scope") or "")
               or "Python" in (r.get("Name") or "")
               for r in info.get("RDD Info", []))


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Aggregate event-log JSON lines into ``{job group: GroupStats}``.
    Jobs and stages without a group are filed under ``""``."""
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    python_stages: set[int] = set()
    for line in lines:
        if not any(w in line[:60] for w in _WANTED):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"] / 1000.0
            groups.setdefault(g, GroupStats()).jobs.append(jid)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                g = job_group[jid]
                groups[g].job_intervals.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            g = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            stage_group[info["Stage ID"]] = g
            groups.setdefault(g, GroupStats()).stages.add(info["Stage ID"])
            if _is_python_stage(info):
                python_stages.add(info["Stage ID"])
        else:  # SparkListenerTaskEnd
            sid = ev["Stage ID"]
            st = groups.setdefault(stage_group.get(sid, ""), GroupStats())
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            if sid in python_stages:
                st.python_ms += max(
                    0, m.get("Executor Run Time", 0)
                    - m.get("Executor CPU Time", 0) // 1_000_000)
    return groups


def read_event_log(root: Path) -> dict[str, GroupStats]:
    def lines():
        for path in event_log_files(root):
            with open(path, encoding="utf-8") as fh:
                yield from fh
    return parse_event_log(lines())


# ---------------------------------------------------------------------------
# Span arithmetic
# ---------------------------------------------------------------------------

def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


class SpanTree:
    """Query helpers over recorded spans joined with event-log groups."""

    def __init__(self, spans: list[Span], groups: dict[str, GroupStats]) -> None:
        self.spans = {s.sid: s for s in spans}
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        self.groups = groups

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s.sid, []))
        return out

    def outermost(self, root: Span, prefix: str) -> list[Span]:
        """Spans named ``prefix*`` under ``root`` with no such ancestor
        below ``root`` (nested calls within one layer count once)."""
        out, todo = [], list(self.children.get(root.sid, []))
        while todo:
            s = todo.pop()
            if s.name.startswith(prefix):
                out.append(s)
            else:
                todo.extend(self.children.get(s.sid, []))
        return out

    def stats(self, sp: Span) -> GroupStats:
        """Counters of ``sp`` including every span below it."""
        tot = GroupStats()
        for s in self.subtree(sp):
            g = self.groups.get(s.group)
            if g is None:
                continue
            tot.jobs += g.jobs
            tot.job_intervals += g.job_intervals
            tot.stages |= g.stages
            for f in ("tasks", "cpu_ns", "shuffle_write_bytes",
                      "spill_bytes", "input_bytes", "python_ms"):
                setattr(tot, f, getattr(tot, f) + getattr(g, f))
        return tot

    def self_time(self, sp: Span) -> float:
        kids = [(c.start, c.end) for c in self.children.get(sp.sid, [])]
        return (sp.end - sp.start) - union_length(kids, sp.start, sp.end)

    def driver_gap(self, sp: Span) -> float:
        """Wall time of ``sp`` not covered by any of its jobs."""
        st = self.stats(sp)
        return (sp.end - sp.start) - union_length(st.job_intervals, sp.start, sp.end)
