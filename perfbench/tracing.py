"""Tracing for the benchmark's per-layer run.

Three independent sources, all read from outside the engine:

- :class:`Tracer` wraps public engine functions in spans (name, start,
  end, parent). Spans live in memory and are written out at the end.
- :func:`parse_event_log` reads Spark's own uncompressed event log and
  rolls task metrics up per job group, so job, stage and task counts
  cannot be undercounted the way a status-tracker read can once jobs pass
  ``spark.ui.retainedJobs``.
- :func:`proc_stats` reads ``/proc`` for CPU seconds and peak RSS of the
  Python driver and the JVM.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


class Tracer:
    """In-memory span recorder plus a monkeypatcher for engine functions.

    ``wrap_everywhere(module, attr)`` replaces the function object bound at
    ``module.attr`` in every loaded engine module that holds the same
    object, so ``from x import f`` aliases are traced too. ``restore()``
    puts every original back."""

    def __init__(self, package: str):
        self.package = package
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack.pop()
        return span

    def wrap(self, fn, name: str, before=None, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            state = before() if before else None
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                span = self.close(idx)
                if after:
                    after(span, state)

        return traced

    def wrap_everywhere(self, module, attr: str, name: str | None = None, **hooks) -> None:
        original = getattr(module, attr)
        traced = self.wrap(original, name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}", **hooks)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(self.package):
                continue
            for key, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, key, traced)
                    self._patched.append((mod, key, original))

    def restore(self) -> None:
        for mod, key, original in reversed(self._patched):
            setattr(mod, key, original)
        self._patched.clear()

    def self_time(self, idx: int) -> float:
        """Span duration minus the time its direct children cover."""
        span = self.spans[idx]
        child = sum(s.end - s.start for s in self.spans if s.parent == idx)
        return (span.end - span.start) - child

    def totals(self, name: str) -> tuple[int, float]:
        hits = [s for s in self.spans if s.name == name]
        return len(hits), sum(s.end - s.start for s in hits)

    def dump(self) -> list[dict]:
        """Every span as a dict, times relative to the first span."""
        base = self.spans[0].start if self.spans else 0.0
        return [
            {
                "name": s.name,
                "start": round(s.start - base, 6),
                "end": round(s.end - base, 6),
                "parent": s.parent,
                "self_s": round(self.self_time(i), 6),
            }
            for i, s in enumerate(self.spans)
        ]


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

EXEC_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def event_log_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir``: plain files (Spark 3) and the
    ``eventlog_v2_*/events_*`` rolling directories (Spark 4)."""
    files = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            files.extend(sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])))
        else:
            files.append(path)
    return files


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Roll the event log up per ``spark.jobGroup.id``.

    Returns ``{group: {jobs, stages, tasks, task_s, cpu_s, gc_s,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes}}``. Jobs with no
    group land under ``""``. Stages are attributed through the job that
    submitted them; a stage shared by two jobs counts once, for the first.
    Stage ids restart with every application, so the map does too."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EXEC_FIELDS, 0))
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerApplicationStart":
                    stage_group = {}
                elif kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "")
                    rec = out[group]
                    rec["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    rec["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rd = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    wr = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
    return dict(out)


def rollup(groups: dict[str, dict[str, float]], pred) -> dict[str, float]:
    """Sum the event-log records of every group whose name satisfies ``pred``."""
    total = dict.fromkeys(EXEC_FIELDS, 0.0)
    for name, rec in groups.items():
        if pred(name):
            for k in EXEC_FIELDS:
                total[k] += rec[k]
    return total


# --------------------------------------------------------------------------
# /proc
# --------------------------------------------------------------------------


def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_s(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    except OSError:
        return 0.0


def jvm_pid(spark) -> int | None:
    """PID of the driver JVM (the gateway process ``spark-submit`` execs)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def proc_stats(jvm: int | None) -> dict[str, float]:
    """CPU seconds and peak RSS (VmHWM) of this process and the JVM."""
    return {
        "py_cpu_s": _cpu_s("self"),
        "jvm_cpu_s": _cpu_s(jvm) if jvm else 0.0,
        "peak_rss_mb": (_status_kb("self", "VmHWM") + (_status_kb(jvm, "VmHWM") if jvm else 0)) / 1024,
    }
