"""In-memory spans around public calls, plus the Spark-side readings
(event log, memory) the per-layer metrics are derived from."""

from __future__ import annotations

import glob
import json
import os
import resource
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None  # shared by the spans of one drain, invoke or batch
    attrs: dict | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Records spans in memory; ``enabled=False`` records nothing, so the
    untraced run pays only the ``with`` statement."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.op, attrs or None)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "attrs": s.attrs,
                }) + "\n")


def event_log_totals(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Sum task and stage counters over the jobs whose job group is in
    ``groups``, read from a Spark event log directory."""
    totals = dict.fromkeys(
        ("shuffle_write_bytes", "exchange_rows", "stages", "tasks",
         "executor_run_ms", "gc_ms"), 0.0)
    events = []
    # Spark writes either one file or a rolling directory per application
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isdir(path):
            with open(path, encoding="utf-8") as f:
                events.extend(json.loads(line) for line in f if line.strip())
    stage_ids: set[int] = set()
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("spark.jobGroup.id") in groups:
                stage_ids.update(ev.get("Stage IDs", []))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stage_ids:
                totals["stages"] += 1
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_ids:
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            totals["tasks"] += 1
            totals["executor_run_ms"] += m.get("Executor Run Time", 0)
            totals["gc_ms"] += m.get("JVM GC Time", 0)
            totals["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            totals["exchange_rows"] += sw.get("Shuffle Records Written", 0)
    return totals


def _child_pids(pid: int) -> list[int]:
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(stat.split("/")[2]))
    return out


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its direct children (the
    JVM the PySpark gateway launched), in MB. Read before the JVM stops."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    children_kb = sum(_peak_rss_kb(p) for p in _child_pids(os.getpid()))
    return (own_kb + children_kb) / 1024.0
