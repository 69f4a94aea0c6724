"""Tracing for the per-layer run, and the host/process facts every
result records.

A ``Tracer`` records one span per public call the benchmark makes
(name, layer, start, end, parent span, op id) and keeps them in memory
until the run ends. While a span is open it is the Spark job group, so
every job the call fires is attributed to it; after the run the
uncompressed event log is parsed for per-job stage, task, shuffle,
spill and Python-worker counters. The untraced run uses
``NullTracer``, which records nothing and never touches the job group.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

# Python-worker SQL metrics as they are named in the event log
PY_TIME = "time to run Python workers"
PY_TO = "data sent to Python workers"
PY_FROM = "data returned from Python workers"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op: int
    phase: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=lambda: defaultdict(float))

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    phase = ""

    @contextmanager
    def span(self, name: str, layer: str = ""):
        yield None

    def next_op(self) -> None:
        pass


class Tracer:
    def __init__(self, spark, event_log_dir: Path):
        self.spark = spark
        self.sc = spark.sparkContext
        self.event_log_dir = event_log_dir
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = -1
        self.phase = "warm"

    def next_op(self) -> None:
        self.op += 1

    @contextmanager
    def span(self, name: str, layer: str = ""):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, self.op, self.phase,
                 parent.sid if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"pb-{s.sid}", name, False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"pb-{top.sid}", top.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its child spans cover."""
        return s.dur - sum(c.dur for c in self.spans if c.parent == s.sid)

    def attribute(self) -> None:
        """Add the event log's counters to the spans (call after
        ``spark.stop()``, which flushes the log)."""
        for s_id, counters in parse_event_log(self.event_log_dir).items():
            if 0 <= s_id < len(self.spans):
                for k, v in counters.items():
                    self.spans[s_id].counters[k] += v


def parse_event_log(log_dir: Path) -> dict[int, dict]:
    """Per span id: jobs, stages, tasks, shuffle bytes, spill and the
    Python-worker accumulators, summed over the jobs of its group."""
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes a directory of rolled "events_N_<app>" files
    files = sorted(p for p in log_dir.rglob("events_*") if p.is_file())
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith("pb-"):
                        continue
                    sid = int(group[3:])
                    out[sid]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span.setdefault(st, sid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = stage_span.get(info["Stage ID"])
                    if sid is not None and "Submission Time" in info:
                        out[sid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    c = out[sid]
                    c["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    c["executor_run_ms"] += m.get("Executor Run Time", 0)
                    c["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                    sr = m.get("Shuffle Read Metrics", {})
                    c["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if name in (PY_TIME, PY_TO, PY_FROM) and upd is not None:
                            c[name] += float(upd)
    return out


# ---------------------------------------------------------------------------
# Host and process facts


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, or (0, 0) if unreadable."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[7], sum(vals[:8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of the given processes."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())
