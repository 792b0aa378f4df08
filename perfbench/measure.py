"""Measurement: the percentile rule, spans and self time, the Spark
event-log reader and the peak-RSS sampler.

Spans are recorded by the benchmark around each call into a layer of the
program (never inside it). Each span tags the Spark jobs it starts with its
own job group, so the event log's task metrics can be charged to the span
that caused them. Spans stay in memory and are written once, at the end.
"""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


# --- statistics ----------------------------------------------------------------

PERCENTILE_LADDER = (99.9, 99.0, 90.0, 50.0)


def tail_percentile(n: int) -> float | None:
    """The highest percentile of ``PERCENTILE_LADDER`` with at least ten of
    ``n`` samples beyond it, or None when even the median has fewer."""
    for p in PERCENTILE_LADDER:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the sample itself, never an interpolation)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


# --- spans ---------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None  # operation id; None for set-up and checks
    group: str  # Spark job group of the jobs this span started itself


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children count once; parts outside the span not at all)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start) - covered


class Tracer:
    """In-memory span recorder. With ``spark_context`` set, each span also
    sets a Spark job group, restored to the parent's on exit."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, time.perf_counter(), None,
                 parent.id if parent else None,
                 op if op is not None else (parent.op if parent else None),
                 f"perfbench-{sid}")
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_times(self) -> dict[int, float]:
        return {s.id: self_time(s, self.children(s)) for s in self.spans}

    def top(self, span: Span) -> Span:
        while span.parent is not None:
            span = self.spans[span.parent]
        return span

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# --- Spark event log -------------------------------------------------------------

# task-level accumulables (SQL metrics) read by name, all in ms: the scan
# node's time, and the Python/Arrow boundary of pandas-UDF plan nodes
_SCAN_MS = "scan time"
_PYTHON_MS = ("time to start Python workers", "time to initialize Python workers",
              "time to run Python workers")


@dataclass
class GroupMetrics:
    """Task metrics of one job group. The ``*_s`` fields are summed over
    tasks (task-seconds), so parallel tasks can add up to more than the
    wall time of the span."""

    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    scan_s: float = 0.0
    python_s: float = 0.0

    def add(self, other: "GroupMetrics") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def read_event_log(log_dir: str) -> dict[str, GroupMetrics]:
    """Task metrics summed per Spark job group, from uncompressed event logs
    under ``log_dir`` (one application per run)."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line[:60]:
                    e = json.loads(line)
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    out[group].jobs += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = group
                elif '"SparkListenerTaskEnd"' in line[:60]:
                    e = json.loads(line)
                    g = out[stage_group.get(e.get("Stage ID"), "")]
                    tm = e.get("Task Metrics") or {}
                    g.tasks += 1
                    g.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                    g.executor_run_s += tm.get("Executor Run Time", 0) / 1e3
                    g.gc_s += tm.get("JVM GC Time", 0) / 1e3
                    g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if name == _SCAN_MS:
                            g.scan_s += float(upd) / 1e3
                        elif name in _PYTHON_MS:
                            g.python_s += float(upd) / 1e3
    return dict(out)


SPARK_METRICS = tuple(GroupMetrics.__dataclass_fields__)


# --- memory ----------------------------------------------------------------------


class RssSampler:
    """Peak resident memory of this process's descendants (the Spark JVM and
    its Python workers), read from /proc by a thread of the benchmark
    process. Each process counts its proportional set size: pyspark forks
    its Python workers from one daemon, and plain RSS would count the pages
    they share once per worker, so the sum would jump with the worker count.
    """

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def descendants(root_pid: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except (FileNotFoundError, ProcessLookupError):
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], list(children.get(root_pid, []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    @staticmethod
    def pss_bytes(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (FileNotFoundError, ProcessLookupError):
            pass
        return 0

    @classmethod
    def descendants_rss(cls, root_pid: int) -> int:
        return sum(cls.pss_bytes(pid) for pid in cls.descendants(root_pid))

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.descendants_rss(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, self.descendants_rss(os.getpid()))
