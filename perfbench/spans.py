"""Spans, Spark event-log parsing, storage walks and process memory.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into ``xdlake_spark``, Spark's per-job figures come
from its event log, storage figures from walking table directories, and
memory from ``/proc``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


def tail(values: list[float]) -> tuple[int, float]:
    """(p, p-th percentile) for the highest whole percentile that has at
    least ten samples above it; the median when there are too few."""
    s = sorted(values)
    n = len(s)
    for p in range(99, 50, -1):
        idx = max(math.ceil(p / 100 * n) - 1, 0)
        if n - idx - 1 >= 10:
            return p, s[idx]
    return 50, p50(values)


@dataclass
class Span:
    name: str
    start: float                # epoch seconds
    end: float = 0.0
    parent: int | None = None   # index into Recorder.spans
    op: int = 0                 # id of the top-level operation
    layer: str = "table"
    role: str = ""              # "write" / "read" on top-level ops
    info: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


@dataclass
class Recorder:
    """Times operations, counts wrong answers, and keeps spans in memory.

    A top-level span is one user-visible operation; nested spans split
    it. With ``tracing`` on, each span tags its Spark jobs with a job
    group named ``<span index>:<span name>`` so the event log can be
    joined back to it. After each write or read op, untimed by the op,
    ``ref_job`` runs ``ref_repeats`` times and its latencies go to
    ``ref_ms`` as ``(op span index, ms)``."""

    spark: object = None
    tracing: bool = False
    spans: list[Span] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    ref_job: object = None      # run after each write and read op
    ref_repeats: int = 1        # ... this many times
    ref_ms: list[tuple[int, float]] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _last_op_failed: bool = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str = "table", role: str = ""):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self.attempted += 1
            self._last_op_failed = False
            op = self.attempted
        else:
            op = self.spans[parent].op
        idx = len(self.spans)
        s = Span(name, 0.0, parent=parent, op=op, layer=layer, role=role)
        self.spans.append(s)
        self._stack.append(idx)
        sc = self.spark.sparkContext if self.tracing else None
        if sc is not None:
            sc.setJobGroup(f"{idx}:{name}", name)
        s.start = time.time()
        try:
            yield s
        except Exception as e:
            self.fail(f"{name}: {type(e).__name__}: {e}")
            raise
        finally:
            s.end = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    p = self._stack[-1]
                    sc.setJobGroup(f"{p}:{self.spans[p].name}",
                                   self.spans[p].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            if role in ("write", "read") and self.ref_job is not None:
                for _ in range(self.ref_repeats):
                    t0 = time.perf_counter()
                    self.ref_job()
                    self.ref_ms.append(
                        (idx, (time.perf_counter() - t0) * 1000))

    def op(self, name: str, role: str, layer: str = "table"):
        """A top-level, user-visible operation."""
        return self.span(name, layer=layer, role=role)

    def fail(self, msg: str) -> None:
        """Count the last operation as failed (once) and keep why."""
        self.errors.append(msg)
        if not self._last_op_failed:
            self.failed += 1
            self._last_op_failed = True

    def check(self, ok: bool, msg: str) -> None:
        """Check the answer of the last operation against the oracle."""
        if not ok:
            self.fail(msg)

    def durations(self, name: str, since: int = 0) -> list[float]:
        return [s.ms for s in self.spans[since:] if s.name == name]


# -- Spark event log ----------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_mem",
    "internal.metrics.diskBytesSpilled": "spill_disk",
}


def spark_jobs_by_span(event_dir: str) -> dict[int, list[dict]]:
    """Parse the newest event log under ``event_dir`` into
    ``span index -> [job]``, each job with its interval (epoch ms), task
    count, widest stage, executor run and CPU time, shuffle and spill.
    Job groups are the ``<span index>:<name>`` tags ``Recorder`` sets."""
    logs = sorted(glob.glob(os.path.join(event_dir, "*")),
                  key=os.path.getmtime)
    if not logs:
        return {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(logs[-1], "rb") as f:
        for line in f:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not group or ":" not in group:
                    continue
                jid = ev["Job ID"]
                jobs[jid] = {"span": int(group.split(":", 1)[0]),
                             "t0": ev["Submission Time"],
                             "t1": ev["Submission Time"]}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                m = {"tasks": si.get("Number of Tasks", 0)}
                for acc in si.get("Accumulables", []):
                    key = _ACC.get(acc.get("Name"))
                    if key:
                        m[key] = int(acc.get("Value") or 0)
                stages[si["Stage ID"]] = m
    for sid, m in stages.items():
        job = jobs.get(stage_job.get(sid))
        if job is None:
            continue
        job["tasks"] = job.get("tasks", 0) + m["tasks"]
        job["max_stage_tasks"] = max(job.get("max_stage_tasks", 0),
                                     m["tasks"])
        for key in ("run_ms", "cpu_ns", "shuffle_bytes"):
            job[key] = job.get(key, 0) + m.get(key, 0)
        job["spill_bytes"] = (job.get("spill_bytes", 0)
                              + m.get("spill_mem", 0) + m.get("spill_disk", 0))
    out: dict[int, list[dict]] = {}
    for job in jobs.values():
        out.setdefault(job["span"], []).append(job)
    return out


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float
             ) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def self_times(rec: Recorder, jobs: dict[int, list[dict]]
               ) -> dict[int, dict[str, float]]:
    """Per top-level op: milliseconds by layer. A span's self time is
    its wall minus its child spans; the part covered by its own Spark
    jobs counts as ``spark``, the rest as the span's layer. The layers of
    one op therefore add up to its wall time."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(rec.spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    out: dict[int, dict[str, float]] = {}
    for i, s in enumerate(rec.spans):
        lo, hi = s.start * 1000, s.end * 1000
        kids = [(rec.spans[c].start * 1000, rec.spans[c].end * 1000)
                for c in children.get(i, [])]
        own = hi - lo - union_ms(kids, lo, hi)
        spark = union_ms([(j["t0"], j["t1"]) for j in jobs.get(i, [])],
                         lo, hi) - _overlap(jobs.get(i, []), kids, lo, hi)
        root = i
        while rec.spans[root].parent is not None:
            root = rec.spans[root].parent
        layers = out.setdefault(root, {})
        layers["spark"] = layers.get("spark", 0.0) + spark
        layers[s.layer] = layers.get(s.layer, 0.0) + own - spark
    return out


def _overlap(jobs: list[dict], kids: list[tuple[float, float]],
             lo: float, hi: float) -> float:
    """Part of the span's own job time that falls inside child spans
    (already counted there)."""
    if not jobs or not kids:
        return 0.0
    both = []
    for j in jobs:
        for a, b in kids:
            x, y = max(j["t0"], a), min(j["t1"], b)
            if y > x:
                both.append((x, y))
    return union_ms(both, lo, hi)


# -- storage and process ------------------------------------------------------

def walk_table(path: str) -> tuple[dict[str, int], int, int]:
    """(data file -> bytes, _delta_log bytes, JSON log entries after the
    last checkpoint) for a table directory."""
    data: dict[str, int] = {}
    log_bytes = 0
    for d, _, files in os.walk(path):
        in_log = "_delta_log" in d
        for f in files:
            p = os.path.join(d, f)
            try:
                size = os.path.getsize(p)
            except OSError:
                continue
            if in_log:
                log_bytes += size
            elif f.endswith(".parquet") or f.endswith(".bin"):
                data[p] = size
    tail = 0
    log_dir = os.path.join(path, "_delta_log")
    if os.path.isdir(log_dir):
        cp = -1
        try:
            with open(os.path.join(log_dir, "_last_checkpoint")) as f:
                cp = int(json.load(f)["version"])
        except (OSError, ValueError, KeyError):
            pass
        tail = sum(1 for f in os.listdir(log_dir)
                   if f.endswith(".json") and f[:20].isdigit()
                   and int(f[:20]) > cp)
    return data, log_bytes, tail


def _proc_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus the Spark JVM
    it launched. Python workers the JVM forks are not counted."""
    total = 0
    for p in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
            if p != os.getpid() and b"java" not in cmd.split(b"\0")[0]:
                continue
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024
