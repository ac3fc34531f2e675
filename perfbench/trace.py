"""Spans around the benchmark's calls into kgtm, and the Spark counters behind them.

No kgtm file is changed. The benchmark opens a span around each call into a
kgtm module's public functions, its own calls and those kgtm's entry points
make through the wrappers of ``ops.substituted``; the span sets the Spark local
property ``perfbench.span`` (the job tag) so every job that call submits
carries the span's id into Spark's event log. After the session stops, the
event log is read back and each stage's task counters are attributed to the
span whose tag its job carries. Jobs submitted from threads the tag cannot
reach (e.g. a streaming query's own thread) fall back to the innermost span
open at the job's submission time; spans of one run never overlap except by
nesting, so the fallback is unambiguous.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

SPAN_PROPERTY = "perfbench.span"

#: counters every module span records (the generic per-layer set)
GENERIC = (
    "wall_s",
    "plan_s",
    "exec_cpu_s",
    "tasks",
    "task_max_s",
    "shuffle_write_mb",
    "spill_mb",
    "driver_gap_s",
)


@dataclass
class Span:
    id: int
    module: str
    part: str
    op: int
    start: float
    parent: int | None
    end: float = 0.0
    plan_end: float | None = None

    def planned(self) -> None:
        """Mark the moment the lazy kgtm call returned (end of ``plan_s``)."""
        self.plan_end = time.time()


@dataclass
class Tracer:
    """In-memory span recorder; spans are read out when the run ends."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    op: int = 0
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, module: str, part: str = ""):
        s = Span(
            id=len(self.spans),
            module=module,
            part=part or module,
            op=self.op,
            start=time.time(),
            parent=self._stack[-1].id if self._stack else None,
        )
        self.spans.append(s)
        self._stack.append(s)
        prev = self.sc.getLocalProperty(SPAN_PROPERTY)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(s.id))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROPERTY, prev)


def event_log_lines(log_dir: str, app_id: str) -> list[dict]:
    """Events of one application, from the rolling ``eventlog_v2_<app>/
    events_<n>_<app>`` layout (uncompressed), in file order."""
    files = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    events = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_counters(events: list[dict], spans: list[Span]) -> dict[int, dict]:
    """Per span id: exec_cpu_s, tasks, task_max_s, shuffle_write_mb, spill_mb
    and stage_s (the union of its stages' run intervals inside the span)."""
    by_id = {s.id: s for s in spans}

    def innermost(t: float) -> Span | None:
        hits = [s for s in spans if s.start <= t <= s.end]
        return max(hits, key=lambda s: s.start) if hits else None

    stage_span: dict[int, int] = {}
    for e in events:
        if e["Event"] != "SparkListenerJobStart":
            continue
        tag = (e.get("Properties") or {}).get(SPAN_PROPERTY)
        owner = by_id.get(int(tag)) if tag is not None else None
        owner = owner or innermost(e["Submission Time"] / 1000)
        if owner is None:
            continue
        for sid in e["Stage IDs"]:
            stage_span.setdefault(sid, owner.id)

    out = {
        s.id: {
            "exec_cpu_s": 0.0,
            "tasks": 0,
            "task_max_s": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
            "_stages": [],
        }
        for s in spans
    }
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if sid is None or not m:
                continue
            c, info = out[sid], e["Task Info"]
            c["exec_cpu_s"] += m["Executor CPU Time"] / 1e9
            c["tasks"] += 1
            c["task_max_s"] = max(
                c["task_max_s"], (info["Finish Time"] - info["Launch Time"]) / 1000
            )
            c["shuffle_write_mb"] += (
                m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
            )
            c["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 2**20
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = stage_span.get(info["Stage ID"])
            if sid is None or "Submission Time" not in info:
                continue
            sp = by_id[sid]
            lo = max(info["Submission Time"] / 1000, sp.start)
            hi = min(info["Completion Time"] / 1000, sp.end)
            if hi > lo:
                out[sid]["_stages"].append((lo, hi))
    for c in out.values():
        c["stage_s"] = _union_s(c.pop("_stages"))
    return out


def module_totals(spans: list[Span], counters: dict[int, dict]) -> dict[int, dict]:
    """Per traced op: {module: generic counters summed over its spans}.

    ``wall_s`` is self time (a span's duration minus its child spans'),
    ``driver_gap_s`` is self time minus the union of the span's own stages."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + (s.end - s.start)
    per_op: dict[int, dict] = {}
    for s in spans:
        c = counters[s.id]
        self_s = (s.end - s.start) - child_s.get(s.id, 0.0)
        m = per_op.setdefault(s.op, {}).setdefault(
            s.module, {k: 0.0 for k in GENERIC} | {"parts": {}}
        )
        m["wall_s"] += self_s
        m["plan_s"] += (s.plan_end - s.start) if s.plan_end else 0.0
        m["driver_gap_s"] += max(0.0, self_s - c["stage_s"])
        for k in ("exec_cpu_s", "tasks", "shuffle_write_mb", "spill_mb"):
            m[k] += c[k]
        m["task_max_s"] = max(m["task_max_s"], c["task_max_s"])
        m["parts"][s.part] = m["parts"].get(s.part, 0.0) + self_s
    return per_op


def unexplained_shares(spans: list[Span]) -> list[float]:
    """Per traced op: the share of the "op" span's wall time that no module
    span inside it covers."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + (s.end - s.start)
    return [
        1 - child_s.get(s.id, 0.0) / (s.end - s.start)
        for s in spans
        if s.module == "op" and s.end > s.start
    ]


class EpochListener(StreamingQueryListener):
    """Benchmark-side record of every micro-batch's progress report."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.terminated: list[str] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._cv:
            self.progress.append(
                {
                    "query": str(p.id),
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated.append(str(event.id))
            self._cv.notify_all()

    def mark(self) -> int:
        """Number of queries terminated so far; pass it to :meth:`epochs_after`."""
        with self._cv:
            return len(self.terminated)

    def epochs_after(self, mark: int, timeout: float = 60.0) -> list[dict]:
        """Progress reports of the first query to terminate after ``mark``
        (events reach the listener asynchronously; a query's progress
        precedes its end)."""
        with self._cv:
            if not self._cv.wait_for(lambda: len(self.terminated) > mark, timeout):
                raise TimeoutError("streaming query end never reached the listener")
            qid = self.terminated[mark]
            return [p for p in self.progress if p["query"] == qid]


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    this process and all its live descendants: the Python driver, the JVM it
    launched and the Python workers the JVM forked."""
    tick = os.sysconf("SC_CLK_TCK")
    children, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # the process ended while /proc was listed
            continue
        f = stat[stat.rindex(b")") + 2 :].split()
        children.setdefault(int(f[1]), []).append(int(d))
        cpu[int(d)] = sum(int(x) for x in f[11:15]) / tick
    todo, total = [os.getpid()], 0.0
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(children.get(pid, ()))
    return total


def stolen_s() -> float:
    """CPU seconds, summed over this VM's CPUs, that the hypervisor gave to
    other guests while those CPUs wanted to run (the ``steal`` column of
    /proc/stat), since boot."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


#: a fixed pure-Python loop that prints the CPU seconds it took
_PROBE = "import time\nx = 0\nfor i in range(3000000):\n    x ^= i * i\nprint(time.process_time())"


def probe_cpu_s(n: int) -> float:
    """Median CPU seconds of :data:`_PROBE` run in ``n`` fresh interpreters
    at once: how fast the host's CPUs run right now. It moves with what
    steal does not show, such as the clock frequency and the load other
    tenants put on sibling hyperthreads; it does not depend on kgtm."""
    procs = [
        subprocess.Popen([sys.executable, "-S", "-c", _PROBE], stdout=subprocess.PIPE, text=True)
        for _ in range(n)
    ]
    return statistics.median(float(p.communicate()[0]) for p in procs)


class Stopwatch:
    """Wall seconds, process-tree CPU seconds and stolen CPU seconds since
    construction."""

    def __init__(self) -> None:
        self.t0, self.c0, self.s0 = time.perf_counter(), tree_cpu_s(), stolen_s()

    def read(self) -> tuple[float, float, float]:
        return time.perf_counter() - self.t0, tree_cpu_s() - self.c0, stolen_s() - self.s0


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float | None, float]:
    """(p, value): the highest percentile with at least ``beyond`` samples
    above it, by the nearest-rank rule. A sample too small to have one gives
    (None, max): no percentile is resolved, and the maximum bounds the tail."""
    xs = sorted(values)
    if len(xs) <= beyond:
        return None, xs[-1]
    k = len(xs) - beyond - 1
    return 100.0 * k / (len(xs) - 1), xs[k]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
