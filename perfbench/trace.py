"""Measurement plumbing: spans, Spark event-log counters, the RSS
sampler and host counters.

Layers are measured from outside the engine: the benchmark wraps its
calls into each module in a span, labels the Spark jobs a span submits
with a job group named after the span, and reads Spark's own counters
from the session's event log after the session stops.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

# Spark 4.1 defaults to zstd-compressed rolling logs and zstandard is
# not installed, so the traced session asks for a plain single file.
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


class NoTrace:
    """Stands in for a Tracer where no spans are wanted."""

    def span(self, name: str):
        return contextlib.nullcontext()


@dataclass
class Tracer:
    """In-memory span recorder.  With ``spark`` set, every span also
    becomes the job group of the jobs the calling thread submits."""

    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), parent=parent and parent.id)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"span-{s.id}", s.name)

    def seconds(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(self.seconds(name))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f)


# ------------------------------------------------------------ event log


def _acc(stage_info: dict, name: str) -> float:
    for a in stage_info.get("Accumulables", ()):
        if a.get("Name") == name:
            return float(a.get("Value") or 0)
    return 0.0


def event_log_counters(path: str, groups: set[str]) -> dict[str, float]:
    """Sum Spark's task and stage counters over the jobs whose job
    group is in ``groups`` (the span ids of the timed calls).

    Times are seconds, sizes bytes.  ``tasks``/``jobs`` are counts.
    ``task_skew`` is max / median task time in the longest stage."""
    stages: set[int] = set()
    jobs = set()
    tasks: dict[int, list[float]] = {}
    out = dict.fromkeys(
        (
            "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes",
            "shuffle_fetch_wait_s", "spill_bytes", "python_bytes_to",
            "python_bytes_from", "python_boot_s", "python_run_s",
        ),
        0.0,
    )
    longest = (-1.0, [])
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                if (e.get("Properties") or {}).get("spark.jobGroup.id") in groups:
                    jobs.add(e["Job ID"])
                    stages.update(e.get("Stage IDs", ()))
            elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                tasks.setdefault(e["Stage ID"], []).append(
                    (ti["Finish Time"] - ti["Launch Time"]) / 1e3
                )
                out["tasks"] += 1
                out["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                out["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                out["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                out["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                rd = tm.get("Shuffle Read Metrics") or {}
                out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                out["shuffle_fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1e3
                wr = tm.get("Shuffle Write Metrics") or {}
                out["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if si["Stage ID"] not in stages:
                    continue
                # Python-runner SQL metrics: sizes in bytes, times in ms
                out["python_bytes_to"] += _acc(si, "data sent to Python workers")
                out["python_bytes_from"] += _acc(
                    si, "data returned from Python workers"
                )
                out["python_boot_s"] += (
                    _acc(si, "time to start Python workers")
                    + _acc(si, "time to initialize Python workers")
                ) / 1e3
                out["python_run_s"] += _acc(si, "time to run Python workers") / 1e3
                wall = (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1e3
                if wall > longest[0]:
                    longest = (wall, tasks.get(si["Stage ID"], []))
    out["jobs"] = float(len(jobs))
    times = longest[1]
    med = statistics.median(times) if times else 0.0
    out["task_skew"] = max(times) / med if med > 0 else 1.0
    return out


def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    files = [f for f in files if os.path.isfile(f) and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
    return files[0]


def persisted_rdds(spark) -> int:
    """RDDs the session still holds persisted (a leak shows as growth)."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


# ------------------------------------------------------------ processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


RSS_INTERVAL_S = 0.1


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark JVM and
    the Python workers it forks), sampled from /proc while running."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def host_snapshot() -> tuple[float, int, int]:
    """(1-minute loadavg, steal ticks, total ticks) from /proc."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    ticks = [int(x) for x in parts[1:]]
    return os.getloadavg()[0], ticks[7], sum(ticks)


def steal_pct(before: tuple[float, int, int], after: tuple[float, int, int]) -> float:
    dt = after[2] - before[2]
    return 100.0 * (after[1] - before[1]) / dt if dt > 0 else 0.0
