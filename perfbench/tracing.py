"""Measurement plumbing: in-memory spans around calls into the package,
exact py4j command counts, process-tree CPU and RSS from /proc, host steal
ticks, and the Spark event-log parser behind the ``exec.*`` metrics.

Spans are recorded from the benchmark's own files only: around a direct
call, or by swapping a module attribute that a public function looks up
at call time (``Tracer.wrap``). Nothing inside the package is edited.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

# py4j sends "m\nd\n<id>\ne\n" when a Python-side JavaObject proxy is
# garbage-collected. When that happens is up to the Python GC, so counting
# these made the validate() build count range from 6,277 to 8,423 on
# identical calls; without them it is the same on every call.
_GC_DETACH = "m\nd\n"


class Py4jCounter:
    """Counts py4j commands per Python thread (Structured Streaming runs
    foreachBatch bodies on a callback thread, apart from the main one)."""

    def __init__(self):
        self._counts: dict[int, int] = defaultdict(int)
        self._client = None
        self._orig = None

    def install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        counts = self._counts

        @functools.wraps(orig)
        def send_command(command, *args, **kwargs):
            if not command.startswith(_GC_DETACH):
                counts[threading.get_ident()] += 1
            return orig(command, *args, **kwargs)

        self._client, self._orig = client, orig
        client.send_command = send_command

    def uninstall(self) -> None:
        if self._client is not None:
            self._client.send_command = self._orig
            self._client = None

    def here(self) -> int:
        return self._counts[threading.get_ident()]


@dataclass
class Span:
    name: str
    start: float        # time.time(), so spans line up with event-log stamps
    end: float
    op: int             # the op (request) the span belongs to
    parent: int | None  # index of the enclosing span in Tracer.spans
    py4j: int


class Tracer:
    """Spans kept in memory, written out once at the end of the run.

    ``enabled`` is switched per op, so a traced run can interleave traced
    and untraced ops and measure its own overhead."""

    def __init__(self, counter: Py4jCounter | None = None):
        self.counter = counter
        self.enabled = False
        self.op = -1
        self.spans: list[Span] = []
        self._stack = threading.local()
        self._patches: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("s", [])
        parent = stack[-1] if stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, self.op, parent, 0))
        stack.append(idx)
        c0 = self.counter.here() if self.counter else 0
        try:
            yield
        finally:
            s = self.spans[idx]
            s.end = time.time()
            s.py4j = (self.counter.here() if self.counter else 0) - c0
            stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanning wrapper until restore()."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, owner.__dict__.get(attr, orig)
                              if isinstance(owner, type) else orig))
        setattr(owner, attr, wrapped)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def of(self, name: str, ops: set[int]) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.op in ops]

    def self_time(self, idx: int) -> float:
        """Duration minus the part covered by direct children."""
        s = self.spans[idx]
        kids = sorted((c.start, c.end) for c in self.spans
                      if c.parent == idx)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s.end - s.start) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# ---- /proc ---------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    for f in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(f) as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            pass
    return out


def tree(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime of each process, plus what it has reaped from exited
    children, in seconds."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def python_pids(pids: list[int], exclude: int) -> list[int]:
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/comm") as fh:
                if p != exclude and fh.read().startswith("python"):
                    out.append(p)
        except OSError:
            continue
    return out


def python_peak_rss_mb(pids: list[int]) -> float:
    """Summed VmHWM (peak RSS) of ``pids``."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


# ---- Spark event log -----------------------------------------------------

@dataclass
class Task:
    stage: int
    job: int | None
    run_ms: int
    peak_exec: int
    spill: int
    shuffle_write: int


@dataclass
class EventLog:
    jobs: dict           # job id -> submission ms
    tasks: list          # Task
    storage: list        # (ms, rdd-block bytes cached after the update)


def read_event_log(log_dir: str) -> EventLog:
    """Parse the single finished application log under ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    jobs, stage_job, tasks, storage = {}, {}, [], []
    blocks: dict = {}
    cached = 0
    last_ms = 0
    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = e["Submission Time"]
                last_ms = e["Submission Time"]
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e["Task Info"]
                last_ms = info["Finish Time"]
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(Task(
                    stage=e["Stage ID"], job=stage_job.get(e["Stage ID"]),
                    run_ms=m.get("Executor Run Time", 0),
                    peak_exec=m.get("Peak Execution Memory", 0),
                    spill=(m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0)),
                    shuffle_write=sw.get("Shuffle Bytes Written", 0)))
            elif ev == "SparkListenerBlockUpdated":
                info = e["Block Updated Info"]
                bid = info["Block ID"]
                if not bid.startswith("rdd_"):
                    continue
                size = info["Memory Size"] + info["Disk Size"]
                cached += size - blocks.get(bid, 0)
                blocks[bid] = size
                storage.append((last_ms, cached))
    return EventLog(jobs, tasks, storage)


def in_windows(ms: int, windows: list) -> int | None:
    """Index of the (start_s, end_s) window holding epoch-ms ``ms``."""
    t = ms / 1000
    for k, (a, b) in enumerate(windows):
        if a <= t <= b:
            return k
    return None
