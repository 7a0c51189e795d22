"""Tracing kept in the benchmark's own files: spans around public calls,
Spark event-log counts per job group, and per-process counters read
from ``/proc``. Nothing here needs a change to the package."""

from __future__ import annotations

import gc
import hashlib
import json
import os
import subprocess
import time
from collections import defaultdict
from pathlib import Path


class Tracer:
    """In-memory span recorder. A span is ``[name, start, end, parent,
    rid]`` with ``perf_counter`` times; the parent is the enclosing open
    span and the request id is inherited from it unless given. Spans are
    written out only by ``dump``. When disabled, ``span`` records
    nothing and costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._open: list[int] = []
        #: time spent inside the recorder itself
        self.cost_s = 0.0
        self.epoch0 = time.time() - time.perf_counter()

    def span(self, name: str, rid=None):
        return _Span(self, name, rid) if self.enabled else _NOOP

    def _enter(self, name, rid):
        t0 = time.perf_counter()
        parent = self._open[-1] if self._open else -1
        if rid is None and parent >= 0:
            rid = self.spans[parent][4]
        self._open.append(len(self.spans))
        self.spans.append([name, 0.0, 0.0, parent, rid])
        t1 = time.perf_counter()
        self.spans[-1][1] = t1
        self.cost_s += t1 - t0

    def _exit(self):
        t0 = time.perf_counter()
        self.spans[self._open.pop()][2] = t0
        self.cost_s += time.perf_counter() - t0

    def window(self, name: str) -> tuple[float, float] | None:
        """Epoch-second bounds of the last span called ``name``."""
        for s in reversed(self.spans):
            if s[0] == name:
                return self.epoch0 + s[1], self.epoch0 + s[2]
        return None

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds. Self time is a
        span's duration minus the time its child spans cover (children
        of one span never overlap: spans nest on one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] >= 0:
                child[s[3]] += s[2] - s[1]
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            row = out.setdefault(s[0], {"calls": 0, "total_s": 0.0,
                                        "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += s[2] - s[1]
            row["self_s"] += s[2] - s[1] - child[i]
        return out

    def dump(self, path: Path) -> None:
        rows = [{"name": s[0], "start": s[1], "end": s[2], "parent": s[3],
                 "rid": s[4]} for s in self.spans]
        path.write_text(json.dumps(rows))


class _Span:
    __slots__ = ("tr", "name", "rid")

    def __init__(self, tr, name, rid):
        self.tr, self.name, self.rid = tr, name, rid

    def __enter__(self):
        self.tr._enter(self.name, self.rid)
        return self

    def __exit__(self, *exc):
        self.tr._exit()
        return False


class _Noop:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NOOP = _Noop()


class GcTimer:
    """Total time spent in Python's cyclic garbage collector while
    installed (``gc.callbacks``)."""

    def __init__(self):
        self.total_s = 0.0
        self._t0 = 0.0

    def _cb(self, phase, info):
        if phase == "start":
            self._t0 = time.perf_counter()
        else:
            self.total_s += time.perf_counter() - self._t0

    def __enter__(self):
        gc.callbacks.append(self._cb)
        return self

    def __exit__(self, *exc):
        gc.callbacks.remove(self._cb)
        return False


# ---------------------------------------------------------------------------
# /proc counters
# ---------------------------------------------------------------------------

def read_rchar() -> tuple[int, int]:
    """``(rchar, n)``: bytes this process has read through read-family
    system calls, and the ``n`` bytes this call itself read (which the
    next reading includes)."""
    with open("/proc/self/io", "rb") as f:
        raw = f.read()
    for line in raw.split(b"\n"):
        if line.startswith(b"rchar:"):
            return int(line.split()[1]), len(raw)
    return 0, len(raw)


def _status_kb(pid, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_mb(pid="self") -> float:
    return _status_kb(pid, "VmRSS:") / 1024.0


def descendants(root: int | None = None) -> list[int]:
    """Live descendant pids of ``root`` (default: this process)."""
    root = root or os.getpid()
    kids = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` runs (an exited, unreaped process does not)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) in MB of this process and of its live
    descendants, summed per command name. The sum over names bounds
    their joint peak from above."""
    out: dict[str, float] = defaultdict(float)
    for pid in ["self"] + descendants():
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = "driver" if pid == "self" else f.read().strip()
        except OSError:
            continue
        out[name] += _status_kb(pid, "VmHWM:") / 1024.0
    return dict(out)


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _own_ticks() -> int:
    """CPU ticks of this process and every child it has reaped."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15])


class Stamp:
    """Interference stamp of a run: the box's steal share and the CPU
    share used by processes outside this run, from ``/proc/stat``."""

    def __init__(self):
        self.t0 = _cpu_line()
        self.own0 = _own_ticks()

    def finish(self, repo: Path) -> dict:
        t1, own1 = _cpu_line(), _own_ticks()
        d = [b - a for a, b in zip(self.t0, t1)]
        total = sum(d[:8]) or 1
        idle = d[3] + d[4]
        steal = d[7]
        busy = total - idle - steal
        foreign = max(0, busy - (own1 - self.own0))
        return {"steal_frac": round(steal / total, 4),
                "foreign_cpu_frac": round(foreign / total, 4),
                "nproc": nproc(), "commit": commit_id(repo)}


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit_id(repo: Path) -> str:
    """The git commit when the tree is a checkout, else a hash of the
    package sources."""
    if (repo / ".git").exists():
        try:
            return subprocess.run(["git", "-C", str(repo), "rev-parse", "HEAD"],
                                  capture_output=True, text=True, timeout=10,
                                  check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for p in sorted((repo / "jivesearch_spark").rglob("*.py")):
        h.update(p.relative_to(repo).as_posix().encode())
        h.update(p.read_bytes())
    return "src-" + h.hexdigest()[:12]


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def spark_counts(event_dir: Path, windows: dict[str, tuple[float, float]]) -> dict:
    """Per job group: jobs, tasks, shuffle write, spill, GC, CPU share of
    task run time, input bytes and task skew, from the event log(s) in
    ``event_dir``. A job with no group (e.g. one submitted from a thread
    the package starts) is assigned to the group whose epoch-second
    window holds its submission time."""
    stage_group: dict[int, str] = {}
    jobs = defaultdict(int)
    tasks: dict[str, dict[int, list]] = defaultdict(lambda: defaultdict(list))
    agg = defaultdict(lambda: defaultdict(float))
    for path in sorted(p for p in event_dir.rglob("*") if p.is_file()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if not g:
                        t = ev.get("Submission Time", 0) / 1000.0
                        g = next((n for n, (a, b) in windows.items()
                                  if a <= t <= b), "(none)")
                    jobs[g] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), "(none)")
                    m = ev.get("Task Metrics") or {}
                    a = agg[g]
                    run_ms = m.get("Executor Run Time", 0)
                    a["tasks"] += 1
                    a["run_ms"] += run_ms
                    a["cpu_ns"] += m.get("Executor CPU Time", 0)
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                                 or {}).get("Shuffle Bytes Written", 0)
                    a["input_bytes"] += (m.get("Input Metrics")
                                         or {}).get("Bytes Read", 0)
                    tasks[g][ev.get("Stage ID")].append(run_ms)
    out = {}
    for g in set(jobs) | set(agg):
        a = agg[g]
        skew = 1.0
        for runs in tasks[g].values():
            if len(runs) >= 4:
                runs = sorted(runs)
                med = runs[len(runs) // 2]
                skew = max(skew, runs[-1] / med if med else 1.0)
        out[g] = {"jobs": jobs[g], "tasks": int(a["tasks"]),
                  "shuffle_write_bytes": a["shuffle_write_bytes"],
                  "spill_bytes": a["spill_bytes"],
                  "gc_s": a["gc_ms"] / 1000.0,
                  "cpu_frac": (a["cpu_ns"] / 1e6 / a["run_ms"]
                               if a["run_ms"] else 0.0),
                  "task_skew": skew,
                  "input_bytes": a["input_bytes"]}
    return out
