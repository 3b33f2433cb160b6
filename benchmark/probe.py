"""Measurement helpers: process-tree CPU and RSS from ``/proc``, in-memory
spans, and Spark's own counters (event log and status tracker).

Nothing here touches the engine's code paths; it observes the process tree
that runs them.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms grain)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def _stat_fields(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields after ')' are fixed
        return f.read().rsplit(")", 1)[1].split()


def tree_pids(root: int) -> list:
    children: dict = {}
    for path in glob.glob("/proc/[0-9]*"):
        pid = int(path[6:])
        try:
            ppid = int(_stat_fields(pid)[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


# JVM just-in-time compiler threads: their work is warm-up of the JVM, not
# the engine's, and it tails off over a run's first minutes
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    total = 0
    for task in glob.glob(f"/proc/{pid}/task/*"):
        try:
            with open(task + "/comm") as f:
                if not f.read().startswith(_JIT_THREADS):
                    continue
            with open(task + "/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total


def tree_cpu_s(root: int) -> float:
    """User+system CPU of ``root`` and all its descendants, including
    descendants that already exited and were reaped (their time sits in the
    parent's cutime/cstime), less the JVM's JIT compiler threads."""
    total = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) - _jit_ticks(pid)
    return total / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and its descendants. A ``java`` child of a
    ``java`` process is left out: the JVM starts shell commands (Hadoop's
    ``chmod`` on every file it writes) through a child that shares the
    JVM's memory until it execs, and counting it would double the JVM's RSS
    in any sample that lands in that window."""
    total = 0
    for pid in tree_pids(root):
        try:
            if _comm(pid) == "java" and _comm(int(_stat_fields(pid)[1])) == "java":
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background thread sampling the summed RSS of the process tree; the
    peak since the last :meth:`reset` is the tree's peak RSS."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        self.peak = tree_rss_bytes(self.root)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))


class Tracer:
    """Spans kept in memory and written once, at exit.

    A span is (name, start, end, parent, iteration). With ``spark`` set, each
    span also names the Spark job group of the jobs it launches, so the
    event log attributes Spark time to spans. A disabled tracer records
    nothing and sets no job group."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list = []
        self._stack: list = []
        self.iteration = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "iteration": self.iteration}
        self.spans.append(rec)
        self._stack.append(idx)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(self.group_id(idx), name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    top = self._stack[-1]
                    sc.setJobGroup(self.group_id(top), self.spans[top]["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    @staticmethod
    def group_id(idx: int) -> str:
        return f"bench-span-{idx}"

    def self_times(self) -> dict:
        """name -> summed self time (duration minus the time covered by the
        span's children), over every iteration."""
        kids: dict = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(i)
        out: dict = {}
        for i, s in enumerate(self.spans):
            covered = _union_length(
                [(self.spans[k]["start"], self.spans[k]["end"]) for k in kids.get(i, ())]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_length(intervals) -> float:
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


def read_event_log(events_dir: str, app_id: str) -> dict:
    """Jobs and task totals from one application's Spark event log.

    Returns ``{"jobs": [(job_id, submit_s, end_s, group)], "tasks":
    [(job_id, gc_s, shuffle_write_bytes)]}``; stage ids map tasks to jobs.
    """
    paths = [p for p in glob.glob(os.path.join(events_dir, "*"))
             if os.path.basename(p) == app_id]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {events_dir}")
    jobs: dict = {}
    stage_job: dict = {}
    tasks: list = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = [jid, ev["Submission Time"] / 1000, None,
                             props.get("spark.jobGroup.id")]
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][2] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                tasks.append((stage_job.get(ev["Stage ID"]), m.get("JVM GC Time", 0) / 1000, sw))
    return {"jobs": [tuple(j) for j in jobs.values()], "tasks": tasks}


def spark_counters(jobs: list, tasks: list, window: tuple) -> dict:
    """Spark counters of one traced iteration: its ``jobs`` (event-log job
    tuples) and their tasks. ``driver_think_s`` is the part of the
    iteration's wall-clock ``window`` that no job covers."""
    ws, we = window
    ids = {j[0] for j in jobs}
    mine = [t for t in tasks if t[0] in ids]
    busy = _union_length([(max(j[1], ws), min(j[2] or we, we)) for j in jobs])
    return {
        "jobs": len(jobs),
        "tasks": len(mine),
        "gc_s": sum(t[1] for t in mine),
        "shuffle_bytes": sum(t[2] for t in mine),
        "driver_think_s": (we - ws) - busy,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(base, fn))
    return total
