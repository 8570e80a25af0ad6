"""Measurement helpers: process-tree RSS sampling, byte accounting, Spark
job/task counts and an in-memory span tracer.

Nothing here imports cdcrypt or pyspark at module level, so the harness can
report a missing program before it touches Spark.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time


# ---------- process tree ----------

def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces/parens: the ppid is the 2nd field after ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    """All live descendants of ``root`` (the JVM, the PySpark daemon and
    its Python workers, when ``root`` is this process)."""
    return [pid for pid, _ in _tree(root)]


def _tree(root: int) -> list[tuple[int, int]]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        parent = stack.pop()
        for c in children.get(parent, []):
            out.append((c, parent))
            stack.append(c)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """One thread sampling the summed RSS of this process and all of its
    descendants; :meth:`stop` returns the largest sample seen, in MiB."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        # a JVM child of the JVM is a fork about to exec (it shares the
        # parent's pages until then): counting it would double the JVM
        pids = [me]
        for p, parent in _tree(me):
            exe = _exe(p)
            if not (exe.endswith("/java") and exe == _exe(parent)):
                pids.append(p)
        parts = [_rss_bytes(p) for p in pids]
        if sum(parts) > self.peak:
            self.peak, self.peak_parts = sum(parts), parts

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak / (1 << 20)


def stop_process_tree(pids: list[int], timeout_s: float = 30.0) -> None:
    """SIGTERM then SIGKILL ``pids``; return once none of them is alive."""
    def alive(p: int) -> bool:
        # a zombie thread-group leader is still running while any of its
        # other threads are (a JVM in shutdown shows as "Zl")
        try:
            with open(f"/proc/{p}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
            return state != "Z" or len(os.listdir(f"/proc/{p}/task")) > 1
        except OSError:
            return False

    for sig, wait_s in ((signal.SIGTERM, timeout_s), (signal.SIGKILL, 10.0)):
        for p in pids:
            if alive(p):
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            # reap our own children so they do not linger as zombies
            for p in pids:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            if not any(alive(p) for p in pids):
                return
            time.sleep(0.1)


# ---------- bytes ----------

def tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def snapshot_bytes(table) -> int:
    """Bytes of the data files the table's current snapshot references."""
    return sum(os.path.getsize(os.path.join(table.root, f["path"]))
               for f in table.snapshot["files"])


# ---------- Spark job accounting ----------

def group_jobs_tasks(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in (info.stageIds if info else []):
            st = tracker.getStageInfo(s)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


# ---------- statistics ----------

def median(xs) -> float:
    return float(statistics.median(xs))


# ---------- tracing ----------

class Tracer:
    """In-memory spans: name, start, end, parent and run id. Spans are only
    written out by :meth:`dump`, after the measured work."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> int:
        self.spans.append({"id": len(self.spans), "run": self.run_id,
                           "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time(self, span_id: int) -> float:
        """Span duration minus the union of its children's intervals."""
        s = self.spans[span_id]
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == span_id)
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
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                out = dict(s, self_s=self.self_time(s["id"]))
                f.write(json.dumps(out) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs
        self.id: int | None = None

    def __enter__(self) -> "_Span":
        parent = self.t._stack[-1] if self.t._stack else None
        now = self.t.now()
        self.id = self.t.add(self.name, now, now, parent, **self.attrs)
        self.t._stack.append(self.id)
        return self

    def __exit__(self, *exc) -> None:
        self.t.spans[self.id]["end"] = self.t.now()
        self.t._stack.pop()
