"""Spans, Spark event-log attribution and process-tree memory for perfbench.

Spans are kept in memory (name, start, end, parent, op index, run id) and
written once at exit. Each span tags the Spark jobs it launches with
``setJobDescription``; after the session stops, the event log's task
metrics are summed per span through that description. Layers inside the
runner are reached by wrapping public module attributes from this file
(:meth:`Tracer.wrap`), never by editing the engine.
"""

from __future__ import annotations

import contextlib
import ctypes
import functools
import glob
import json
import os
import platform
import statistics
import threading
import time
import uuid

#: kcmp(2) system call number per machine; KCMP_VM compares address spaces
_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_LIBC = ctypes.CDLL(None, use_errno=True)


def _same_address_space(a: int, b: int) -> bool:
    return _KCMP is not None and _LIBC.syscall(_KCMP, a, b, 1, 0, 0) == 0


class RssSampler:
    """Peak resident memory of a process and all its descendants (the JVM
    and the Python workers it forks), sampled from ``/proc`` every
    ``period`` seconds on a daemon thread. Each process counts its
    proportional set size (``Pss`` in ``smaps_rollup``: a page shared by n
    processes counts 1/n in each), so pages a forked child still shares
    with its parent count once. A child the JVM has just spawned shares
    the JVM's address space until it calls exec; such a child is not
    counted (counting it made one run in five or ten report the JVM's
    memory twice). A sample reads only the tree's own entries,
    found through ``task/*/children`` from the root down; the JVM's
    ``smaps_rollup`` alone takes tens of milliseconds to read, hence the
    period."""

    def __init__(self, root_pid: int, period: float = 0.5):
        self.root, self.period = root_pid, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        total, frontier, seen = 0, [(self.root, None)], set()
        while frontier:
            pid, parent = frontier.pop()
            if pid in seen:
                continue
            seen.add(pid)
            try:
                if parent is None or not _same_address_space(pid, parent):
                    with open(f"/proc/{pid}/smaps_rollup") as fh:
                        total += next(int(line.split()[1]) * 1024 for line in fh
                                      if line.startswith("Pss:"))
            except (FileNotFoundError, ProcessLookupError, StopIteration):
                continue  # exited between the parent's listing and now
            for kids in glob.glob(f"/proc/{pid}/task/*/children"):
                try:
                    with open(kids) as fh:
                        frontier.extend((int(c), pid) for c in fh.read().split())
                except (FileNotFoundError, ProcessLookupError):
                    pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """In-memory spans. Disabled, :meth:`span` only runs its body, so one
    code path serves traced and untraced ops."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.op = None
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobDescription(f"{self.run_id}:{sid}")
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                f"{self.run_id}:{self._stack[-1]}" if self._stack else None)

    def count(self, key: str, value: float) -> None:
        """Add to a counter of the innermost open span."""
        if self.enabled and self._stack:
            c = self.spans[self._stack[-1]].setdefault("counts", {})
            c[key] = c.get(key, 0) + value

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a function that runs it inside a span
        ``name``; :meth:`unwrap_all` restores every original."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, fh)


# -- event log ---------------------------------------------------------------

COUNTERS = ("jobs", "tasks", "run_s", "gc_s", "spill_bytes", "shuffle_write_bytes",
            "records_read", "bytes_written", "python_bytes_in")


def span_counters(eventlog_dir: str, run_id: str) -> tuple[dict, dict]:
    """Per-span Spark counters from the event log, keyed by span id, plus
    the list of task run times (seconds) per span."""
    stage_span, counters, task_times = {}, {}, {}
    # Spark 4 writes an eventlog_v2_* directory of events_<n>_* files
    files = sorted(glob.glob(os.path.join(eventlog_dir, "*", "events_*")),
                   key=lambda f: int(os.path.basename(f).split("_")[1]))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    if not desc.startswith(run_id + ":"):
                        continue
                    sid = int(desc.split(":", 1)[1])
                    c = counters.setdefault(sid, dict.fromkeys(COUNTERS, 0))
                    c["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span.setdefault(st, sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    c = counters[sid]
                    m = ev.get("Task Metrics") or {}
                    c["tasks"] += 1
                    run_s = m.get("Executor Run Time", 0) / 1e3
                    c["run_s"] += run_s
                    task_times.setdefault(sid, []).append(run_s)
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    c["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    c["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if not isinstance(upd, (int, float)):
                            try:
                                upd = int(upd)
                            except (TypeError, ValueError):
                                continue
                        if name == "data sent to Python workers":
                            c["python_bytes_in"] += upd
    return counters, task_times


class SpanView:
    """Queries over the finished spans of one op (an op index, or "probe")
    joined with their Spark counters. ``spans`` is the tracer's whole list,
    indexed by span id."""

    def __init__(self, spans: list[dict], counters: dict, task_times: dict, op):
        self.spans = spans
        self.op = op
        self.counters = counters
        self.task_times = task_times
        self.children: dict[int, list[int]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])

    def named(self, name: str, parent_name: str | None = None) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name and s["op"] == self.op]
        if parent_name is not None:
            out = [s for s in out if s["parent"] is not None
                   and self.spans[s["parent"]]["name"] == parent_name]
        return out

    def wall(self, name: str, parent_name: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name, parent_name))

    def self_time(self, name: str) -> float:
        """Span duration minus the part of it covered by child spans."""
        tot = 0.0
        for s in self.named(name):
            iv = sorted((self.spans[c]["start"], self.spans[c]["end"])
                        for c in self.children.get(s["id"], []))
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in iv:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            tot += (s["end"] - s["start"]) - covered
        return tot

    def subtree(self, sid: int) -> list[int]:
        out, stack = [], [sid]
        while stack:
            x = stack.pop()
            out.append(x)
            stack.extend(self.children.get(x, []))
        return out

    def counter(self, name: str, key: str) -> float:
        """Counter summed over every span called ``name`` and its
        descendants, from the event log and from :meth:`Tracer.count`."""
        return sum(self.counters.get(i, {}).get(key, 0)
                   + self.spans[i].get("counts", {}).get(key, 0)
                   for s in self.named(name) for i in self.subtree(s["id"]))

    def task_skew(self, name: str) -> float:
        """Max ÷ median task run time over the tasks of spans ``name``."""
        ts = [t for s in self.named(name) for i in self.subtree(s["id"])
              for t in self.task_times.get(i, [])]
        med = statistics.median(ts) if ts else 0.0
        return max(ts) / med if med > 0 else 0.0
