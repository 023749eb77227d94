"""Trace tooling kept inside the benchmark: spans with Spark job groups, a
stdlib parser for Spark's local event log, self-time arithmetic and a
process-tree RSS sampler.

Spans are ``(name, start, end, parent, run_id)`` held in memory and written
once at the end. A span opened with ``group=True`` also sets the Spark job
group, so every job (and task) it launches is attributed to it in the event
log.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import uuid

# SparkListenerTaskEnd "Task Metrics" fields summed per job group
_TASK_SUMS = {
    "exec_cpu_s": (("Executor CPU Time",), 1e-9),
    "exec_run_s": (("Executor Run Time",), 1e-3),
    "gc_s": (("JVM GC Time",), 1e-3),
    "shuffle_read_bytes": (("Shuffle Read Metrics", "Remote Bytes Read"), 1),
    "shuffle_read_local_bytes": (("Shuffle Read Metrics", "Local Bytes Read"), 1),
    "shuffle_write_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    "spill_bytes": (("Disk Bytes Spilled",), 1),
    "memory_spill_bytes": (("Memory Bytes Spilled",), 1),
}
EVENT_METRICS = ("exec_cpu_s", "exec_run_s", "gc_s", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes", "jobs", "tasks")


class Tracer:
    """In-memory spans. ``enabled=False`` makes ``span`` a no-op, so the
    same harness code runs traced and untraced."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False):
        if not self.enabled:
            yield None
            return
        sid = f"{name}#{len(self.spans)}"
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if group and self.sc is not None:
            self.sc.setJobGroup(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if group and self.sc is not None:
                parent = next((s for s in reversed(self._stack)), None)
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(parent, parent.split("#")[0])

    def dump(self, path: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self_times(self.spans)}, f)
        os.replace(tmp, path)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the part of its interval that its child
    spans cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, None
        for a, b in sorted(kids.get(s["id"], [])):
            a = max(a, s["start"] if cur_end is None else max(cur_end, s["start"]))
            b = min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


def segment_self(cumulative: dict[str, float], parent_of: dict[str, str | None]) -> dict[str, float]:
    """Self time of cumulative segments: each segment re-runs its
    predecessor's work plus one stage, so its own cost is its wall minus its
    predecessor's wall."""
    return {k: v - (cumulative[parent_of[k]] if parent_of.get(k) else 0.0)
            for k, v in cumulative.items()}


def parse_event_log(paths: list[str]) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from Spark JSON event-log files (one
    JSON object per line). Returns group id -> {EVENT_METRICS...}; jobs
    outside any group are summed under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(g: str) -> dict[str, float]:
        return out.setdefault(g, {m: 0.0 for m in (*_TASK_SUMS, "jobs", "tasks")})

    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    acc(g)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    a = acc(stage_group.get(ev.get("Stage ID"), ""))
                    a["tasks"] += 1
                    for name, (keys, scale) in _TASK_SUMS.items():
                        v = m
                        for k in keys:
                            v = v.get(k, 0) if isinstance(v, dict) else 0
                        a[name] += float(v or 0) * scale
    for a in out.values():
        a["shuffle_read_bytes"] += a.pop("shuffle_read_local_bytes")
        a["spill_bytes"] += a.pop("memory_spill_bytes")
    return out


def group_sum(per_group: dict[str, dict[str, float]], prefix: str) -> dict[str, float]:
    """Sum event-log metrics over every group whose span name is ``prefix``."""
    tot = {m: 0.0 for m in EVENT_METRICS}
    for g, a in per_group.items():
        if g.split("#")[0] == prefix:
            for m in EVENT_METRICS:
                tot[m] += a[m]
    return tot


def event_log_files(directory: str) -> list[str]:
    """Event-log files under ``directory``: one plain file, or the numbered
    ``events_<n>_<app>`` parts of a rolling log (Spark 4's layout)."""
    found = []
    for root, _dirs, names in os.walk(directory):
        for n in names:
            if n.startswith("appstatus") or n.startswith("."):
                continue
            part = int(n.split("_")[1]) if n.startswith("events_") else 0
            found.append((root, part, os.path.join(root, n)))
    return [p for *_k, p in sorted(found)]


class RssSampler:
    """Samples the summed resident set of this process and all of its
    descendants (the JVM and its Python workers) from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{d}/statm") as f:
                    rss[int(d)] = int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            parent[int(d)] = int(fields[1])
        root = os.getpid()
        tree, frontier = {root}, [root]
        children: dict[int, list[int]] = {}
        for pid, pp in parent.items():
            children.setdefault(pp, []).append(pid)
        while frontier:
            for c in children.get(frontier.pop(), []):
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        return sum(rss.get(p, 0) for p in tree)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
