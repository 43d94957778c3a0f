"""Spans around layer calls, Spark job groups, and the event-log fold.

The benchmark touches the program only from outside: a span wraps a call
into one of its functions, and while the span is open the Spark jobs
submitted from the thread carry the span's id as their job group. After
the session stops, the uncompressed event log is folded into per-span
job, stage and task counts, so each layer's Spark work is read from
Spark's own records rather than counted by hand.

Spans are kept in memory and written with the run's record at exit. The
workloads drive the program from one thread, so one stack of open spans
suffices.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    """Records spans (name, tag, start, end, parent). Disabled, every method
    is a no-op, so the untraced path runs the same code with no wrappers
    and no job groups."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._by_id: dict[str, dict] = {}
        self._stack: list[str] = []
        self._t0 = time.perf_counter()

    def inside(self, name: str) -> bool:
        """Whether a span called ``name`` is open."""
        return any(self._by_id[i]["name"] == name for i in self._stack)

    @contextmanager
    def span(self, name: str, tag: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"id": f"s{len(self.spans)}", "name": name, "tag": tag,
               "parent": self._stack[-1] if self._stack else None,
               "start": None, "end": None}
        self.spans.append(rec)
        self._by_id[rec["id"]] = rec
        prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"))
        self.sc.setLocalProperty("spark.jobGroup.id", rec["id"])
        self.sc.setLocalProperty("spark.job.description", name)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self.sc.setLocalProperty("spark.job.description", prev[1])

    @contextmanager
    def patched(self, owner, attr: str, name, tag=None, when=None):
        """Replace ``owner.attr`` by a wrapper that opens span ``name``
        around each call (only while ``when()`` holds, if given); the
        original is restored on exit. ``name`` and ``tag`` may be functions
        of the call's ``(args, kwargs)``."""
        if not self.enabled:
            yield
            return
        orig = getattr(owner, attr)
        # a module attribute is replaced and put back; a method patched on
        # an instance shadows the class attribute and is deleted after
        own = attr in vars(owner)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if when is not None and not when():
                return orig(*args, **kwargs)
            with self.span(name(args, kwargs) if callable(name) else name,
                           tag(args, kwargs) if tag else None):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)

    # -- reading spans back ------------------------------------------------
    def children(self, parent_id: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent_id]

    def chain(self, span_id: str) -> list[dict]:
        """The span ``span_id`` names, then its ancestors up to the root."""
        s = self._by_id.get(span_id)
        out = []
        while s is not None:
            out.append(s)
            s = self._by_id.get(s["parent"])
        return out


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(tracer: Tracer, span: dict, child_names: set[str]) -> float:
    """Span duration minus the time its direct children named in
    ``child_names`` cover."""
    return duration(span) - sum(duration(c) for c in tracer.children(span["id"])
                                if c["name"] in child_names)


# ---------------------------------------------------------------------------
# event-log fold
# ---------------------------------------------------------------------------

FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "task_run_s",
          "task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
          "bytes_written_mb")


def fold_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, completed stages, tasks, executor run/CPU/GC
    seconds, shuffle write, spill (disk) and output bytes (MB). Jobs with
    no group are folded under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, dict.fromkeys(FIELDS, 0.0))

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
                acc(g)["jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                acc(stage_group.get(sid, ""))["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                a = acc(stage_group.get(ev["Stage ID"], ""))
                a["tasks"] += 1
                info = ev.get("Task Info") or {}
                a["failed_tasks"] += bool(info.get("Failed"))
                m = ev.get("Task Metrics") or {}
                a["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                ow = m.get("Output Metrics") or {}
                a["bytes_written_mb"] += ow.get("Bytes Written", 0) / 2**20
    return out
