"""Tracing for the per-layer run: an in-memory span recorder, a Spark
event-log parser and the per-epoch self-time table.

Spans are recorded from the benchmark's own files: the recorder wraps
the public functions ``plans.epoch`` looks up at call time (module-level
names of ``plans.epoch``, ``operators.politeness``, ``operators.seen``
and ``functions.siphash``) and the ``IcebergLike`` methods. A span is
(name, start, end, parent, epoch, thread); parent is the enclosing span
on the same thread, or the open root span (the epoch) for a span that
starts on a write-pool thread.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass

CATALOG_METHODS = (
    "read", "read_parts", "read_staged", "stage_overwrite",
    "stage_overwrite_parts", "stage_append_delta", "stage_append_ref",
    "stage_append", "stage_upsert_fold", "compact", "commit", "vacuum",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    epoch: int | None
    thread: int


class Tracer:
    """Span recorder. Wrapped calls record only while ``enabled``, so the
    same process can time traced and untraced rounds."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.installed = False
        self.epoch: int | None = None
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.get_ident()

    def begin(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            self.spans.append(
                Span(name, time.time(), 0.0, parent, self.epoch,
                     threading.get_ident())
            )
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack().pop()

    def root(self, name: str, epoch: int | None):
        """Open the root span of one unit of work (an epoch or a stage);
        returns a context manager."""
        tracer = self

        class _Root:
            def __enter__(self):
                if not tracer.enabled:
                    return None
                tracer.epoch = epoch
                tracer._root = tracer.begin(name)
                return tracer._root

            def __exit__(self, *exc):
                if tracer._root is None:
                    return False
                tracer.end(tracer._root)
                tracer._root = None
                return False

        return _Root()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced

    def install(self) -> None:
        """Wrap the program's layer entry points (see module notes)."""
        from hiispider_spark.functions import siphash
        from hiispider_spark.operators import politeness, seen
        from hiispider_spark.plans import epoch
        from hiispider_spark.sources.catalog import IcebergLike

        for mod in (epoch, politeness, seen):
            for name, obj in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(obj)
                    or not obj.__module__.startswith("hiispider_spark.")
                    or (mod is epoch and obj.__module__ == epoch.__name__)
                ):
                    continue
                layer = obj.__module__.rsplit(".", 1)[-1]
                setattr(mod, name, self.wrap(obj, f"{layer}.{name}"))
        siphash.url_hash_udf = self.wrap(
            siphash.url_hash_udf, "siphash.url_hash_udf"
        )
        self.installed = True
        for name in CATALOG_METHODS:
            setattr(
                IcebergLike, name,
                self.wrap(getattr(IcebergLike, name), f"catalog.{name}"),
            )

    # ------------------------------------------------------------ analysis
    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                out.setdefault(s.parent, []).append(i)
        return out

    def self_time(self, idx: int, kids: dict[int, list[int]]) -> float:
        """Duration minus the part covered by child spans on the same
        thread (children on other threads overlap, they do not nest)."""
        s = self.spans[idx]
        covered = sum(
            self.spans[c].end - self.spans[c].start
            for c in kids.get(idx, [])
            if self.spans[c].thread == s.thread
        )
        return s.end - s.start - covered


def _subtree(tracer: Tracer, idx: int, kids, same_thread: bool):
    """Span ids under ``idx`` (inclusive), optionally only those on
    ``idx``'s thread."""
    out, todo = [], [idx]
    th = tracer.spans[idx].thread
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(
            c for c in kids.get(i, [])
            if not same_thread or tracer.spans[c].thread == th
        )
    return out


def epoch_table(tracer: Tracer, root: int, phase_walls: dict) -> dict:
    """Self-time account of one epoch: the epoch's wall is split into
    the run_epoch phases (minus the wrapped calls made inside them), the
    self time of every wrapped call on the driver thread, grouped by
    name, and the remainder no span covers. The rows sum to the wall.
    Write-pool spans run concurrently with the phases; they are listed
    under ``overlapped`` and do not enter the sum."""
    kids = tracer.children()
    ep = tracer.spans[root]
    wall = ep.end - ep.start
    # phase intervals, reconstructed from run_epoch's own phase clock
    # (which starts as run_epoch is entered)
    bounds, t = [], ep.start
    for name, dur in phase_walls.items():
        bounds.append((name, t, t + dur))
        t += dur
    rows: dict[str, float] = {}
    top = [
        c for c in kids.get(root, [])
        if tracer.spans[c].thread == ep.thread
    ]
    in_phase = {name: 0.0 for name, _, _ in bounds}
    tail = 0.0
    for c in top:
        s = tracer.spans[c]
        for name, a, b in bounds:
            if a <= s.start < b:
                in_phase[name] += s.end - s.start
                break
        else:
            tail += s.end - s.start
        for i in _subtree(tracer, c, kids, same_thread=True):
            n = tracer.spans[i].name
            rows[n] = rows.get(n, 0.0) + tracer.self_time(i, kids)
    for name, a, b in bounds:
        rows[f"epoch.{name}"] = (b - a) - in_phase[name]
    accounted = sum(b - a for _, a, b in bounds) + tail
    rows["unaccounted"] = wall - accounted
    overlapped: dict[str, float] = {}
    for i, s in enumerate(tracer.spans):
        if s.epoch == ep.epoch and s.thread != ep.thread and s.parent == root:
            for j in _subtree(tracer, i, kids, same_thread=True):
                n = tracer.spans[j].name
                overlapped[n] = overlapped.get(n, 0.0) + tracer.self_time(
                    j, kids
                )
    return {
        "wall_s": wall,
        "self_s": {k: round(v, 4) for k, v in sorted(rows.items())},
        "overlapped_s": {k: round(v, 4) for k, v in sorted(overlapped.items())},
    }


# ------------------------------------------------------------ event log


@dataclass
class Job:
    job_id: int
    submitted: float
    stages: list[int]
    pool: str
    call_site: str


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, list[dict]]]:
    """Jobs (submission time in seconds) and the task-end metrics of
    every stage, from the event log(s) under ``log_dir``."""
    jobs: list[Job] = []
    tasks: dict[int, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(
                        Job(
                            ev["Job ID"],
                            ev["Submission Time"] / 1000.0,
                            list(ev.get("Stage IDs", [])),
                            props.get("spark.scheduler.pool") or "",
                            props.get("callSite.short") or "",
                        )
                    )
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append(
                        {
                            "dur": (info.get("Finish Time", 0)
                                    - info.get("Launch Time", 0)) / 1000.0,
                            "cpu": m.get("Executor CPU Time", 0) / 1e9,
                            "gc": m.get("JVM GC Time", 0) / 1000.0,
                            "spill": m.get("Disk Bytes Spilled", 0)
                            + m.get("Memory Bytes Spilled", 0),
                            "sw": sw.get("Shuffle Bytes Written", 0),
                            "sr": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                        }
                    )
    return jobs, tasks


def _phase_of(job: Job, bounds, mark_lines) -> str:
    """Attribute a job to a run_epoch phase: write-pool jobs by their
    scheduler pool, driver-thread jobs by their epoch.py call site
    (the line's enclosing phase is the next ``_mark`` below it), anything
    else by the phase whose time window holds the submission."""
    if job.pool.startswith("write-"):
        return "writes"
    if "epoch.py:" in job.call_site:
        try:
            line = int(job.call_site.rsplit(":", 1)[1].split()[0])
        except ValueError:
            line = -1
        for mark_line, phase in mark_lines:
            if line <= mark_line:
                return phase
    for name, a, b in bounds:
        if a <= job.submitted < b:
            return name
    return "tail"


def mark_lines() -> list[tuple[int, str]]:
    """(line, phase) of every ``_mark("phase")`` call in plans/epoch.py,
    read from the source so that edits to the module keep attributing."""
    from hiispider_spark.plans import epoch

    src, first = inspect.getsourcelines(epoch.run_epoch)
    out = []
    for off, text in enumerate(src):
        text = text.strip()
        if text.startswith('_mark("'):
            out.append((first + off, text.split('"')[1]))
    return out


def data_movement(
    jobs: list[Job], tasks, start: float, end: float, bounds=(), marks=()
) -> dict:
    """Task metrics of the jobs submitted in [start, end), plus the task
    skew (longest / median task) of the politeness+fetch phase's stages."""
    tot = {"jobs": 0, "sw": 0.0, "sr": 0.0, "spill": 0.0, "cpu": 0.0, "gc": 0.0}
    by_phase: dict[str, int] = {}
    skew = 0.0
    seen: set[int] = set()
    for job in jobs:
        if not start <= job.submitted < end:
            continue
        tot["jobs"] += 1
        phase = _phase_of(job, bounds, marks) if bounds else ""
        by_phase[phase] = by_phase.get(phase, 0) + 1
        for sid in job.stages:
            if sid in seen or sid not in tasks:
                continue
            seen.add(sid)
            ts = tasks[sid]
            for k in ("sw", "sr", "spill", "cpu", "gc"):
                tot[k] += sum(t[k] for t in ts)
            durs = [t["dur"] for t in ts]
            if phase == "politeness_fetch" and len(durs) >= 2:
                med = statistics.median(durs)
                if med > 0:
                    skew = max(skew, max(durs) / med)
    tot["skew"] = skew
    tot["jobs_by_phase"] = by_phase
    return tot
