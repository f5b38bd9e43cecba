"""Spans around the benchmark's calls into each layer, and attribution of
Spark's own task metrics to them.

A traced run enables Spark's event log.  Each op runs under a job group
named after its span, so its jobs are found by group; jobs with no group
(digraph.scc's worker threads, the stream execution thread) are placed by
submission time inside the spans' windows.  A job lands on the innermost
span that contains its submission time, so the metrics summed per span
are self metrics, and a layer's numbers are the sums over its spans.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# build_graph's `timings=` stages -> the layer that does the stage's work
STAGE_LAYER = {
    "plan_pending": "materialize",
    "extract_link": "extract",
    "fuzzy": "link",
    "canonicalize": "cc",
    "coref": "link",
    "materialize": "materialize",
    "mark_done": "materialize",
    "finalize": "materialize",
}

# job groups the benchmark sets outside its traced ops (warm-up ops run
# untraced)
IDLE_GROUPS = ("between-ops", "check", "untraced-op")

LAYERS = ("extract", "link", "cc", "materialize", "sparql", "encode",
          "graph", "digraph", "incremental", "snapshots")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    task: dict = field(default_factory=dict)  # summed TaskEnd metrics
    jobs: set = field(default_factory=set)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Holds spans in memory; `enabled=False` records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, layer: str, start: float, end: float,
            parent: Span | None = None) -> Span | None:
        if not self.enabled:
            return None
        s = Span(len(self.spans) + 1, name, layer, start, end,
                 parent.id if parent else None, self.run_id)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, layer: str, parent: Span | None = None):
        s = self.add(name, layer, time.time(), 0.0, parent)
        try:
            yield s
        finally:
            if s is not None:
                s.end = time.time()

    def stages(self, op: Span | None, start: float, timings: dict) -> None:
        """build_graph's stage walls laid end to end from the call's start."""
        if op is None:
            return
        t = start
        for stage, wall in timings.items():
            self.add(stage, STAGE_LAYER.get(stage, "materialize"), t, t + wall, op)
            t += wall


# -- Spark event log -----------------------------------------------------------

_TASK_KEYS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "spill_b": ("Disk Bytes Spilled",),
    "input_b": ("Input Metrics", "Bytes Read"),
    "output_b": ("Output Metrics", "Bytes Written"),
    "shuffle_write_b": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_read_b": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_local_b": ("Shuffle Read Metrics", "Local Bytes Read"),
}


def _get(d: dict, path: tuple) -> float:
    for k in path:
        d = d.get(k, {}) if isinstance(d, dict) else {}
    return d if isinstance(d, (int, float)) else 0


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """-> (jobs {job_id: (group, submit_s)}, per-stage task sums
    {stage_id: {"job": job_id, metric: value, "tasks", "failed_tasks"}})."""
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    jobs: dict[int, tuple[str | None, float]] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                if line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = (group, ev["Submission Time"] / 1000)
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    ev = json.loads(line)
                    st = stages.setdefault(ev["Stage ID"], {"tasks": 0, "failed_tasks": 0})
                    st["tasks"] += 1
                    if ev.get("Task Info", {}).get("Failed"):
                        st["failed_tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    for k, path_ in _TASK_KEYS.items():
                        st[k] = st.get(k, 0) + _get(tm, path_)
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return jobs, stages


def attribute(spans: list[Span], jobs: dict, stages: dict) -> None:
    """Sum each stage's task metrics onto the innermost span that holds
    its job's submission time: among the op span named by the job group
    and its descendants, or among all spans for a job with no group or
    a group set by Spark itself (a streaming query's run id)."""
    by_id = {s.id: s for s in spans}

    def depth(s: Span) -> int:
        d = 0
        while s.parent is not None:
            s, d = by_id[s.parent], d + 1
        return d

    def root(s: Span) -> int:
        while s.parent is not None:
            s = by_id[s.parent]
        return s.id

    owner: dict[int, Span | None] = {}
    for job, (group, t) in jobs.items():
        if group in IDLE_GROUPS:
            owner[job] = None  # work between ops and checks: not a timed op
            continue
        cands = spans
        mine = group is not None and group.startswith("op-")
        if mine:
            cands = [s for s in spans if root(s) == int(group[3:])]
        inside = [s for s in cands if s.start <= t <= s.end]
        if not inside and mine:
            inside = [by_id[int(group[3:])]]
        owner[job] = max(inside, key=depth) if inside else None
    for st in stages.values():
        s = owner.get(st.get("job"))
        if s is None:
            continue
        s.jobs.add(st["job"])
        for k, v in st.items():
            if k != "job":
                s.task[k] = s.task.get(k, 0) + v


def self_wall(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part its children cover."""
    kids: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            kids[s.parent] = kids.get(s.parent, 0.0) + s.wall
    return {s.id: max(0.0, s.wall - kids.get(s.id, 0.0)) for s in spans}


def layer_metrics(spans: list[Span], cycles: int, cores: int) -> dict:
    """Per-layer sums over the timed window, divided by timed cycles."""
    walls = self_wall(spans)
    out: dict[str, dict] = {}
    for layer in LAYERS + ("spark",):
        mine = [s for s in spans if layer == "spark" or s.layer == layer]
        t: dict[str, float] = {}
        for s in mine:
            for k, v in s.task.items():
                t[k] = t.get(k, 0) + v
        wall = sum(walls[s.id] for s in mine)
        run_s = t.get("run_ms", 0) / 1000
        out[layer] = {
            "wall_s": wall / cycles,
            "cpu_s": t.get("cpu_ns", 0) / 1e9 / cycles,
            "gc_s": t.get("gc_ms", 0) / 1000 / cycles,
            "tasks": t.get("tasks", 0) / cycles,
            "failed_tasks": t.get("failed_tasks", 0) / cycles,
            "jobs": len(set().union(*[s.jobs for s in mine])) / cycles if mine else 0,
            "shuffle_write_mb": t.get("shuffle_write_b", 0) / 2**20 / cycles,
            "shuffle_mb": (t.get("shuffle_read_b", 0) + t.get("shuffle_local_b", 0))
            / 2**20 / cycles,
            "spill_mb": t.get("spill_b", 0) / 2**20 / cycles,
            "input_mb": t.get("input_b", 0) / 2**20 / cycles,
            "output_mb": t.get("output_b", 0) / 2**20 / cycles,
            "slot_idle_frac": (1 - run_s / (wall * cores)) if wall > 0 else 0.0,
        }
    return out


def median_ms(spans: list[Span], layer: str, name: str) -> float:
    walls = [s.wall * 1000 for s in spans if s.layer == layer and s.name == name]
    return statistics.median(walls) if walls else 0.0


def dump(spans: list[Span], path: str) -> None:
    walls = self_wall(spans)
    with open(path, "w") as f:
        for s in spans:
            row = asdict(s)
            row["jobs"] = sorted(s.jobs)
            row["self_s"] = walls[s.id]
            f.write(json.dumps(row) + "\n")


def stream_listener(spark):
    """A StreamingQueryListener on spark.streams keeping each progress
    event's durationMs; the caller reads `.progress` and removes it."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows:
                self.progress.append(dict(p.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
