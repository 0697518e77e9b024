"""Spans and Spark counters for the traced run.

A span is (name, start, end, parent, request).  Spans live in memory and
are written out once, when the run ends.  A layer's self time is its
span's duration minus the part of that interval its child spans cover.

Every span opened with a ``layer`` also runs its Spark jobs under its own
job group ``<layer>#<request>#<span>``: jobs, stages and tasks come from the status
tracker right after the span closes, and shuffle, spill, executor run
time and GC time come from the event log, parsed with the stdlib after
the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Build-chain layers that get the full set of Spark counters, keyed by the
# metric prefix; values are the module each prefix names.
SPARK_LAYERS = {
    "envelope": "pipeline.envelope",
    "reconcile": "pipeline.reconcile",
    "closure": "pipeline.closure",
    "idmap": "pipeline.idmap",
    "reidentify": "pipeline.reidentify",
    "merge": "pipeline.merge_records",
    "edges": "pipeline.edges",
    "exports": "sinks.exports",
}
SPARK_COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes", "executor_run_s", "gc_s")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str = ""
    layer: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: str, layer: str | None = None):
        sp = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                  request=request, layer=layer)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        group = f"{layer}#{request}#{idx}" if layer else None
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setJobGroup("untraced", "")
                self._count_jobs(sp, group)

    def _count_jobs(self, sp: Span, group: str) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            sp.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                # skipped stages (shuffle output reused) never ran
                if stage is not None and stage.numCompletedTasks > 0:
                    sp.stages += 1
                    sp.tasks += stage.numCompletedTasks

    def self_time(self, i: int) -> float:
        """Duration minus the union of the direct children's intervals."""
        sp = self.spans[i]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == i)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.duration - covered

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": sp.name, "request": sp.request, "parent": sp.parent,
                    "start_s": round(sp.start - t0, 6), "end_s": round(sp.end - t0, 6),
                    "self_s": round(self.self_time(i), 6), "layer": sp.layer,
                    "jobs": sp.jobs, "stages": sp.stages, "tasks": sp.tasks, **sp.attrs,
                }) + "\n")


def layer_counters(tracer: Tracer, event_log_dir: str, requests: set[str]) -> dict[str, dict]:
    """Per SPARK_LAYERS prefix: the counters summed over the spans of
    ``requests`` (jobs/stages/tasks from the status tracker, the rest from
    the event log)."""
    out = {p: dict.fromkeys(SPARK_COUNTERS, 0) for p in SPARK_LAYERS}
    groups = {}
    for i, sp in enumerate(tracer.spans):
        if sp.layer in out and sp.request in requests:
            c = out[sp.layer]
            c["jobs"] += sp.jobs
            c["stages"] += sp.stages
            c["tasks"] += sp.tasks
            groups[f"{sp.layer}#{sp.request}#{i}"] = sp.layer
    for layer, m in _event_log_metrics(event_log_dir, groups).items():
        for k, v in m.items():
            out[layer][k] += v
    return out


def _event_log_metrics(log_dir: str, groups: dict[str, str]) -> dict[str, dict]:
    stage_layer: dict[int, str] = {}
    out: dict[str, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line[:60]:
                    ev = json.loads(line)
                    layer = groups.get(ev.get("Properties", {}).get("spark.jobGroup.id"))
                    if layer:
                        for sid in ev["Stage IDs"]:
                            stage_layer[sid] = layer
                elif '"SparkListenerTaskEnd"' in line[:60]:
                    ev = json.loads(line)
                    layer = stage_layer.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if layer is None or not tm:
                        continue
                    m = out.setdefault(layer, dict.fromkeys(
                        ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                         "executor_run_s", "gc_s"), 0))
                    rd = tm.get("Shuffle Read Metrics", {})
                    m["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    return out


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
