"""Spans around the calls the benchmark makes into each engine layer,
and their roll-up from the Spark event log.

A span records its name, parent, phase (``setup``, ``warmup``,
``unit<i>``) and wall interval. While a span is open, every Spark job the
calling thread starts carries the span's id as its job group, so the
event log (``spark.eventLog.enabled``) attributes jobs, stages and task
metrics to exactly one innermost span. ``rollup`` then adds each span's
children into it (inclusive counters), and derives

* ``self_s`` — wall time minus the time its child spans cover;
* ``driver_s`` — wall time not covered by any Spark job of the span or
  its children (planning, manifest listing, commits).

Spans stay in memory; the event log is read once, after the session
stops and the log is complete.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    phase: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # filled in by rollup
    jobs: list = field(default_factory=list)
    stats: dict = field(default_factory=dict)


class Tracer:
    """Records spans; ``spark`` is set once the session exists so spans
    can set job groups (the ``session`` span itself precedes it)."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.phase = "setup"
        self.spark = None

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.phase, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, obj, method: str, name: str, attr_arg: int | None = None) -> None:
        """Replace ``obj.method`` (on the instance only) with a call in a
        span named ``name``; ``attr_arg`` records that positional
        argument (a table name) on the span."""
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            attrs = {}
            if attr_arg is not None and len(args) > attr_arg:
                attrs["table"] = args[attr_arg]
            with self.span(name, **attrs):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)


def instrument_pipeline(tracer: Tracer, pipe) -> None:
    """Span every layer call a ``MedallionPipeline`` run makes."""
    for m in ("ingest_bronze", "build_silver", "publish_gold"):
        tracer.wrap(pipe, m, f"plans.medallion.{m}")
    tracer.wrap(pipe.scd, "apply_scd2", "operators.scd.apply_scd2")
    tracer.wrap(pipe.catalog, "replace_atomic", "sinks.manifest.replace_atomic", attr_arg=1)
    tracer.wrap(pipe.catalog, "read", "sinks.manifest.read", attr_arg=0)


# -- event log -------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    start_ms: int
    end_ms: int = 0


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[str, dict]]:
    """Parse the (finished) event log. Returns jobs by id and, per job
    group, summed stage/task figures."""
    paths = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {paths}")
    jobs: dict[int, Job] = {}
    stage_group: dict[tuple[int, int], str | None] = {}
    groups: dict[str, dict] = {}

    def g(group):
        return groups.setdefault(group, {
            "stages": 0, "task_ms": 0, "gc_ms": 0, "shuffle_write_b": 0,
            "spill_b": 0, "output_rows": 0, "output_b": 0,
        })

    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = Job(ev["Job ID"], grp, ev["Submission Time"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = grp
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                grp = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))
                g(grp)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                m = ev.get("Task Metrics") or {}
                acc = g(grp)
                acc["task_ms"] += m.get("Executor Run Time", 0)
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                acc["spill_b"] += m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                out = m.get("Output Metrics") or {}
                acc["output_rows"] += out.get("Records Written", 0)
                acc["output_b"] += out.get("Bytes Written", 0)
    return jobs, groups


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


COUNTERS = ("jobs", "stages", "task_s", "gc_s", "shuffle_write_mb",
            "spill_mb", "output_rows", "output_mb")


def rollup(spans: list[Span], jobs: dict[int, Job], groups: dict[str, dict]) -> int:
    """Fill ``span.stats`` with inclusive counters, ``s``, ``self_s`` and
    ``driver_s``. Returns the number of jobs no span owns."""
    by_id = {s.id: s for s in spans}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    unowned = 0
    for j in jobs.values():
        sid = None
        if j.group and j.group.startswith(GROUP_PREFIX):
            sid = int(j.group[len(GROUP_PREFIX):])
        if sid in by_id:
            by_id[sid].jobs.append(j)
        else:
            unowned += 1

    def own(s: Span) -> dict:
        acc = groups.get(f"{GROUP_PREFIX}{s.id}", {})
        mb = 1024 * 1024
        return {
            "jobs": len(s.jobs),
            "stages": acc.get("stages", 0),
            "task_s": acc.get("task_ms", 0) / 1000,
            "gc_s": acc.get("gc_ms", 0) / 1000,
            "shuffle_write_mb": acc.get("shuffle_write_b", 0) / mb,
            "spill_mb": acc.get("spill_b", 0) / mb,
            "output_rows": acc.get("output_rows", 0),
            "output_mb": acc.get("output_b", 0) / mb,
        }

    def visit(s: Span) -> list[tuple[float, float]]:
        stats = own(s)
        intervals = [(j.start_ms / 1000, (j.end_ms or j.start_ms) / 1000) for j in s.jobs]
        kids = children.get(s.id, [])
        for c in kids:
            intervals += visit(c)
            for k in COUNTERS:
                stats[k] += c.stats[k]
        wall = s.end - s.start
        stats["s"] = wall
        stats["self_s"] = wall - sum(c.end - c.start for c in kids)
        stats["driver_s"] = wall - _covered(intervals, s.start, s.end)
        s.stats = stats
        return intervals

    for s in spans:
        if s.parent is None:
            visit(s)
    return unowned
