"""Span recorder and Spark event-log aggregation for the traced run.

Spans are recorded by the benchmark around its calls into the engine;
nothing is traced inside the engine.  Before each span the recorder
sets the Spark job group to the span id, so every job the span
triggers can be joined back to it from Spark's own event log, which
the traced run enables (``spark.eventLog.enabled``).  Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans; when ``spark`` is given, also tags each span's jobs
    with a job group ``<run_id>:<span_id>``.  With ``enabled=False``
    every call is a no-op apart from the clock read, so the untraced
    run pays nothing for tracing."""

    run_id: str
    spark: object = None
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def group_id(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    def _set_group(self, span_id: int | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self.group_id(span_id), self.spans[span_id].name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.span_id)
        self._set_group(s.span_id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def descendants(self, span_id: int) -> set[int]:
        out = {span_id}
        for s in self.spans:  # parents always precede children
            if s.parent in out:
                out.add(s.span_id)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@dataclass
class GroupCounters:
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    python_eval_s: float = 0.0

    def add(self, other: "GroupCounters") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


#: SQL metric (PythonSQLMetrics.pythonTotalTime) carried by every task
#: that ran a Python UDF, in milliseconds.
PYTHON_TIME_METRIC = "time to run Python workers"


def read_event_log(log_dir: str) -> dict[str, GroupCounters]:
    """Per job group: jobs, tasks, failed tasks, executor run time, JVM
    GC time, shuffle bytes written and Python worker time, read from the
    JSON event log(s) in ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupCounters] = defaultdict(GroupCounters)
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    c = out[group]
                    c.tasks += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        c.tasks_failed += 1
                    m = ev.get("Task Metrics") or {}
                    c.run_s += m.get("Executor Run Time", 0) / 1e3
                    c.gc_s += m.get("JVM GC Time", 0) / 1e3
                    c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == PYTHON_TIME_METRIC:
                            c.python_eval_s += float(acc.get("Update", 0)) / 1e3
    return dict(out)


def span_counters(
    tracer: Tracer, groups: dict[str, GroupCounters], span_id: int
) -> GroupCounters:
    """Counters of one span including all of its descendants."""
    total = GroupCounters()
    for sid in tracer.descendants(span_id):
        c = groups.get(tracer.group_id(sid))
        if c is not None:
            total.add(c)
    return total


@dataclass
class Agg:
    wall_s: float = 0.0
    counters: GroupCounters = field(default_factory=GroupCounters)


def iteration_rows(
    tracer: Tracer, groups: dict[str, GroupCounters], iteration_span: str
) -> list[dict[str, Agg]]:
    """One dict per steady iteration (the first, cold one is skipped):
    span name -> wall time and counters summed over every span of that
    name inside the iteration.  The iteration itself is under its own
    name."""
    rows = []
    iters = [s for s in tracer.spans if s.name == iteration_span and s.parent is None]
    for it in iters[1:]:
        row: dict[str, Agg] = {}
        for sid in sorted(tracer.descendants(it.span_id)):
            s = tracer.spans[sid]
            a = row.setdefault(s.name, Agg())
            a.wall_s += s.wall_s
            a.counters.add(span_counters(tracer, groups, sid))
        rows.append(row)
    return rows


def median_of(rows: list[dict[str, Agg]], name: str, slots: int) -> dict[str, tuple[float, str]]:
    """The standard per-span metrics of span ``name``, each the median
    over steady iterations: busy time, jobs, tasks, shuffle written,
    executor-core utilisation and JVM GC time."""

    def med(f):
        return statistics.median(f(r[name]) if name in r else 0.0 for r in rows)

    return {
        f"{name}.busy_s": (med(lambda a: a.wall_s), "s"),
        f"{name}.jobs": (med(lambda a: a.counters.jobs), "count"),
        f"{name}.tasks": (med(lambda a: a.counters.tasks), "count"),
        f"{name}.shuffle_write_mb": (med(lambda a: a.counters.shuffle_write_bytes / 2**20), "MB"),
        f"{name}.core_busy_frac": (
            med(lambda a: a.counters.run_s / (a.wall_s * slots) if a.wall_s else 0.0),
            "ratio",
        ),
        f"{name}.gc_s": (med(lambda a: a.counters.gc_s), "s"),
    }
