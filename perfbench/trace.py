"""In-memory spans around the benchmark's calls into the engine, and the
Spark stage metrics that attach to them.

A span is opened around one call into one layer (``<layer>.<call>``).
While it is open the Spark job group is the span id, so every job the
call starts can be attributed to it afterwards from the application
status store.  Spans stay in memory and are written out when the run
ends; nothing is read back from Spark until then.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

# the per-layer stage set, in output order
STAGE_METRICS = (
    "jobs",
    "stages",
    "skipped_stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "task_skew",
    "driver_gap_s",
)


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    op_id: int | None
    start: float  # epoch seconds, the clock Spark stamps stages with
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"span-{self.span_id}"

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children) -> float:
    """The span's duration minus the part of it its children cover."""
    return span.duration - union_length(
        [(c.start, c.end) for c in children], span.start, span.end
    )


class Tracer:
    """Collects spans when enabled; a no-op context otherwise, so the
    untraced run executes the same calls without the bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._next_id = 1
        self.overhead_s = 0.0  # time spent inside the tracer itself

    def bind(self, spark_context) -> None:
        self._sc = spark_context

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.group, span.group, False)

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        sp = Span(name, self._next_id, parent.span_id if parent else None, op_id,
                  time.time(), attrs=dict(attrs))
        self._next_id += 1
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - t1

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span.span_id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span.span_id]
        while todo:
            pid = todo.pop()
            kids = [s for s in self.spans if s.parent_id == pid]
            out.extend(kids)
            todo.extend(k.span_id for k in kids)
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "span_id": s.span_id,
                "parent_id": s.parent_id,
                "op_id": s.op_id,
                "start": s.start,
                "end": s.end,
                "self_s": self_time(s, self.children(s)),
                **s.attrs,
            }
            for s in self.spans
        ]


# -- Spark application status store --------------------------------------


def read_status(spark_context) -> tuple[list[dict], list[dict]]:
    """(stages, jobs) from the application status store, as JSON dicts.

    Works with the UI disabled: the status store is kept by the
    listener regardless.  `stageList` is called in its five-argument
    form (statuses, details, withSummaries, quantiles, taskStatus) with
    task summaries at the median and maximum, and the whole list is
    serialized on the JVM side in one call."""
    jvm = spark_context._jvm
    store = spark_context._jsc.sc().statusStore()
    quantiles = spark_context._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    empty = jvm.java.util.ArrayList
    stages = store.stageList(empty(), False, True, quantiles, empty())
    jobs = store.jobsList(empty())
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    return json.loads(mapper.writeValueAsString(stages)), json.loads(
        mapper.writeValueAsString(jobs)
    )


def _ms_epoch(v) -> float | None:
    """Status-store dates serialize as epoch milliseconds."""
    return None if v is None else float(v) / 1000.0


def stage_set(spans: list[Span], stages: list[dict], jobs: list[dict],
              covering: list[Span] | None = None,
              covering_all: list[Span] | None = None) -> dict:
    """The 13-metric stage set of the jobs started under `spans`.

    Skipped stages (no submission time: their shuffle output was reused)
    are counted on their own, never as zero-time stages.  `task_skew` is
    max/median task run time per stage, averaged with each stage's
    executor run time as weight.  `driver_gap_s` is the wall time of the
    `covering` spans (default: `spans`) during which no stage started
    under `covering_all` (default: `spans`; pass the covering spans with
    all their descendants) ran: planning, py4j and driver-side Python."""
    groups = {s.group for s in spans}
    mine = [st for st in stages if st.get("description") in groups]
    ran = [st for st in mine if st.get("submissionTime") is not None]
    out = {k: 0.0 for k in STAGE_METRICS}
    out["jobs"] = float(sum(1 for j in jobs if j.get("jobGroup") in groups))
    out["stages"] = float(len(ran))
    out["skipped_stages"] = float(len(mine) - len(ran))
    skew_w = skew_sum = 0.0
    for st in ran:
        out["tasks"] += st.get("numCompleteTasks", 0)
        out["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
        out["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        out["gc_s"] += st.get("jvmGcTime", 0) / 1e3
        out["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
        out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        out["spill_bytes"] += st.get("memoryBytesSpilled", 0)
        out["input_bytes"] += st.get("inputBytes", 0)
        dist = (st.get("taskMetricsDistributions") or {}).get("executorRunTime")
        run_ms = st.get("executorRunTime", 0)
        if dist and len(dist) == 2 and dist[0] > 0 and run_ms > 0:
            skew_sum += run_ms * dist[1] / dist[0]
            skew_w += run_ms
    out["task_skew"] = skew_sum / skew_w if skew_w else 1.0
    gap_groups = {s.group for s in covering_all} if covering_all is not None else groups
    intervals = [
        (_ms_epoch(st["submissionTime"]), _ms_epoch(st.get("completionTime")) or time.time())
        for st in stages
        if st.get("description") in gap_groups and st.get("submissionTime") is not None
    ]
    out["driver_gap_s"] = sum(
        sp.duration - union_length(intervals, sp.start, sp.end)
        for sp in (covering if covering is not None else spans)
    )
    return out
