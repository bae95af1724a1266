"""In-memory span tracer with per-span Spark job counters.

A span records a name, an id, its parent's id, start and end, and the Spark
job group it ran under. Spans live in memory and are written out once, when
the benchmark ends. Spark counts are not sampled while spans run: each span
sets its own job group (``SparkContext.setJobGroup``), and after a pass the
tracer reads every job back from Spark's status store and credits it to the
span whose group it carries. Jobs submitted from threads the package starts
itself carry no group; those are credited to the innermost span whose wall
interval holds the job's submission time.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

IDLE_GROUP = "graftbench-idle"
GROUP_PREFIX = "graftbench-span-"


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    wall_start: float = 0.0
    wall_end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)
    # Spark work credited to this span alone (children keep their own).
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    single_task_stages: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


SPARK_COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "single_task_stages")


def inclusive(spans: list[Span], span: Span) -> dict[str, int]:
    """Spark counters of ``span`` plus all of its descendants."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    todo = [span]
    while todo:
        s = todo.pop()
        for k in SPARK_COUNTERS:
            out[k] += getattr(s, k)
        todo.extend(kids.get(s.id, []))
    return out


def descends_from(spans: list[Span], span: Span, name: str) -> bool:
    """True if ``span`` or one of its ancestors is named ``name``."""
    by_id = {s.id: s for s in spans}
    while span is not None:
        if span.name == name:
            return True
        span = by_id.get(span.parent)
    return False


class Tracer:
    """Records spans when built with a SparkSession; a no-op without one."""

    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = spark is not None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.next_id = 1
        # Seconds spent in the tracer's own bookkeeping while spans run: the
        # only work tracing adds to a traced phase.
        self.overhead_s = 0.0
        if self.enabled:
            self._set_group(IDLE_GROUP)

    def _set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.next_id, parent.id if parent else None, attrs=dict(attrs))
        s.group = f"{GROUP_PREFIX}{s.id}"
        self.next_id += 1
        self._set_group(s.group)
        self._stack.append(s)
        s.wall_start = time.time()
        s.start = time.perf_counter()
        self.overhead_s += s.start - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end = time.time()
            self._stack.pop()
            self._set_group(parent.group if parent else IDLE_GROUP)
            self.spans.append(s)
            self.overhead_s += time.perf_counter() - s.end

    # -- Spark counters --------------------------------------------------
    def attach_spark_counts(self, settle_s: float = 10.0) -> None:
        """Credit every job Spark still remembers to the span that ran it.

        Call once after a traced pass, outside any span. Spark's status
        store is fed by an asynchronous listener, so this waits (up to
        ``settle_s``) until no job is still running before reading it.
        """
        if not self.enabled or not self.spans:
            return
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        deadline = time.time() + settle_s
        while tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.05)
        time.sleep(0.2)
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        jobs = []
        for jd in conv.asJava(sc._jsc.sc().statusStore().jobsList(None)):
            sub = jd.submissionTime()
            jobs.append({
                "id": int(jd.jobId()),
                "group": jd.jobGroup().get() if jd.jobGroup().isDefined() else None,
                "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "stage_ids": [int(x) for x in conv.asJava(jd.stageIds())],
                "tasks": int(jd.numCompletedTasks()),
                "failed_tasks": int(jd.numFailedTasks()),
                "stages": int(jd.numCompletedStages()),
            })
        stage_tasks = {}
        for st in {st for j in jobs for st in j["stage_ids"]}:
            info = tracker.getStageInfo(st)
            if info is not None and info.numCompletedTasks > 0:
                stage_tasks[st] = info.numTasks
        self.credit_jobs(jobs, stage_tasks)

    def credit_jobs(self, jobs: list[dict], stage_tasks: dict[int, int]) -> None:
        """Credit job records (see :meth:`attach_spark_counts`) to spans.

        A stage id can be listed by several jobs when a later job reuses an
        earlier job's shuffle output; it ran in the first job that lists
        it, so only that job counts it as a single-task stage.
        """
        by_group = {s.group: s for s in self.spans}
        first_job: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["id"]):
            for st in j["stage_ids"]:
                first_job.setdefault(st, j["id"])
        for j in jobs:
            span = by_group.get(j["group"])
            if span is None and j["group"] is None and j["submitted"] is not None:
                span = self._innermost_at(j["submitted"])
            if span is None:
                continue
            span.jobs += 1
            span.stages += j["stages"]
            span.tasks += j["tasks"]
            span.failed_tasks += j["failed_tasks"]
            span.single_task_stages += sum(
                1 for st in j["stage_ids"]
                if first_job.get(st) == j["id"] and stage_tasks.get(st) == 1
            )

    def _innermost_at(self, wall: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.wall_start <= wall <= s.wall_end and (
                best is None or s.wall_end - s.wall_start < best.wall_end - best.wall_start
            ):
                best = s
        return best

    # -- output -----------------------------------------------------------
    def to_json(self) -> dict:
        """Spans with their self times, plus self time summed per name."""
        selfs = self_times(self.spans)
        t0 = min((s.start for s in self.spans), default=0.0)
        per_name: dict[str, float] = {}
        for s in self.spans:
            per_name[s.name] = per_name.get(s.name, 0.0) + selfs[s.id]
        return {
            "spans": [
                {
                    "name": s.name, "id": s.id, "parent": s.parent,
                    "start_s": s.start - t0, "end_s": s.end - t0,
                    "self_s": selfs[s.id], "group": s.group, "attrs": s.attrs,
                    **{k: getattr(s, k) for k in SPARK_COUNTERS},
                }
                for s in sorted(self.spans, key=lambda s: s.id)
            ],
            "self_s_by_name": per_name,
        }
