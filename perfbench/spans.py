"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files: ``Tracer.patch``
replaces a library function with a wrapper *where it is looked up* (most
extraction helpers are imported by name into
``subgraph_extractor_spark.extract``, so they are patched there, not in
their home module).  Each span keeps name, start, end, parent index and
the id of the operation it belongs to; spans stay in memory until the
run ends.

Executor-side work cannot be wrapped from this process.  Instead every
operation runs under its own Spark job group, and every span sets the
job description to its name, so the SQL executions a span starts carry
that name.  After each operation the tracer reads the Spark status
tracker (jobs, stages, shuffle bytes) and the SQL status store (per-node
metrics such as "time to run Python workers"), which work with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

JOB_GROUP = "spark.jobGroup.id"
JOB_DESC = "spark.job.description"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op: int | None
    side: bool  # output-check work, outside the operation's timed region
    end: float = 0.0


@dataclass
class SqlExec:
    """One finished SQL execution: the span name it started under and its
    per-node metrics as ``[(node name, {metric: value})]``."""

    description: str
    nodes: list[tuple[str, dict[str, float]]]
    jobs: list[int]
    first_stage_tasks: int  # the scan stage of a simple query
    first_stage_run_s: float


_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float | None:
    """Value of a SQL metric as the status store renders it: plain sums
    ("1,234"), or sizes/timings ("76.2 KiB", "1.4 s"), possibly as
    "total (min, med, max ...)\\n<total> (...)".  Sizes come back in
    bytes and timings in seconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", text)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0) if m.group(2) else num


def _scala(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkStats:
    """Reads job/stage counts, shuffle bytes and SQL node metrics that
    Spark's listeners recorded, without running any job."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc._jsc.sc().statusStore()
        self.seen = self.sql_store.executionsCount()

    def new_executions(self, timeout: float = 10.0) -> list[SqlExec]:
        """SQL executions recorded since the last call, waiting (bounded)
        for the listener bus to mark each one complete."""
        deadline = time.monotonic() + timeout
        while True:
            count = self.sql_store.executionsCount()
            if count == self.seen:
                return []
            execs = list(
                _scala(self.sql_store.executionsList(self.seen, count - self.seen))
            )
            if all(e.completionTime().isDefined() for e in execs):
                break
            if time.monotonic() > deadline:
                break
            time.sleep(0.02)
        self.seen = count
        out = []
        for e in execs:
            eid = e.executionId()
            values = {
                kv._1(): kv._2() for kv in _scala(self.sql_store.executionMetrics(eid))
            }
            nodes = []
            for node in _scala(self.sql_store.planGraph(eid).allNodes()):
                ms = {}
                for m in _scala(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v is not None:
                        parsed = parse_metric(v)
                        if parsed is not None:
                            ms[m.name()] = ms.get(m.name(), 0.0) + parsed
                nodes.append((node.name(), ms))
            jobs = [int(j) for j in _scala(e.jobs().keys())]
            out.append(
                SqlExec(e.description() or "", nodes, jobs, *self.first_stage(jobs))
            )
        return out

    def first_stage(self, jobs: list[int]) -> tuple[int, float]:
        """(tasks, executor run seconds) of the first stage of the given
        jobs: the scan stage of a simple query."""
        tracker = self.sc.statusTracker()
        stages = [
            s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds
        ]
        try:
            sd = self.app_store.lastStageAttempt(min(stages))
        except (ValueError, Py4JJavaError):  # no stages, or none recorded
            return 0, 0.0
        return sd.numTasks(), sd.executorRunTime() / 1000.0

    def group_jobs(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages run, shuffle bytes written) of one job group."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran = 0
        shuffle = 0
        for s in stages:
            try:
                sd = self.app_store.lastStageAttempt(s)
            except Py4JJavaError:  # skipped stages may have no attempt recorded
                continue
            if sd.status().toString() == "SKIPPED" or sd.numTasks() == 0:
                continue
            ran += 1
            shuffle += sd.shuffleWriteBytes()
        return len(jobs), ran, shuffle


@dataclass
class OpRecord:
    """Everything the tracer learned about one operation."""

    op: int
    kind: str
    wall: float
    execs: list[SqlExec] = field(default_factory=list)
    jobs: int = 0
    stages: int = 0
    shuffle_bytes: int = 0
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.stats = SparkStats(spark)
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.in_side = False
        self.records: list[OpRecord] = []
        self._counts: dict[str, float] = defaultdict(float)
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        self.spans.append(
            Span(name, time.perf_counter(), parent, self.op, self.in_side)
        )
        idx = len(self.spans) - 1
        self.stack.append(idx)
        self.sc.setLocalProperty(JOB_DESC, name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self.stack.pop()
            self.sc.setLocalProperty(
                JOB_DESC, self.spans[self.stack[-1]].name if self.stack else None
            )

    def count(self, key: str, n: float = 1) -> None:
        self._counts[key] += n

    def inside(self, name: str) -> bool:
        """Is a span called ``name`` open?"""
        return any(self.spans[i].name == name for i in self.stack)

    def patch(self, owner, attr: str, name: str | None, on_call=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``
        (no span when None); ``on_call(tracer, args, kwargs, result)`` may
        record counts."""
        real = getattr(owner, attr)

        @functools.wraps(real)
        def wrapper(*args, **kwargs):
            if name is None:
                result = real(*args, **kwargs)
            else:
                with self.span(name):
                    result = real(*args, **kwargs)
            if on_call is not None:
                on_call(self, args, kwargs, result)
            return result

        self._patched.append((owner, attr, real))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, real in reversed(self._patched):
            setattr(owner, attr, real)
        self._patched.clear()

    # -- operations -------------------------------------------------------

    @contextmanager
    def operation(self, op: int, kind: str):
        """Run one operation under its own job group and root span, then
        collect what Spark recorded for it."""
        group = f"perfbench-op-{op}"
        self.stats.new_executions()  # drop anything from before the op
        self._counts = defaultdict(float)
        self.op = op
        self.sc.setLocalProperty(JOB_GROUP, group)
        t0 = time.perf_counter()
        try:
            with self.span("op"):
                yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty(JOB_GROUP, None)
            self.op = None
            rec = OpRecord(op, kind, wall, counts=self._counts)
            rec.execs = self.stats.new_executions()
            rec.jobs, rec.stages, rec.shuffle_bytes = self.stats.group_jobs(group)
            self.records.append(rec)

    @contextmanager
    def side(self, op: int):
        """Work done for operation ``op`` outside its timed region (the
        output checks): spans and SQL metrics go to the same record."""
        self._counts = self.records[-1].counts
        self.op, self.in_side = op, True
        try:
            yield
        finally:
            self.op, self.in_side = None, False
            self.records[-1].execs.extend(self.stats.new_executions())

    # -- summaries --------------------------------------------------------

    def self_times(self, ops: set[int], side: bool = False) -> dict[str, float]:
        """Total self time per span name over the given operations' timed
        (or, with ``side``, check) work: each span's duration minus the
        part its child spans cover."""
        mine = [s.op in ops and s.side == side for s in self.spans]
        child = defaultdict(float)
        for s, m in zip(self.spans, mine):
            if m and s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, (s, m) in enumerate(zip(self.spans, mine)):
            if m:
                out[s.name] += (s.end - s.start) - child[i]
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "op": s.op,
                "side": s.side,
            }
            for s in self.spans
        ]
