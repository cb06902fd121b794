"""Tracing for the ``--trace 1`` run: spans around calls into each
layer's public functions, and Spark's own per-job-group metrics.

Spans are recorded from the benchmark's side only. ``Tracer.wrap``
replaces a module or class attribute with a wrapper that times the
call, so the program runs unmodified and the wrappers are removed
when the run ends. Spans live in memory and are written out at the
end of the run.

Spark metrics come from the job group each traced call sets, read
back through ``statusTracker()`` and the status stores. Both work with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    rid: str | None  # request or call id; spans of one call share it
    start: float
    end: float

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------
    @property
    def rid(self) -> str | None:
        return getattr(self._local, "rid", None)

    @rid.setter
    def rid(self, value: str | None) -> None:
        self._local.rid = value

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid: str | None = None, parent: int | None = None):
        stack = self._stack()
        sid = next(self._ids)
        if parent is None and stack:
            parent = stack[-1]
        rid = rid or self.rid
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            # list.append is atomic under the GIL
            self.spans.append(Span(sid, parent, name, rid, t0, t1))

    def wrap(self, owner: object, attr: str, name: str, around=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``around``, if
        given, is a context-manager factory entered inside the span with
        the call's arguments (used to set a Spark job group)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                if around is None:
                    return orig(*args, **kwargs)
                with around(*args, **kwargs):
                    return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis --------------------------------------------------------
    def self_ms(self) -> dict[int, float]:
        """Span id → self time: its duration minus the part of its
        interval its child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(kids.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.sid] = (s.end - s.start - covered) * 1e3
        return out

    def by_rid(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.rid is not None:
                out.setdefault(s.rid, []).append(s)
        return out

    def write(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "parent": s.parent,
                            "name": s.name,
                            "rid": s.rid,
                            "start_ms": round((s.start - t0) * 1e3, 3),
                            "end_ms": round((s.end - t0) * 1e3, 3),
                        }
                    )
                    + "\n"
                )


# ------------------------------------------------------------------ Spark


@contextmanager
def job_group(group: str):
    """Tag the Spark jobs this thread starts with ``group`` (on the
    active SparkContext, which set-up may have restarted)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        if prev is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(prev, prev)


@contextmanager
def phase(tracer: Tracer | None, name: str, group: str):
    """A span and a Spark job group around one phase of a traced call;
    nothing when ``tracer`` is None (the untraced run)."""
    if tracer is None:
        yield
        return
    with tracer.span(name), job_group(group):
        yield


_METRIC_RE = re.compile(r"<b>([^<]+)</b><br><br>([^\"]*)\"")


class SparkLedger:
    """Per-job-group totals from ``statusTracker()`` and the core and SQL
    status stores."""

    def __init__(self, spark) -> None:
        self.tracker = spark.sparkContext.statusTracker()
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._job_exec: dict[int, int] | None = None

    def jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> list[dict]:
        out = []
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.stage(sid)
                if st is not None:
                    out.append(st)
        return out

    def stage(self, sid: int) -> dict | None:
        sd = self.store.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            return None  # skipped: its output was reused
        sub, comp = sd.submissionTime(), sd.completionTime()
        return {
            "stage": sid,
            "tasks": sd.numTasks(),
            "run_ms": sd.executorRunTime(),
            "cpu_ms": sd.executorCpuTime() / 1e6,
            "gc_ms": sd.jvmGcTime(),
            "input_records": sd.inputRecords(),
            "input_bytes": sd.inputBytes(),
            "output_records": sd.outputRecords(),
            "output_bytes": sd.outputBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "t0_ms": sub.get().getTime() if sub.isDefined() else 0,
            "t1_ms": comp.get().getTime() if comp.isDefined() else 0,
            "ops": self._ops(sid),
        }

    def _ops(self, sid: int) -> set[str]:
        """Operator names in the stage's operation graph (e.g. "Scan
        parquet", "ArrowEvalPython", "MapInPandas")."""
        names: set[str] = set()
        stack = [self.store.operationGraphForStage(sid).rootCluster()]
        while stack:
            c = stack.pop()
            names.add(c.name().strip())
            kids = c.childClusters()
            stack.extend(kids.apply(i) for i in range(kids.size()))
        return names

    def totals(self, job_ids: list[int]) -> dict:
        stages = self.stages(job_ids)
        keys = ("tasks", "run_ms", "cpu_ms", "gc_ms", "input_records", "input_bytes",
                "output_records", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes")
        out = {k: sum(s[k] for s in stages) for k in keys}
        out["jobs"] = len(job_ids)
        out["stages"] = len(stages)
        out["stage_list"] = stages
        return out

    def sql_nodes(self, job_ids: list[int]) -> list[tuple[str, dict[str, str]]]:
        """(operator, metrics) of every plan node of the SQL executions
        that ran ``job_ids``."""
        if self._job_exec is None:
            self._job_exec = {}
            execs = self.sql.executionsList()
            for k in range(execs.size()):
                e = execs.apply(k)
                for j in re.findall(r"\d+", e.jobs().keySet().toString()):
                    self._job_exec[int(j)] = e.executionId()
        out = []
        for eid in sorted({self._job_exec[j] for j in job_ids if j in self._job_exec}):
            dot = self.sql.planGraph(eid).makeDotFile(self.sql.executionMetrics(eid))
            for name, body in _METRIC_RE.findall(dot):
                metrics = {}
                for part in body.split("<br>"):
                    if ": " in part:
                        k, v = part.split(": ", 1)
                        metrics[k] = v
                out.append((name.strip(), metrics))
        return out


def metric_number(text: str) -> float:
    """A SQL metric as displayed ("40,000", "233 ms", "1.3 s",
    "total (min, med, max ...)\\n170 ms (...)") → number (ms for times)."""
    text = re.split(r"\\n|\n", text)[-1]
    m = re.match(r"\s*([\d,.]+)\s*(ms|s|m|h|B|KiB|MiB|GiB)?", text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    scale = {"s": 1e3, "m": 6e4, "h": 3.6e6, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3}
    return v * scale.get(m.group(2) or "", 1.0)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
