"""Tracing for the benchmark's traced run, from outside the engine.

Spans are kept in memory (name, start, end, parent, pass id) and written
out when the run ends.  Each span labels the Spark actions it contains with
a job group of its own, so the jobs, stages and SQL executions a span caused
can be read back from Spark's status stores afterwards.  ``wrap`` puts a
span around a public function of a module or class; ``restore`` puts every
wrapped function back.  Nothing here is imported by an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import re
import time

_UNITS = {
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """Value of one formatted SQL metric, in bytes, seconds or a count.

    Spark formats size and timing metrics as ``total (min, med, max ...)``
    followed by a line that starts with the total, e.g. ``93.0 MiB (...)``;
    sum metrics are a plain number such as ``50,258``.  Average metrics
    carry no total and give None."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if m is None:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    def __init__(self, spark, workload: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self.pass_id: int | str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- spans
    def _group(self, span_id: int) -> str:
        return f"perfbench/{self.workload}/{span_id}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(self._group(rec["id"]), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setJobGroup(f"perfbench/{self.workload}/idle", "idle")
            else:
                self.sc.setJobGroup(self._group(parent), self.spans[parent]["name"])

    def wrap(self, owner, attr: str, span_name) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span.
        ``span_name`` is a string or a function of the call's arguments."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            name = span_name if isinstance(span_name, str) else span_name(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def subtree(self, span_id: int) -> list[int]:
        out = [span_id]
        for s in self.spans[span_id + 1 :]:
            if s["parent"] in out:
                out.append(s["id"])
        return out

    def covered_s(self, spans: list[dict]) -> float:
        """Length of the union of the spans' intervals."""
        total, end = 0.0, None
        for s in sorted(spans, key=lambda s: s["start"]):
            if end is None or s["start"] > end:
                total += s["end"] - s["start"]
                end = s["end"]
            elif s["end"] > end:
                total += s["end"] - end
                end = s["end"]
        return total

    def self_time(self, span_id: int) -> float:
        s = self.spans[span_id]
        kids = [k for k in self.spans if k["parent"] == span_id]
        return (s["end"] - s["start"]) - self.covered_s(kids)

    # ------------------------------------------------------ Spark stores
    def job_ids(self, span_ids: list[int]) -> list[int]:
        tracker = self.sc.statusTracker()
        ids: list[int] = []
        for sid in span_ids:
            ids.extend(tracker.getJobIdsForGroup(self._group(sid)))
        return sorted(set(ids))

    def stage_totals(self, span_ids: list[int]) -> dict[str, float]:
        """Jobs, executed stages, tasks, shuffle bytes written and bytes
        spilled to disk by the actions of the given spans."""
        store = self.sc._jsc.sc().statusStore()
        jobs = self.job_ids(span_ids)
        stages: set[int] = set()
        for j in jobs:
            stages.update(int(s) for s in _scala_iter(store.job(j).stageIds()))
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.diskBytesSpilled()
        return out

    def sql_metrics(self, span_ids: list[int]) -> list[tuple[str, str, float]]:
        """(plan node name, metric name, value) for every SQL execution that
        ran a job of the given spans, read from the SQL status store."""
        jobs = set(self.job_ids(span_ids))
        store = self.spark._jsparkSession.sharedState().statusStore()
        rows: list[tuple[str, str, float]] = []
        for ex in _scala_iter(store.executionsList()):
            if not jobs.intersection(int(j) for j in _scala_iter(ex.jobs().keys())):
                continue
            eid = ex.executionId()
            values = store.executionMetrics(eid)
            for node in _scala_iter(store.planGraph(eid).allNodes()):
                for m in _scala_iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    x = parse_metric(v.get()) if v.isDefined() else None
                    if x is not None:
                        rows.append((node.name(), m.name(), x))
        return rows


def metric_sum(rows, node_prefix: str, metric: str) -> float:
    return sum(v for n, m, v in rows if n.startswith(node_prefix) and m == metric)
