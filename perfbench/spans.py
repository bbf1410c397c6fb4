"""Layer spans for the traced benchmark run.

A span is recorded around each call into an engine layer: name, start,
end, parent span and operation id.  Spans stay in memory and are written
out once, when the run ends.  Every span runs its Spark jobs under its own
job group, so Spark's status tracker attributes jobs, stages and
tasks to exactly one span (a parent's counts exclude its children's).

The traced run also *materialises* each layer's output at the boundary
(``cut``), so a span times its own layer rather than whatever lazy
lineage happens to be forced inside it.  The untraced run uses
:class:`NullTracer`, whose ``cut`` is the identity: same code path, no
boundaries, no bookkeeping.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = float("nan")
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced run: no spans, no materialisation at layer boundaries."""

    enabled = False

    @contextmanager
    def span(self, name: str, op_id: int):
        yield Span(-1, name, op_id, None, 0.0)

    def cut(self, df):
        return df


class Tracer:
    """Traced run: spans in memory, Spark counters per span, materialised
    layer boundaries.  ``sc`` (a SparkContext) may be None in tests."""

    enabled = True

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: int):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, op_id, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        self._set_group(sp.span_id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            if self.sc is not None:
                sp.counts.update(spark_counts(self.sc, _group(sp.span_id)))

    def cut(self, df):
        """Materialise ``df`` at a layer boundary and truncate its lineage,
        so the next layer reads this output instead of recomputing it."""
        return df.localCheckpoint(eager=True)

    def _set_group(self, span_id: int | None) -> None:
        if self.sc is None:
            return
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(_group(span_id), self.spans[span_id].name)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "self_s": self_times(self.spans),
                    "layers": layer_report(self.spans),
                    **extra,
                },
                fh,
                indent=1,
            )


def _group(span_id: int) -> str:
    return f"perfbench-span-{span_id}"


def spark_counts(sc, group: str) -> dict:
    """Jobs, stages that ran, tasks completed and tasks failed for one job
    group, from Spark's status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for job_id in jobs:
        info = st.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            si = st.getStageInfo(stage_id)
            # stages skipped thanks to reused shuffle output run no task
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "tasks_failed": failed}


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it its child spans cover
    (children clipped to the parent's interval; overlapping children
    counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.span_id, ())
            if c.end > s.start and c.start < s.end
        ]
        out.append(s.duration - covered(kids))
    return out


def layer_report(spans: list[Span]) -> dict:
    """Per layer: span count, total span time and self time (seconds)."""
    rep: dict[str, dict] = {}
    for s, self_s in zip(spans, self_times(spans)):
        r = rep.setdefault(s.layer, {"spans": 0, "total_s": 0.0, "self_s": 0.0})
        r["spans"] += 1
        r["total_s"] += s.duration
        r["self_s"] += self_s
    return rep
