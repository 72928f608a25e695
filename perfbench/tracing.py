"""Span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files: `Hooks` replaces the
public function of each layer, as the pipeline looks it up at call time,
with a wrapper that opens a span, calls the original and forces the
DataFrame it returns (`localCheckpoint`), so the span covers the work of
that layer and later layers read its materialised output. Without forcing,
Spark's laziness would charge every layer's work to whichever later layer
happens to run the first action.

Each span records name, start, end, parent span and run id, plus the
Spark jobs, stages and tasks it ran: every span gets its own job group, and
`SparkContext.statusTracker()` (which works with the UI off) maps the group
to its jobs, stages and tasks. A stage is charged to the first span that
sees it run, so a shuffle stage that a later job skips is not counted
twice. Spans stay in memory until `write` at the end of the run.

Statistics the benchmark gathers about a layer's output (counts, ratios)
run under `Tracer.aside`, whose time is excluded from every open span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

# layer of a span = its name up to the first '.'
LAYERS = [
    "blocking",
    "comparators",
    "comparison_summary",
    "em",
    "connected_components",
    "assignment",
    "incremental",
    "streaming",
]
COUNTS = ["jobs", "stages", "tasks", "failed_tasks"]


class Span:
    __slots__ = ("id", "name", "parent", "run", "op", "start", "end", "excluded",
                 "group", "counts")

    def __init__(self, sid, name, parent, run, op, start, group):
        self.id, self.name, self.parent, self.run, self.op = sid, name, parent, run, op
        self.start, self.end, self.excluded = start, None, 0.0
        self.group = group
        self.counts = dict.fromkeys(COUNTS, 0)

    @property
    def seconds(self) -> float:
        return self.end - self.start - self.excluded

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "run": self.run, "op": self.op, "start": self.start,
            "end": self.end, "excluded_s": self.excluded, **self.counts,
        }


class Tracer:
    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self._status = self._sc.statusTracker()
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()
        self._t0 = time.perf_counter()
        self.op = -1

    def _now(self) -> float:
        return time.perf_counter() - self._t0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, parent.id if parent else None, self.run_id, self.op,
                 self._now(), f"perfbench-{self.run_id}-{sid}")
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = self._now()
            self._stack.pop()
            self._set_group(parent)
            t = time.perf_counter()
            self._count(s)
            # status queries are tracer work, not the parent's
            for open_span in self._stack:
                open_span.excluded += time.perf_counter() - t

    @contextmanager
    def aside(self):
        """Run benchmark-side statistics jobs outside every open span."""
        t = time.perf_counter()
        self._sc.setJobGroup(f"perfbench-{self.run_id}-aside", "statistics")
        try:
            yield
        finally:
            self._set_group(self._stack[-1] if self._stack else None)
            dt = time.perf_counter() - t
            for open_span in self._stack:
                open_span.excluded += dt

    def _count(self, s: Span) -> None:
        st = self._status
        jobs = st.getJobIdsForGroup(s.group)
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(int(x) for x in info.stageIds)
        s.counts["jobs"] = len(jobs)
        for sid in sorted(stages - self._seen_stages):
            info = st.getStageInfo(sid)
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue  # skipped: its shuffle output was already there
            self._seen_stages.add(sid)
            s.counts["stages"] += 1
            s.counts["tasks"] += info.numCompletedTasks + info.numFailedTasks
            s.counts["failed_tasks"] += info.numFailedTasks

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def self_seconds(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: duration minus the child spans' durations."""
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.seconds
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + s.seconds - child.get(s.id, 0.0)
    return out


def layer_counts(spans: list[Span]) -> dict[str, int]:
    """Spark counts per layer (`<layer>.<count>`) and in total
    (`spark.<count>`); each job belongs to exactly one span's group."""
    out = {f"{layer}.{c}": 0 for layer in LAYERS for c in COUNTS}
    out.update({f"spark.{c}": 0 for c in COUNTS})
    for s in spans:
        for c in COUNTS:
            if s.layer in LAYERS:
                out[f"{s.layer}.{c}"] += s.counts[c]
            out[f"spark.{c}"] += s.counts[c]
    return out


def force(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


class Hooks:
    """Replaces layer entry points with span-recording wrappers; `restore`
    puts the originals back. `install(owner, attr, wrap)` swaps `owner.attr`
    for `wrap(original)`."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def install(self, owner, attr: str, wrap) -> None:
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._saved.append((owner, attr, raw))
        new = wrap(getattr(owner, attr))
        if isinstance(raw, classmethod):
            new = classmethod(lambda cls, *a, _f=new, **k: _f(*a, **k))
        setattr(owner, attr, new)

    def forcing(self, span: str, after=None):
        """Wrapper factory: span `span` around the call, forcing a DataFrame
        result; `after(result, *args, **kwargs)` then runs aside (outside
        the spans) for statistics."""
        tracer = self.tracer

        def wrap(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(span):
                    out = orig(*args, **kwargs)
                    if isinstance(out, DataFrame):
                        out = force(out)
                if after is not None:
                    with tracer.aside():
                        after(out, *args, **kwargs)
                return out

            return wrapper

        return wrap

    def restore(self) -> None:
        while self._saved:
            owner, attr, raw = self._saved.pop()
            setattr(owner, attr, raw)
