"""Spans around the engine's public calls, and Spark's own counters per span.

A span is opened by the benchmark around one call into a layer
(``with tracer.span("writers.upsert"):``). Spans always record their wall
time, so the untraced run measures with the same code. With tracing on, a
span also names a Spark job group after itself, so every stage the call
submits carries the span id as its description; after the measured window
``harvest`` reads the stages from Spark's status store and adds their
counters (tasks, bytes, executor run time) to the span and its ancestors.

Stages whose description is not a span id — jobs submitted from threads the
engine starts itself (the streaming query's micro-batches, the recommender's
stage pool) — go to the innermost span of the benchmark's own thread whose
interval contains the stage's submission time: the call that caused them.

``sticky`` spans are opened inside an engine thread (the recommender's
stage pool) around a call that only builds a plan; they leave the job group
set, so the work the thread runs afterwards on that plan is theirs, and their
end time stretches to their last stage.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "stages",
    "tasks",
    "scan_tasks",
    "input_bytes",
    "output_bytes",
    "shuffle_write_bytes",
    "run_ms",
    "gc_ms",
)


@dataclass
class Span:
    id: str
    name: str
    parent: "Span | None"
    main: bool
    t0: float  # epoch seconds, comparable with Spark's stage timestamps
    t1: float = 0.0
    sticky: bool = False
    traced: bool = False  # Spark jobs were tagged with this span's id
    stats: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    jobs: int = 0
    batches: set = field(default_factory=set)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def _spark_time(s: str | None) -> float | None:
    # status-store dates render as e.g. "2026-01-31T12:00:00.123GMT"
    if not s:
        return None
    t = dt.datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class Tracer:
    """Records spans; with ``enabled`` it also tags Spark jobs per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = True  # tag jobs of spans opened from now on (when enabled)
        self.sc = None  # the live SparkContext, set by the session owner
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent tagging jobs, for trace.overhead_ratio
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._main_thread = threading.get_ident()
        self._patches: list[tuple] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main_thread:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _tag(self, group: str | None) -> None:
        t = time.perf_counter()
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)
        self.overhead_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, sticky: bool = False):
        stack = self._stack()
        main = stack is self._main_stack
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        tagging = self.enabled and self.active and self.sc is not None
        s = Span(f"perfbench-{next(self._ids)}", name, parent, main, time.time(), sticky=sticky, traced=tagging)
        self.spans.append(s)
        prev = self.sc.getLocalProperty("spark.jobGroup.id") if tagging else None
        if tagging:
            self._tag(s.id)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.t1 = time.time()
            if tagging and not sticky:
                self._tag(prev)

    # -- wrapping engine call sites (traced runs only) ---------------------

    def wrap(self, owner, attr: str, name: str, sticky: bool = False) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span."""
        had_own = attr in vars(owner)
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name, sticky=sticky):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, had_own, orig))

    def unwrap_all(self) -> None:
        for owner, attr, had_own, orig in reversed(self._patches):
            if had_own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patches.clear()

    # -- attribution -------------------------------------------------------

    def harvest(self) -> None:
        """Read every stage and job from Spark's status store and add their
        counters to the span that caused them (and its ancestors)."""
        sc = self.sc
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        mapper = jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()
        stages = json.loads(
            mapper.writeValueAsString(
                store.stageList(
                    jvm.java.util.ArrayList(),
                    False,
                    False,
                    sc._gateway.new_array(jvm.double, 0),
                    jvm.java.util.ArrayList(),
                )
            )
        )
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        by_id = {s.id: s for s in self.spans}
        mains = sorted((s for s in self.spans if s.main), key=lambda s: s.t0)

        def owner(desc: str | None, when: float | None) -> Span | None:
            if desc in by_id:
                return by_id[desc]
            if when is None:
                return None
            best = None
            for s in mains:
                if s.t0 > when:
                    break
                if when <= s.t1:
                    best = s  # later start among containing spans = innermost
            return best

        for st in stages:
            if st.get("status") in ("SKIPPED", "PENDING"):
                continue
            sp = owner(st.get("description"), _spark_time(st.get("submissionTime")))
            if sp is None:
                continue
            done = _spark_time(st.get("completionTime"))
            if sp.sticky and done is not None:
                sp.t1 = max(sp.t1, done)
            inc = {
                "stages": 1,
                "tasks": st.get("numCompleteTasks", 0),
                "scan_tasks": st.get("numCompleteTasks", 0) if st.get("inputBytes", 0) > 0 else 0,
                "input_bytes": st.get("inputBytes", 0),
                "output_bytes": st.get("outputBytes", 0),
                "shuffle_write_bytes": st.get("shuffleWriteBytes", 0),
                "run_ms": st.get("executorRunTime", 0),
                "gc_ms": st.get("jvmGcTime", 0),
            }
            while sp is not None:
                for k, v in inc.items():
                    sp.stats[k] += v
                sp = sp.parent

        for job in jobs:
            desc = job.get("description")
            sp = owner(desc, _spark_time(job.get("submissionTime")))
            batch = _stream_batch(desc)
            while sp is not None:
                sp.jobs += 1
                if batch is not None:
                    sp.batches.add(batch)
                sp = sp.parent

    def named(self, name: str, traced: bool = False) -> list[Span]:
        return [s for s in self.spans if s.name == name and (s.traced or not traced)]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted(
            (max(c.t0, span.t0), min(c.t1, span.t1))
            for c in self.spans
            if c.parent is span
        )
        covered, end = 0.0, span.t0
        for a, b in kids:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return span.dur - covered

    def self_time_by_layer(self) -> dict[str, float]:
        """Self time of the traced spans per layer (span name up to its
        first dot), in seconds."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.traced:
                layer = s.name.split(".")[0]
                out[layer] = out.get(layer, 0.0) + self.self_time(s)
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as fh:
            for s in self.spans:
                row = {
                    "id": s.id,
                    "name": s.name,
                    "parent": s.parent.id if s.parent else None,
                    "t0": s.t0,
                    "dur_s": s.dur,
                    "self_s": self.self_time(s),
                    "traced": s.traced,
                    "jobs": s.jobs,
                    **s.stats,
                }
                fh.write(json.dumps(row) + "\n")


def _stream_batch(desc: str | None) -> tuple[str, str] | None:
    """(runId, batch) of a Structured Streaming micro-batch job."""
    if not desc or "runId = " not in desc or "batch = " not in desc:
        return None
    run = desc.split("runId = ", 1)[1].split()[0]
    return run, desc.split("batch = ", 1)[1].split()[0]
