"""Span recorder, wrapped program calls and Spark stage counters.

Used only by the traced run.  Spans live in memory (name, start, end,
parent, run id) and are written out when the benchmark ends.  Each span
owns a Spark job group, so the stage counters the UI REST API reports per
job (CPU, GC, bytes in / out / shuffled, spill, max task time) are
attributed to the innermost span that ran them.

The program is not edited: ``patched`` swaps the names that
``plans.pipeline`` (and ``plans.manifest`` for ``partition_row_counts``)
look up for wrappers, and restores them on exit.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    run_id: str
    parent: str | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, run_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = Span(
            id=f"pb-span-{len(self.spans)}",
            name=name,
            run_id=run_id or (parent.run_id if parent else "-"),
            parent=parent.id if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec.id, name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def find(self, name: str, run_id: str) -> Span | None:
        return next(
            (s for s in self.spans if s.name == name and s.run_id == run_id), None
        )

    def self_time(self, span: Span) -> float:
        children = [s for s in self.spans if s.parent == span.id]
        return span.dur - sum(c.dur for c in children)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f, indent=1)


class _CollectSpan:
    """A DataFrame stand-in whose ``collect`` runs inside a span."""

    def __init__(self, df, tracer: Tracer, name: str) -> None:
        self._df, self._tracer, self._name = df, tracer, name

    def collect(self):
        with self._tracer.span(self._name):
            return self._df.collect()

    def __getattr__(self, attr):
        return getattr(self._df, attr)


@contextmanager
def patched(tracer: Tracer):
    """Route the program's layer calls inside ``run_pipeline`` through spans."""
    from log_analysis_spark.operators import router
    from log_analysis_spark.plans import manifest, pipeline

    sink_counts = router.sink_counts
    swaps = [
        (pipeline, "fingerprint_source", tracer.wrap(
            "plans.manifest.fingerprint", pipeline.fingerprint_source)),
        (pipeline, "route_write_resumable", tracer.wrap(
            "sources.route_write", pipeline.route_write_resumable)),
        (manifest, "partition_row_counts", tracer.wrap(
            "plans.manifest.readback", manifest.partition_row_counts)),
        (router, "sink_counts", lambda df: _CollectSpan(
            sink_counts(df), tracer, "operators.aggregate.sink_counts")),
    ]
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in swaps]
    for mod, name, fn in swaps:
        setattr(mod, name, fn)
    try:
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def attach_stage_counters(sc, ui_port: int, spans: list[Span]) -> None:
    """Fill ``span.counters`` from the UI REST API, by job group.

    A stage listed by several jobs (a reused shuffle) counts once, for the
    first job that lists it; only completed stage attempts count.
    """
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    base = f"http://127.0.0.1:{ui_port}/api/v1/applications/{sc.applicationId}"
    owner: dict[int, str | None] = {}
    for job in sorted(_get(f"{base}/jobs"), key=lambda j: j["jobId"]):
        for sid in job["stageIds"]:
            owner.setdefault(sid, job.get("jobGroup"))
    by_id = {s.id: s for s in spans}
    for s in spans:
        s.counters = {
            "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0, "input_bytes": 0,
            "output_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            "max_task_s": 0.0, "stages": 0,
        }
    for st in _get(f"{base}/stages"):
        span = by_id.get(owner.get(st["stageId"]))
        if span is None or st["status"] != "COMPLETE":
            continue
        c = span.counters
        c["stages"] += 1
        c["cpu_s"] += st["executorCpuTime"] / 1e9
        c["run_s"] += st["executorRunTime"] / 1e3
        c["gc_s"] += st.get("jvmGcTime", 0) / 1e3
        c["input_bytes"] += st["inputBytes"]
        c["output_bytes"] += st["outputBytes"]
        c["shuffle_bytes"] += st["shuffleWriteBytes"]
        c["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        summary = _get(
            f"{base}/stages/{st['stageId']}/{st['attemptId']}/taskSummary?quantiles=1.0"
        )
        c["max_task_s"] = max(c["max_task_s"], summary["duration"][0] / 1e3)
