"""Spans for the traced run, and the Spark event log that goes with them.

Spans are recorded from the benchmark's side of each layer boundary:
around the phases of one op (query build / execution, the streaming
calls of one trigger) and around the engine's public functions that the
query code calls (``tables.load_table``, the jx compiler, the dedup and
similarity operators).  Each span has a name, start, end, parent span
and the id of the op it belongs to; spans stay in memory until the run
ends.  Every phase also sets the Spark job group to ``<op>|<phase>``, so
event-log jobs and tasks map back to the op and phase that ran them.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import time
from contextlib import contextmanager, nullcontext

#: engine modules whose public functions get a span, and the layer name
#: the span carries
WRAPPED_MODULES = {
    "mo_etl_spark.operators.dedup": "operators.dedup",
    "mo_etl_spark.operators.similarity": "operators.similarity",
}
WRAPPED_FUNCTIONS = {
    ("mo_etl_spark.tables", "load_table"): "tables.load",
    ("mo_etl_spark.jx.query", "jx_run"): "jx.compile",
    ("mo_etl_spark.jx.expressions", "jx_expr"): "jx.compile",
}
#: fluent-jx entry points, patched on the class itself
WRAPPED_METHODS = {("mo_etl_spark.jx.fluent", "Q"): ("df", "run")}
#: similarity functions that build (train or persist) an index
INDEX_BUILDERS = ("write_ann_index", "kmeans_train", "pq_train_codebooks")


class NullRecorder:
    """The untraced run: phases cost one no-op context manager."""

    traced = False

    def op(self, op_id: str):
        return nullcontext()

    def phase(self, name: str):
        return nullcontext()

    def note(self, key: str, value: float, op: str | None = None) -> None:
        pass


class Tracer:
    """In-memory span recorder for one traced run."""

    traced = True

    def __init__(self, spark):
        self._sc = spark.sparkContext
        # span: [id, parent id, op id, name, start, end]
        self.spans: list[list] = []
        self.notes: list[tuple[str, str, float]] = []  # (op, key, value)
        self._stack: list[int] = []
        self._op: str | None = None
        self._seen_loads: dict[int, object] = {}

    @contextmanager
    def span(self, name: str):
        rec = [len(self.spans), self._stack[-1] if self._stack else None,
               self._op, name, time.perf_counter(), None]
        self.spans.append(rec)
        self._stack.append(rec[0])
        try:
            yield
        finally:
            rec[5] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, op_id: str):
        self._op = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self._op = None
            self._sc.setJobGroup("idle", "between ops")

    @contextmanager
    def phase(self, name: str):
        self._sc.setJobGroup(f"{self._op}|{name}", name)
        with self.span(name):
            yield

    def note(self, key: str, value: float, op: str | None = None) -> None:
        self.notes.append((op or self._op, key, value))

    def clear(self) -> None:
        """Drop everything recorded so far (warm-up passes)."""
        self.spans.clear()
        self.notes.clear()

    # -- wrapping the engine's public functions ---------------------

    def _wrap(self, fn, layer: str, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        return traced

    def _on_load(self, df) -> None:
        # a hit is a load_table call returning an object returned before
        hit = id(df) in self._seen_loads
        self._seen_loads[id(df)] = df
        self.note("tables.load_hit", 1.0 if hit else 0.0)

    def install(self) -> None:
        """Patch each wrapped function under every name the engine's
        modules bound it to, so ``from x import f`` users see the span."""
        from mo_etl_spark.registry import all_queries

        all_queries()  # imports every suite module
        targets: dict[int, tuple[object, object]] = {}
        for modname, layer in WRAPPED_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, fn in vars(mod).items():
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname):
                    continue
                after = None
                if attr in INDEX_BUILDERS:
                    after = lambda _out: self.note("similarity.index_build", 1.0)
                targets[id(fn)] = (fn, self._wrap(fn, layer, after))
        for (modname, attr), layer in WRAPPED_FUNCTIONS.items():
            fn = getattr(importlib.import_module(modname), attr)
            after = self._on_load if layer == "tables.load" else None
            targets[id(fn)] = (fn, self._wrap(fn, layer, after))
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name.startswith("mo_etl_spark") or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
        for (modname, cls), methods in WRAPPED_METHODS.items():
            klass = getattr(importlib.import_module(modname), cls)
            for m in methods:
                setattr(klass, m, self._wrap(getattr(klass, m), "jx.compile"))


def self_times(spans: list[list]) -> dict[int, float]:
    """Span id -> its duration minus the durations of its child spans."""
    out = {s[0]: s[5] - s[4] for s in spans}
    for s in spans:
        if s[1] is not None:
            out[s[1]] -= s[5] - s[4]
    return out


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job count, job intervals (ms), task count, summed
    task run time and JVM GC time (ms), from the run's event log."""
    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name, {"jobs": 0, "tasks": 0, "task_ms": 0, "gc_ms": 0, "intervals": []}
        )

    wanted = ("JobStart", "JobEnd", "StageSubmitted", "TaskEnd")
    files = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                head = line[:60]
                if not any(f"SparkListener{w}\"" in head for w in wanted):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    job_group[ev["Job ID"]] = grp
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    g(grp)["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_start:
                        g(job_group[jid])["intervals"].append(
                            (job_start[jid], ev["Completion Time"])
                        )
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get(
                        "spark.jobGroup.id", ""
                    )
                else:
                    m = ev.get("Task Metrics") or {}
                    rec = g(stage_group.get(ev["Stage ID"], ""))
                    rec["tasks"] += 1
                    rec["task_ms"] += m.get("Executor Run Time", 0)
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
    return groups


def union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
