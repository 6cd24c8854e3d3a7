"""Spans and Spark job counters at the engine's layer boundaries.

A span is (name, start, end, parent, item). Spans stay in memory and
are written out once, when the run ends. A layer's self time is its
spans' duration minus the time covered by their direct children; the
driver thread is single-threaded, so children never overlap.

``install`` wraps the engine's public layer functions in their
modules before any query module is imported, so that the
``from ... import name`` bindings inside the package pick up the
wrappers. Untraced runs never call it and run the engine unwrapped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict

# (module, attribute, span name); modules are imported in this order,
# each before the query modules that import names from it.
LAYER_FUNCTIONS = (
    ("gpu_database_spark.session", "get_spark", "session.get_spark"),
    ("gpu_database_spark.sources.catalog", "load_table", "sources.load_table"),
    ("gpu_database_spark.functions.materialize", "materialize", "functions.materialize"),
    ("gpu_database_spark.functions.materialize", "release_all", "functions.release_all"),
    ("gpu_database_spark.gen", "transactions", "gen.transactions"),
    ("gpu_database_spark.gen", "kv_table_distributed", "gen.kv_table_distributed"),
    ("gpu_database_spark.operators.aria", "run_batch", "aria.run_batch"),
)


class Tracer:
    """Collects spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.item: str | None = None
        self.overhead_s = 0.0  # time spent inside the tracer's own bookkeeping
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span around the ``with`` body (a no-op when disabled)."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "item": self.item,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t1 = time.perf_counter()
        rec["start"] = t1
        try:
            yield rec
        finally:
            t2 = time.perf_counter()
            rec["end"] = t2
            self._stack.pop()
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None:
                    rec["result"] = _summary(out)
                return out

        return traced

    def install(self) -> None:
        """Wrap every function of ``LAYER_FUNCTIONS`` in its module."""
        import importlib

        for mod_name, attr, name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self.wrap(getattr(mod, attr), name))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _summary(out):
    """What a wrapped call returned, as far as the metrics need it."""
    if isinstance(out, int):
        return out  # release_all: blocks released
    epochs = getattr(out, "epochs", None)
    if epochs is not None:
        return {"epochs": epochs, "commits": len(out.commit_order)}
    return None


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, minus the time covered by direct children."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
    return out


def calls(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


class JobCounter:
    """Jobs, stages, tasks and shuffle bytes of one Spark job group,
    read from the status stores after the group's work has finished."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def detail(self, group: str) -> dict[str, int]:
        """Stages and tasks that ran (skipped stages excluded)."""
        stages = tasks = shuffle_write = 0
        seen: set[int] = set()
        for jid in self.jobs(group):
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += sd.numCompleteTasks()
                shuffle_write += sd.shuffleWriteBytes()
        return {"stages": stages, "tasks": tasks, "shuffle_write_bytes": shuffle_write}
