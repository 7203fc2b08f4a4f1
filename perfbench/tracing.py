"""Runtime tracing of the engine's layer entry points, from outside the
package.

Each wrapper replaces a name where its caller binds it (a module attribute
or a ``BetfairDatabase`` method), records a span around the call, and is
removed again by ``Tracer.uninstall``. Spans of one benchmark operation
share the operation's id; Spark job and task counts per operation come from
``statusTracker()`` under a job group set around the operation.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._patches: list[tuple] = []

    # ------------------------------------------------------------- spans

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else None,
            "t0": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, kind: str, **attrs):
        """A top-level benchmark operation: a root span plus a Spark job
        group whose jobs and tasks are counted when it ends."""
        group = f"perfbench-{kind}-{next(self._ids)}"
        self.sc.setJobGroup(group, kind)
        try:
            with self.span("op:" + kind) as rec:
                rec["op"] = rec["id"]
                rec.update(attrs)
                yield rec
        finally:
            self.sc.setLocalProperty(_JOB_GROUP, None)
        rec["spark_jobs"], rec["spark_tasks"] = self._job_counts(group)
        with self._lock:
            self.ops.append(rec)

    def _job_counts(self, group: str) -> tuple[int, int]:
        """Jobs and completed tasks of a job group. Job-end events reach
        the status store asynchronously, so wait briefly until none of the
        group's jobs is still running."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + 2.0
        while True:
            infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
            if time.monotonic() > deadline or all(
                i is not None and i.status not in ("RUNNING", "UNKNOWN") for i in infos
            ):
                break
            time.sleep(0.01)
        tasks = 0
        for info in infos:
            for sid in info.stageIds if info is not None else ():
                stage = tracker.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage is not None else 0
        return len(infos), tasks

    @contextmanager
    def probe(self):
        """Benchmark-side work inside an operation (a count the benchmark
        adds): its own span and job group, so it is excluded from the
        layer's self time and from the operation's job counts."""
        prev = self.sc.getLocalProperty(_JOB_GROUP)
        self.sc.setLocalProperty(_JOB_GROUP, "perfbench-probe")
        try:
            with self.span("bench.probe"):
                yield
        finally:
            self.sc.setLocalProperty(_JOB_GROUP, prev)

    # ----------------------------------------------------------- wrappers

    def wrap(self, owner, attr: str, name, after=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper. ``name`` is the
        span name or a function of the call's arguments; ``after(rec,
        result, args, kwargs)`` may annotate the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span_name = name(args, kwargs) if callable(name) else name
            with self.span(span_name) as rec:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(rec, result, args, kwargs)
                return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"ops": self.ops, "spans": self.spans}, f)

    # ---------------------------------------------------------- analysis

    def by_op(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["op"], []).append(s)
        return out


def duration(span: dict) -> float:
    return span["t1"] - span["t0"]


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the time its direct children cover."""
    return duration(span) - sum(duration(s) for s in spans if s["parent"] == span["id"])


def _role(args, kwargs) -> str:
    return "materialize:" + (args[1] if len(args) > 1 else kwargs.get("role", "intermediate"))


def install(tracer: Tracer) -> None:
    """Wrap the entry points of sources, functions, etl, plans, database,
    inserts and rollup. Materialization is attributed by its ``role``
    label, at every module that binds ``materialize``."""
    from betfair_database_spark import database, etl, inserts, rollup
    from betfair_database_spark.plans import dialect

    def count_listing(rec, result, args, kwargs):
        role = args[1] if len(args) > 1 else kwargs.get("role")
        if role == "etl-listing":
            with tracer.probe():
                rec["rows"] = result.count()
        elif role == "etl-derived-defs":
            with tracer.probe():
                rec["rows"] = result.where("defn IS NOT NULL").count()

    def routed(rec, result, args, kwargs):
        rec["routed"] = result is not None

    tracer.wrap(etl, "materialize", _role, after=count_listing)
    tracer.wrap(etl, "write_derived_metadata_files", "sources.write_derived")
    for module in (inserts, database, rollup):
        tracer.wrap(module, "materialize", _role)
    tracer.wrap(database, "build_index_frame", "etl.build_index_frame")
    tracer.wrap(inserts, "build_index_frame", "inserts.build_index_frame")
    tracer.wrap(database, "translate_where", "plans.translate_where")
    tracer.wrap(dialect, "translate_where", "plans.translate_where")
    tracer.wrap(rollup, "route_select", "rollup.route_select", after=routed)
    for fn in ("rollup_update", "spec_rollup_update"):
        tracer.wrap(rollup, fn, "rollup.update")
    cls = database.BetfairDatabase
    tracer.wrap(cls, "select_df", "database.select_df")
    tracer.wrap(cls, "select", "database.select")
    tracer.wrap(cls, "index", "database.index")
    tracer.wrap(cls, "insert", "database.insert")
