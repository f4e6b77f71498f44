"""Span tracing from outside the package.

A span is opened around each public call into a layer. Spans of the
benchmark's own operations are opened by the workload code; spans of the
package's inner calls (the registry calls inside the startup pipeline, the
operators inside a query, ...) come from wrappers this module installs on
the package's public functions for the traced run only, and removes after.

Each span records its name, start, end, parent span and run id, and sets
its id as the Spark job group while it is innermost, so every job it causes
can be attributed to it. Spans are kept in memory; counts from Spark's event
log are joined to them once the run is over.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "mlops_pipelines_featurestore_gcp_spark"

# Public entry points wrapped in the traced run: module -> attributes
# ("Class.method" for methods, "*" for every public function of the module).
PATCH_TARGETS: dict[str, tuple[str, ...]] = {
    "sources.catalog": ("load_table",),
    "sources.ratings": ("save_ratings_table",),
    "sources.tfrecord": ("write_tfrecords",),
    "feature_store.store": (
        "FeatureStore.create_featurestore",
        "FeatureStore.create_entity_type",
        "FeatureStore.create_feature",
        "FeatureStore.import_feature_values",
        "FeatureStore.materialize_online",
    ),
    "operators.asof": ("asof_join",),
    "operators.similarity": ("*",),
    "operators.dedup": ("*",),
    "streaming.rollup": ("ContinuousAggregate.refresh",),
    "streaming.log_loop": ("publish_messages",),
    "ml.factorization": ("als_factors",),
    "ml.generator": ("generate_trajectories",),
    "ml.linucb": ("LinUCB.fit",),
    "pipeline": ("run_startup_pipeline", "retrain"),
}

# Accumulable names of the Arrow Python operators' timing metrics (unit: ms).
_PY_INIT = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "records_read",
    "shuffle_write_bytes",
    "executor_run_s",
    "python_init_s",
    "python_run_s",
)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    thread: int
    start: float
    epoch_ms: float
    pass_no: int = -1
    end: float = 0.0
    failed: bool = False
    # extra job groups owned by this span (a streaming query's run id)
    groups: list[str] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it that child spans cover."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(c.start, span.start), min(c.end, span.end)) for c in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.wall - covered


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    enabled = False
    patched: frozenset[str] = frozenset()
    pass_no = -1

    @contextmanager
    def span(self, name: str):
        yield None

    def add_group(self, group: str) -> None:
        pass

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, run_id: str, spark_context_fn) -> None:
        self.run_id = run_id
        self._sc = spark_context_fn
        self._ids = itertools.count()
        self._local = threading.local()
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._patched: list[tuple[object, str, object]] = []
        # span names of the installed wrappers
        self.patched: set[str] = set()
        self.pass_no = -1

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        sc = self._sc()
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._stack()
        sp = Span(
            id=f"{self.run_id}:{next(self._ids)}",
            name=name,
            parent=stack[-1].id if stack else None,
            thread=threading.get_ident(),
            start=0.0,
            epoch_ms=time.time() * 1000.0,
            pass_no=self.pass_no,
        )
        stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        except BaseException:
            sp.failed = True
            raise
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - sp.end

    def add_group(self, group: str) -> None:
        """Attribute the jobs of another job group (a streaming query's run
        id) to the innermost open span of this thread."""
        self._stack()[-1].groups.append(group)

    # -- wrappers around the package's public functions -----------------------

    def _wrap(self, name: str, fn):
        tracer = self

        # functools.wraps keeps __module__/__qualname__, so the module
        # attribute resolves to the wrapper and cloudpickle ships Spark
        # closures that mention it by reference (the workers import the
        # unwrapped original).
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        for mod_name, attrs in PATCH_TARGETS.items():
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if attrs == ("*",):
                attrs = tuple(
                    n
                    for n, f in inspect.getmembers(mod, inspect.isfunction)
                    if not n.startswith("_") and f.__module__ == mod.__name__
                )
            for attr in attrs:
                owner, _, fname = attr.rpartition(".")
                target = getattr(mod, owner) if owner else mod
                orig = target.__dict__[fname]
                span_name = f"{span_prefix(mod_name)}.{fname}"
                wrapped = self._wrap(span_name, orig)
                self.patched.add(span_name)
                setattr(target, fname, wrapped)
                self._patched.append((target, fname, orig))
                if not owner:
                    # modules that imported the function by name hold their
                    # own reference to it
                    for other in _package_modules():
                        if other is not mod and other.__dict__.get(fname) is orig:
                            setattr(other, fname, wrapped)
                            self._patched.append((other, fname, orig))

    def uninstall(self) -> None:
        for target, fname, orig in reversed(self._patched):
            setattr(target, fname, orig)
        self._patched.clear()
        self.patched.clear()

    # -- joining Spark's event log ---------------------------------------------

    def attribute(self, event_log_dir: str) -> dict[str, dict[str, float]]:
        """Per-span counters, inclusive of the span's descendants."""
        by_id = {s.id: s for s in self.spans}
        owner = {g: s.id for s in self.spans for g in s.groups}
        owner.update({s.id: s.id for s in self.spans})
        main = threading.main_thread().ident
        timeline = sorted((s for s in self.spans if s.thread == main), key=lambda s: s.epoch_ms)

        def by_time(ms: float) -> str | None:
            # innermost main-thread span open at that instant
            best = None
            for s in timeline:
                if s.epoch_ms > ms:
                    break
                if ms <= s.epoch_ms + s.wall * 1000.0:
                    best = s.id
            return best

        own = {s.id: dict.fromkeys(COUNTERS, 0.0) for s in self.spans}
        # stage ids restart in every SparkContext: key them by the app's log
        stage_span: dict[tuple[str, int], str] = {}
        for path in sorted(glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True), key=_log_order):
            app = os.path.dirname(path)
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        sid = owner.get(group) if group else None
                        if sid is None:
                            sid = by_time(ev.get("Submission Time", 0))
                        if sid is None:
                            continue
                        own[sid]["jobs"] += 1
                        for stage in ev.get("Stage IDs", []):
                            stage_span.setdefault((app, stage), sid)
                    elif kind == "SparkListenerStageSubmitted":
                        sid = stage_span.get((app, ev["Stage Info"]["Stage ID"]))
                        if sid:
                            own[sid]["stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        sid = stage_span.get((app, ev.get("Stage ID")))
                        if sid:
                            _add_task(own[sid], ev)
        total = {sid: dict(c) for sid, c in own.items()}
        for s in self.spans:
            p = s.parent
            while p in by_id:
                for k, v in own[s.id].items():
                    total[p][k] += v
                p = by_id[p].parent
        return total


def _log_order(path: str) -> tuple[str, int]:
    # a rolled event log is events_1_<app>, events_2_<app>, ...
    return os.path.dirname(path), int(os.path.basename(path).split("_")[1])


def span_prefix(mod_name: str) -> str:
    """Span names are ``<module path>.<function>``; the feature store's one
    module is named by its layer."""
    return "feature_store" if mod_name == "feature_store.store" else mod_name


def _add_task(acc: dict[str, float], ev: dict) -> None:
    acc["tasks"] += 1
    tm = ev.get("Task Metrics") or {}
    acc["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
    acc["records_read"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
    acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = a.get("Name")
        if name in _PY_INIT:
            acc["python_init_s"] += float(a.get("Update", 0)) / 1000.0
        elif name == _PY_RUN:
            acc["python_run_s"] += float(a.get("Update", 0)) / 1000.0


def _package_modules():
    import sys

    return [m for n, m in list(sys.modules.items()) if m is not None and (n == PKG or n.startswith(PKG + "."))]
