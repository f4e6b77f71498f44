"""Which metrics the benchmark reports and how each is computed.

End-to-end metrics come from the untraced run; per-layer metrics from the
traced run. Every metric is reported on every workload: a layer that does
no work on a workload reads 0 there, which is the prediction for that
pairing.

Per-layer measures of a span name:
- ``wall_s`` / ``self_s``: median over its calls in the timed (warm)
  passes, in seconds; a call made only in the warm-up pass (bandit_loop's
  ``run_startup_pipeline`` and what it alone calls) reads its one cold call;
- ``jobs``, ``stages``, ``tasks``, ``records_read``, ``shuffle_write_bytes``,
  ``executor_run_s``, ``python_init_s``, ``python_run_s``: the work its calls
  caused in the warm-up (descendant spans included), from Spark's event
  log. The warm-up makes every call a pass makes and is the same list of
  calls on every run of a seed, so these counts repeat exactly.
"""

from __future__ import annotations

import threading

from perfbench import spans
from perfbench.stats import median
from perfbench.workloads import QUERY_IDS

UNITS = {
    "wall_s": "s",
    "self_s": "s",
    "executor_run_s": "s",
    "python_init_s": "s",
    "python_run_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "records_read": "count",
    "shuffle_write_bytes": "bytes",
}

SPAN_MEASURES: dict[str, tuple[str, ...]] = {
    "sources.catalog.load_table": ("wall_s",),
    "sources.ratings.save_ratings_table": ("wall_s", "jobs"),
    "sources.tfrecord.write_tfrecords": ("wall_s", "tasks", "records_read", "python_init_s", "python_run_s"),
    "feature_store.create_featurestore": ("wall_s", "jobs"),
    "feature_store.create_entity_type": ("wall_s", "jobs"),
    "feature_store.create_feature": ("wall_s", "jobs"),
    "feature_store.import_feature_values": (
        "wall_s", "self_s", "jobs", "tasks", "records_read", "shuffle_write_bytes", "executor_run_s",
    ),
    "feature_store.point_in_time_join": ("wall_s", "self_s", "jobs", "tasks", "records_read", "shuffle_write_bytes"),
    "feature_store.materialize_online": ("wall_s", "jobs", "tasks", "records_read", "shuffle_write_bytes"),
    "feature_store.online_read": ("wall_s", "jobs", "tasks", "records_read"),
    "operators.asof.asof_join": ("wall_s",),
    "streaming.rollup.refresh": ("wall_s", "jobs", "tasks", "records_read"),
    "streaming.log_loop.publish_messages": ("wall_s",),
    "streaming.log_loop.run_log_loop": ("wall_s", "jobs", "tasks"),
    "ml.factorization.als_factors": ("wall_s", "jobs", "tasks"),
    "ml.generator.generate_trajectories": ("wall_s", "jobs"),
    "ml.linucb.fit": ("wall_s", "jobs", "tasks", "python_init_s", "python_run_s"),
    "pipeline.run_startup_pipeline": ("wall_s", "self_s", "jobs", "stages", "tasks"),
    "pipeline.retrain": ("wall_s", "self_s", "jobs", "tasks"),
    "pipeline.predict": ("wall_s", "jobs", "python_run_s"),
}

# Modules whose public functions call each other: measured as the sum per
# pass of the module's outermost spans.
MODULE_MEASURES: dict[str, tuple[str, ...]] = {
    "operators.similarity": ("wall_s", "jobs", "python_init_s", "python_run_s"),
    "operators.dedup": ("wall_s", "jobs", "python_run_s"),
}

# Measured by the workload code (median over the timed passes' cycles).
EXTRA: dict[str, str] = {
    "streaming.log_loop.add_batch_ms": "ms",
    "streaming.log_loop.query_planning_ms": "ms",
    "streaming.log_loop.wal_commit_ms": "ms",
    "streaming.log_loop.input_rows": "count",
    "streaming.log_loop.state_rows": "count",
    "streaming.log_loop.batches": "count",
}

# Rows the online lookups' scans read over the rows of the online table: the
# share the bucket pruning leaves to read (DataFrame.inputFiles() lists every
# file of the relation whatever the filters, so files are not counted).
ONLINE_RATIO = "feature_store.online_read.rows_read_ratio"

BENCH: dict[str, str] = {
    # the traced pass, to set beside the untraced pass_s
    "bench.pass_s": "s",
    # time spent opening and closing spans, per pass
    "bench.trace_overhead_s": "s",
    # pass time outside every top-level operation span
    "bench.unattributed_s": "s",
    # VmHWM of the driver Python process plus the JVM; G1's heap growth
    # moves it by 10-25% between runs of one seed, too much for a bound
    "bench.peak_rss_mb": "MB",
}


def per_layer_spec() -> list[dict]:
    out = [
        {"name": "session.get_spark.wall_s", "unit": "s"},
        {"name": "session.get_spark.first_s", "unit": "s"},
    ]
    out += [{"name": f"{s}.{m}", "unit": UNITS[m]} for s, ms in SPAN_MEASURES.items() for m in ms]
    out += [{"name": f"{s}.{m}", "unit": UNITS[m]} for s, ms in MODULE_MEASURES.items() for m in ms]
    out += [{"name": n, "unit": u} for n, u in EXTRA.items()]
    out.append({"name": ONLINE_RATIO, "unit": "ratio"})
    out += [{"name": f"plans.{q}.{m}", "unit": "s"} for q in QUERY_IDS for m in ("construct_s", "materialize_s")]
    out += [{"name": n, "unit": u} for n, u in BENCH.items()]
    # every time, count and share here is work spent
    return [dict(m, better="lower") for m in out]


def layer_metrics(
    tracer: spans.Tracer,
    counters: dict[str, dict[str, float]],
    extra: dict[str, list[float]],
    session_times: list[float],
    pass_times: list[float],
) -> dict[str, float]:
    all_spans = tracer.spans
    # pass 0 is the warm-up; times come from the timed passes after it
    timed = [s for s in all_spans if s.pass_no >= 1]
    by_id = {s.id: s for s in all_spans}
    children: dict[str, list[spans.Span]] = {}
    for s in all_spans:
        if s.parent:
            children.setdefault(s.parent, []).append(s)

    def own_self(s: spans.Span) -> float:
        return spans.self_time(s, children.get(s.id, []))

    out: dict[str, float] = {
        "session.get_spark.wall_s": median(session_times),
        "session.get_spark.first_s": session_times[0] if session_times else 0.0,
    }
    for name, measures in SPAN_MEASURES.items():
        calls = [s for s in all_spans if s.name == name]
        warm = [s for s in calls if s.pass_no >= 1] or calls
        for m in measures:
            if m == "wall_s":
                out[f"{name}.{m}"] = median(s.wall for s in warm)
            elif m == "self_s":
                out[f"{name}.{m}"] = median(own_self(s) for s in warm)
            else:
                out[f"{name}.{m}"] = sum(counters[s.id][m] for s in calls if s.pass_no == 0)
    for mod, measures in MODULE_MEASURES.items():
        prefix = mod + "."

        def outermost(s):
            parent = by_id.get(s.parent)
            return s.name.startswith(prefix) and not (parent and parent.name.startswith(prefix))

        roots = [s for s in all_spans if outermost(s)]
        per_pass: dict[int, float] = {}
        for s in roots:
            if s.pass_no >= 1:
                per_pass[s.pass_no] = per_pass.get(s.pass_no, 0.0) + s.wall
        for m in measures:
            if m == "wall_s":
                out[f"{mod}.{m}"] = median(per_pass.values())
            else:
                out[f"{mod}.{m}"] = sum(counters[s.id][m] for s in roots if s.pass_no == 0)
    for name in EXTRA:
        out[name] = median(extra.get(name, []))
    lookups = [s for s in all_spans if s.name == "feature_store.online_read" and s.pass_no == 0]
    table_rows = extra.get("_online_rows", [0])[0]
    out[ONLINE_RATIO] = (
        sum(counters[s.id]["records_read"] for s in lookups) / (len(lookups) * table_rows) if table_rows else 0.0
    )
    for q in QUERY_IDS:
        for m in ("construct", "materialize"):
            out[f"plans.{q}.{m}_s"] = median(s.wall for s in timed if s.name == f"plans.{q}.{m}")
    main = threading.main_thread().ident
    gaps = []
    for p, wall in enumerate(pass_times, start=1):
        top = [s for s in timed if s.parent is None and s.pass_no == p and s.thread == main]
        gaps.append(wall - sum(s.wall for s in top))
    out["bench.pass_s"] = median(pass_times)
    # the warm-up pass opens the same spans as a timed one
    out["bench.trace_overhead_s"] = tracer.overhead_s / (1 + len(pass_times))
    out["bench.unattributed_s"] = median(gaps)
    return out
