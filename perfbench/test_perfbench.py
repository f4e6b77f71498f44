"""Self-tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from perfbench import harness, inputs, metrics, spans, stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest_dir(path: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(path, f), "rb").read()).hexdigest() for f in sorted(os.listdir(path))}


def _bandit_files(seed: int, out: str) -> dict[str, str]:
    os.makedirs(out)
    with open(f"{out}/u.data", "wb") as fh:
        fh.write(inputs.ratings_tsv(seed))
    inp = inputs.bandit_inputs(seed)
    inputs.write_parquet(inp["spine"], f"{out}/spine.parquet")
    inputs.write_parquet(inp["item_factors"], f"{out}/item_factors.parquet")
    for c, cyc in enumerate(inp["cycles"]):
        inputs.write_parquet(cyc["obs"], f"{out}/obs{c}.parquet")
    with open(f"{out}/lists.json", "w") as fh:
        json.dump([inp["lookups"], [c["redeliver"] for c in inp["cycles"]]], fh)
    return _digest_dir(out)


def _table_files(seed: int, out: str) -> dict[str, str]:
    inputs.write_tables(seed, out)
    return _digest_dir(out)


@pytest.mark.parametrize("make", [_bandit_files, _table_files])
def test_same_seed_same_bytes_other_seed_other_bytes(make, tmp_path):
    a = make(7, str(tmp_path / "a"))
    b = make(7, str(tmp_path / "b"))
    c = make(8, str(tmp_path / "c"))
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[f] != c[f] for f in a)


def test_query_tables_are_the_fixture_rows_reordered(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mlops_pipelines_featurestore_gcp_spark.sources.catalog import SCHEMAS

    inputs.write_tables(3, str(tmp_path))
    assert set(SCHEMAS) == set(inputs.TABLES)
    for name in inputs.TABLES:
        got = pq.read_table(tmp_path / f"{name}.parquet")
        fixture = pq.read_table(os.path.join(inputs.FIXTURES, f"{name}.parquet"))
        assert got.schema.equals(fixture.schema), name
        keys = [(f.name, "ascending") for f in got.schema if not pa.types.is_list(f.type)]
        assert got.sort_by(keys).equals(fixture.sort_by(keys)), name
        assert not got.equals(fixture), name
        if got.num_rows >= 100:
            assert pq.ParquetFile(tmp_path / f"{name}.parquet").metadata.num_row_groups == inputs.ROW_GROUPS, name


def _span(sid, start, end, parent=None, name="x", pass_no=0):
    s = spans.Span(id=sid, name=name, parent=parent, thread=0, start=start, epoch_ms=start * 1000.0, pass_no=pass_no)
    s.end = end
    return s


def test_self_time_subtracts_the_union_of_children():
    parent = _span("p", 0.0, 10.0)
    kids = [_span("a", 1.0, 3.0), _span("b", 2.0, 5.0), _span("c", 7.0, 8.0)]
    assert spans.self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)
    # a child running past the parent's end only covers the overlap
    assert spans.self_time(parent, [_span("d", 9.0, 12.0)]) == pytest.approx(9.0)
    assert spans.self_time(parent, []) == pytest.approx(10.0)


def test_counts_come_from_the_warm_up_and_times_from_the_timed_passes():
    tr = spans.Tracer("t", lambda: None)
    tr.spans = [
        _span("a", 0.0, 9.0, name="pipeline.retrain", pass_no=0),
        _span("b", 10.0, 12.0, name="pipeline.retrain", pass_no=1),
        _span("c", 0.0, 5.0, name="pipeline.run_startup_pipeline", pass_no=0),
    ]
    counters = {s.id: dict.fromkeys(spans.COUNTERS, 0.0) for s in tr.spans}
    counters["a"]["jobs"], counters["b"]["jobs"], counters["c"]["jobs"] = 3, 4, 7
    got = metrics.layer_metrics(tr, counters, {}, [1.0], [2.0])
    # a warm time, and the work its warm-up call caused
    assert got["pipeline.retrain.wall_s"] == pytest.approx(2.0) and got["pipeline.retrain.jobs"] == 3
    # a call made only in the warm-up reads its one cold call
    assert got["pipeline.run_startup_pipeline.wall_s"] == pytest.approx(5.0)
    assert got["pipeline.run_startup_pipeline.jobs"] == 7


def test_event_log_counts_are_inclusive_of_child_spans(tmp_path):
    tr = spans.Tracer("t", lambda: None)
    tr.spans = [_span("t:0", 0.0, 10.0), _span("t:1", 1.0, 2.0, parent="t:0"), _span("t:2", 20.0, 21.0)]
    tr.spans[2].groups.append("stream-run-id")
    events = [
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "t:0"}, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "t:1"}, "Stage IDs": [1, 0]},
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "stream-run-id"}, "Stage IDs": [2]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
    ]
    task = {
        "Event": "SparkListenerTaskEnd",
        "Task Metrics": {"Executor Run Time": 500, "Input Metrics": {"Records Read": 7}},
        "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": "250"}]},
    }
    events += [dict(task, **{"Stage ID": s}) for s in (0, 1, 1, 2)]
    (tmp_path / "app").mkdir()
    (tmp_path / "app" / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = tr.attribute(str(tmp_path))
    assert got["t:1"] == dict(got["t:1"], jobs=1, stages=1, tasks=2, records_read=14, executor_run_s=1.0)
    assert got["t:0"] == dict(got["t:0"], jobs=2, stages=2, tasks=3, records_read=21, python_run_s=0.75)
    assert got["t:2"]["jobs"] == 1 and got["t:2"]["tasks"] == 1


def test_benchmark_json_metrics_follow_the_rules():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert stats.metric_problems(spec) == []
    assert len(spec["end_to_end"]) <= stats.MAX_END_TO_END
    assert len(spec["per_layer"]) <= stats.MAX_PER_LAYER
    assert spec["per_layer"] == metrics.per_layer_spec()
    assert {m["name"] for m in spec["end_to_end"]} >= {"setup_s"}
    layers = {m["name"].split(".")[0] for m in spec["per_layer"]}
    assert {"session", "sources", "feature_store", "operators", "streaming", "ml", "pipeline", "plans"} <= layers
    # set-up time carries the largest bound
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_metric_problems_flags_bad_names():
    spec = {
        "end_to_end": [{"name": "a b", "unit": "s"}],
        "per_layer": [{"name": "x" * 65, "unit": "s"}, {"name": "ok", "unit": "bad unit"}],
        "workloads": [{"name": "ok"}],
    }
    problems = stats.metric_problems(spec)
    assert any("'a b'" in p for p in problems)
    assert any("xxxx" in p for p in problems)
    assert any("duplicate name 'ok'" in p for p in problems)
    assert any("bad unit" in p for p in problems)


def test_steal_share_is_steal_over_all_cpu_time():
    before = [100, 0, 50, 800, 10, 0, 5, 20, 0, 0]
    after = [160, 0, 70, 900, 10, 0, 5, 40, 0, 0]
    assert harness.steal_share(before, after) == pytest.approx(20 / 200)
    assert harness.steal_share(before, before) == 0.0
