"""Tests of the benchmark's own code, on tiny inputs.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, layers, run, trace, workloads  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert bench["command"][:2] == ["python3", "perfbench/run.py"]


def _tree(path):
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


def test_survey_generator_is_deterministic(tmp_path):
    a = gen.write_survey(str(tmp_path / "a"), 7, 50, 3)
    b = gen.write_survey(str(tmp_path / "b"), 7, 50, 3)
    c = gen.write_survey(str(tmp_path / "c"), 8, 50, 3)
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")
    assert _tree(tmp_path / "a") != _tree(tmp_path / "c")
    assert (a["rows"], a["columns"]) == (50, 6 + 4 * 3 + 4)
    assert a["bytes"] == b["bytes"] > 0


def test_corpus_generator_is_deterministic(tmp_path):
    import pyarrow.parquet as pq

    gen.write_corpus(str(tmp_path / "a"), 3, 40, 20)
    gen.write_corpus(str(tmp_path / "b"), 3, 40, 20)
    gen.write_corpus(str(tmp_path / "c"), 4, 40, 20)
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")
    assert _tree(tmp_path / "a") != _tree(tmp_path / "c")
    docs = pq.read_table(tmp_path / "a" / "documents.parquet").to_pandas()
    assert list(docs.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert (docs.n_chars == docs.text.str.len()).all()
    emb = pq.read_table(tmp_path / "a" / "embeddings.parquet")
    assert emb.schema.field("embedding").type.value_type == "float"


def test_generated_headers_map_as_intended():
    from bht_etl_app_spark.config import MappingConfig

    brands = gen.brand_names(3)
    cfg = MappingConfig.guess(gen.survey_columns(3))
    assert cfg.respondent_id == "resp_id"
    assert cfg.demographics == ["gender", "age_group", "region", "city"]
    assert cfg.tom == "tom_brand"
    assert cfg.unaided == [f"UA_{b}" for b in brands]
    assert cfg.aided == [f"aa_{b}" for b in brands]
    assert cfg.ever_used == [f"ever_used_{b}" for b in brands]
    assert cfg.consider == [f"consider_{b}" for b in brands]
    assert (cfg.bumo, cfg.csat, cfg.nps) == (["bumo"], "satisfaction", "nps_score")


def _span(i, start, end, parent=None, layer="x"):
    return trace.Span(i, f"s{i}", layer, start, end, parent, 0, "op", "main")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, parent=1),   # overlaps span 3 (pool threads)
        _span(3, 2.0, 5.0, parent=1),
        _span(4, 8.0, 12.0, parent=1),  # runs past its parent: clipped
        _span(5, 2.5, 4.0, parent=3),   # grandchild: only span 3 loses it
    ]
    st = trace.self_times(spans)
    assert st[1] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[3] == pytest.approx(3.0 - 1.5)
    assert st[2] == pytest.approx(2.0)
    assert trace.covered([], 0, 1) == 0.0
    assert trace.covered([(0, 1), (1, 2), (5, 6)], 0.5, 5.5) == pytest.approx(2.0)


def test_event_log_parse_and_untagged_attribution(tmp_path):
    t = 1_000_000.0
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": (t + 1) * 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "p0-q"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": (t + 6) * 1000,
         "Stage IDs": [2], "Properties": {}},   # from a pool thread: no group
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": (t + 50) * 1000,
         "Stage IDs": [3], "Properties": {}},   # outside every operation
    ]
    for sid, run_ms in ((0, 100), (0, 300), (2, 50)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0},
        })
    log_dir = tmp_path / "log" / "eventlog_v2_local-1"
    log_dir.mkdir(parents=True)
    (log_dir / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    log = trace.parse_event_log(trace.find_event_log(str(tmp_path / "log")))
    assert log["jobs"][0]["stages"] == {0} and log["stages"][0]["run_ms"] == 400

    op = trace.Span(1, "op:q", "op", t, t + 10, None, 0, "q", "main", {"group": "p0-q"})
    act = trace.Span(2, "act", "act", t + 5, t + 10, 1, 0, "q", "main")
    inner = trace.Span(3, "pq.pq_train", "operators.pq", t + 5.5, t + 7, 2, 0, "q", "pool")
    spans = [op, act, inner]
    got, outside = trace.attribute_jobs(log["jobs"], [op], {1: spans})
    assert outside == 1
    assert [(j["id"], untagged, s.id) for j, untagged, s in got[1]] == [(0, False, 1), (1, True, 3)]

    m = layers.job_metrics([op], spans, log, wall_s=10.0, cores=4)
    assert (m["exec.build_jobs"], m["exec.collect_jobs"], m["exec.untagged_jobs"]) == (1, 1, 1)
    assert m["operators.pq.build_jobs"] == 1
    assert m["exec.tasks"] == 3 and m["exec.task_s"] == pytest.approx(0.45)
    assert m["exec.busy_frac"] == pytest.approx(0.45 / 40)


def test_normalize_treats_nan_and_null_alike():
    a = workloads.normalize_table([{"x": float("nan"), "y": 1}, {"x": "b", "y": 2.0}])
    b = workloads.normalize_table([{"y": 2, "x": "b"}, {"y": 1.0000000000001, "x": None}])
    assert a == b


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("spark"))
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(d, "local")
    s = run.start_session(d, 1, None)
    yield s
    run.stop_session(s)


def test_wrong_output_counts_toward_fail_frac(spark):
    def op(name):
        return workloads.Operation(
            name,
            build=lambda sp: sp.range(3),
            act=lambda df: sorted(r.id for r in df.collect()),
            digest=lambda out: workloads._digest(out),
        )

    good, bad = op("good"), op("bad")
    expected = {"good": workloads._digest([0, 1, 2]), "bad": workloads._digest([0, 1])}
    wl = workloads.Workload("t", [good, bad], expected, lambda op, out: f"{op}: {out}")
    runner = run.Runner(spark, wl, trace.Tracer(), cores=1)
    runner.run_pass(traced=False)
    assert (runner.attempted, runner.failed) == (2, 1)
    assert [o["ok"] for o in runner.passes[0]["ops"]] == [True, False]
    assert runner.failures and "bad" in runner.failures[0]
