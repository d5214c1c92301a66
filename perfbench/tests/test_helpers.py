"""Unit tests for the benchmark's own helpers (no Spark needed):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import inputs, stats  # noqa: E402
from perfbench import trace as T  # noqa: E402


@pytest.mark.parametrize(
    "n, value, pct",
    [
        (30, 20.0, 100 * 20 / 30),  # rank 20 leaves ranks 21..30 beyond it
        (100, 90.0, 90.0),
        (22, 12.0, 100 * 12 / 22),  # smallest sample with a tail above the median
        (21, 21.0, 100.0),  # rank 11 is the median itself: fall back to max
        (5, 5.0, 100.0),
        (1, 1.0, 100.0),
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, value, pct):
    xs = [float(i) for i in range(n, 0, -1)]  # order must not matter
    got, got_pct = stats.tail(xs)
    assert got == value
    assert got_pct == pytest.approx(pct)
    if got_pct < 100:
        assert sum(1 for x in xs if x > got) == stats.MIN_BEYOND


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        stats.tail([])


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    assert stats.geomean([3.0]) == pytest.approx(3.0)
    for bad in ([], [1.0, 0.0], [-1.0]):
        with pytest.raises(ValueError):
            stats.geomean(bad)


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 1), (2, 3)]) == 2
    assert stats.union_length([(0, 2), (1, 3), (3, 4), (10, 11)]) == 5
    assert stats.union_length([(0, 10), (2, 3)]) == 10


def _span(i, start, end, parent=None):
    return T.Span(i, f"s{i}", start, end, parent)


def test_self_time_subtracts_covered_child_time():
    parent = _span(0, 0.0, 10.0)
    spans = [
        parent,
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 5.0, 0),  # overlaps span 1: counted once
        _span(3, 8.0, 12.0, 0),  # runs past the parent: clipped
        _span(4, 6.0, 7.0, 1),  # grandchild: not a direct child
    ]
    assert T.self_time(parent, spans) == pytest.approx(10 - 4 - 2)
    assert T.self_time(spans[1], spans) == pytest.approx(2.0)


def test_tracer_records_nesting_and_is_inert_when_disabled():
    tr = T.Tracer(True)
    with tr.span("outer"):
        with tr.span("inner", k=1):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.attrs == {"k": 1}
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = T.Tracer(False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


def _job(i, submit, end=None, stages=()):
    return {"jobId": i, "submit": submit, "end": end or submit + 0.5, "stageIds": list(stages)}


def test_jobs_go_to_the_innermost_span_open_at_submission():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, 0),
        _span(2, 2.0, 3.0, 1),
        _span(3, 5.0, 6.0, 0),
    ]
    jobs = [_job(0, 0.5), _job(1, 1.5), _job(2, 2.5), _job(3, 5.5), _job(4, 11.0)]
    owned = T.attribute(spans, jobs)
    assert {k: [j["jobId"] for j in v] for k, v in owned.items()} == {
        0: [0], 1: [1], 2: [2], 3: [3]
    }  # job 4 ran outside every span
    assert sorted(j["jobId"] for j in T.jobs_within(spans[1], spans, owned)) == [1, 2]
    assert sorted(j["jobId"] for j in T.jobs_within(spans[0], spans, owned)) == [0, 1, 2, 3]


def test_driver_gap_is_span_time_without_jobs_running():
    span = _span(0, 0.0, 10.0)
    jobs = [_job(0, 1.0, 3.0), _job(1, 2.0, 4.0), _job(2, 9.0, 11.0)]
    assert T.driver_gap(span, jobs) == pytest.approx(10 - 3 - 1)
    assert T.driver_gap(span, []) == pytest.approx(10.0)


def test_counters_count_each_completed_stage_once():
    stage = dict(
        numCompleteTasks=4,
        executorRunTime=2000,
        executorCpuTime=1_500_000_000,
        inputRecords=10,
        shuffleReadBytes=20,
        shuffleWriteBytes=30,
        memoryBytesSpilled=1,
        diskBytesSpilled=2,
    )
    stages = {1: stage, 2: stage}  # stage 3 was skipped: not in the map
    jobs = [_job(0, 0.0, stages=(1, 2)), _job(1, 1.0, stages=(2, 3))]
    c = T.counters(jobs, stages)
    assert c == {
        "jobs": 2.0,
        "stages": 2.0,
        "tasks": 8.0,
        "executor_run_s": 4.0,
        "executor_cpu_s": 3.0,
        "input_rows": 20.0,
        "shuffle_read_bytes": 40.0,
        "shuffle_write_bytes": 60.0,
        "spill_bytes": 6.0,
    }


def test_ui_timestamps_parse_as_utc_epoch():
    assert T._epoch("1970-01-01T00:00:01.250GMT") == pytest.approx(1.25)


def test_cloned_documents_are_seeded_key_shifted_permutations():
    base = inputs.base_documents().to_pydict()
    n, stride = len(base["doc_id"]), max(base["doc_id"]) + 1
    a = inputs.cloned_documents(7, 2 * n + 3).to_pydict()
    assert a == inputs.cloned_documents(7, 2 * n + 3).to_pydict()
    assert a["text"] != inputs.cloned_documents(8, 2 * n + 3).to_pydict()["text"]
    assert len(set(a["doc_id"])) == len(a["doc_id"]) == 2 * n + 3
    assert a["doc_id"][n] == stride + base["doc_id"][0]
    for c in range(2):  # each whole clone carries every text exactly once
        assert sorted(a["text"][c * n : (c + 1) * n]) == sorted(base["text"])


def test_tweet_json_matches_the_tweet_fixture_shape():
    import json

    t = json.loads(inputs.tweet_json(66, "abc", "src1"))
    assert t["retweeted"] is True  # 66 % 6 == 0
    assert t["text"].startswith("RT @bot alert 67[.]")  # 66 % 11 == 0
    assert t["created_at"] == "2024-01-13 12:00:00"
    assert t["id"] == 66 and t["user"] == {"screen_name": "src1"}


def test_every_per_layer_metric_is_owned_by_a_workload():
    import json

    from perfbench import workloads

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(workloads.LAYERS) == {w["name"] for w in spec["workloads"]}
    for m in spec["per_layer"]:
        assert any(m["name"].startswith(own) for own in workloads.LAYERS.values()), m
    for family in workloads.MIX:  # each family's four layers are listed
        for k in ("build_s", "exec_s", "jobs", "driver_gap_s"):
            assert f"{family}.{k}" in {m["name"] for m in spec["per_layer"]}


def test_oracle_mismatch_compares_schema_count_and_values(tmp_path):
    from perfbench import oracle

    with open(tmp_path / "t.csv", "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    import duckdb

    duckdb.sql(f"COPY (SELECT * FROM '{tmp_path / 't.csv'}') TO '{tmp_path / 't.parquet'}'")
    sql = "SELECT a::BIGINT AS a, b FROM t"
    dtypes = {"a": "bigint", "b": "string"}
    assert oracle.mismatch(["b", "a"], dtypes, [{"a": 2, "b": "y"}, {"a": 1, "b": "x"}], str(tmp_path), sql) is None
    assert "rows" in oracle.mismatch(["a", "b"], dtypes, [{"a": 1, "b": "x"}], str(tmp_path), sql)
    assert "values" in oracle.mismatch(["a", "b"], dtypes, [{"a": 1, "b": "x"}, {"a": 3, "b": "y"}], str(tmp_path), sql)
    assert "dtype" in oracle.mismatch(["a", "b"], {"a": "int", "b": "string"}, [], str(tmp_path), sql)
    assert "columns" in oracle.mismatch(["a"], dtypes, [], str(tmp_path), sql)
