"""Checks of the benchmark's own output checking.  No Spark session needed:

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Catalog:
    def clearCache(self):
        pass


class _Spark:
    catalog = _Catalog()


def _runner(expected: dict | None, outputs=None) -> run.Runner:
    runner = run.Runner(_Spark(), WORKLOADS["headline-sf0.01"], "unused", "unused", expected)
    outputs = iter(outputs or [])
    runner._query = lambda name, item: (0.5, next(outputs, {"rows": 3, "h32": 7, "h64": -2}))
    return runner


def test_matching_expected_value_passes():
    runner = _runner({"q_x": {"rows": 3, "h32": 7, "h64": -2}})
    assert runner.run_item("q_x") == 0.5
    assert (runner.attempted, runner.failed) == (1, 0)


@pytest.mark.parametrize("wrong", [
    {"rows": 4, "h32": 7, "h64": -2},
    {"rows": 3, "h32": 8, "h64": -2},
    {"rows": 3, "h32": 7, "h64": 5},
])
def test_wrong_expected_value_registers_as_failure(wrong):
    runner = _runner({"q_x": wrong})
    runner.run_item("q_x")
    assert (runner.attempted, runner.failed) == (1, 1)
    assert runner.errors and "expected" in runner.errors[0]


def test_missing_expected_value_is_a_failure():
    runner = _runner({})
    runner.run_item("q_x")
    assert runner.failed == 1


def test_pipeline_expectations_compare_nested_values():
    want = {"status": "Completed", "rows_out": {"a": 5}, "outputs": {"a": {"rows": 5}}}
    checks.verify("p", json.loads(json.dumps(want)), want)
    with pytest.raises(checks.CheckFailed):
        checks.verify("p", {**want, "status": "Failed"}, want)
    with pytest.raises(checks.CheckFailed):
        checks.verify("p", {**want, "rows_out": {"a": 6}}, want)


def test_null_or_missing_expected_field_is_a_failure():
    with pytest.raises(checks.CheckFailed):
        checks.verify("q", {"rows": 3, "h32": 99}, {"rows": 3, "h32": None})
    with pytest.raises(checks.CheckFailed):
        checks.verify("q", {"rows": 3, "h32": 99}, {"rows": 3})


def test_record_refuses_outputs_that_differ_between_runs(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "EXPECTED_PATH", str(tmp_path / "expected.json"))
    n = len(WORKLOADS["headline-sf0.01"].names)
    flaky = [{"rows": 3, "h32": 7, "h64": -2}] * (2 * n - 1) + [{"rows": 3, "h32": 8, "h64": -2}]
    assert run.record(_runner(None, flaky), {}) == 1
    assert not os.path.exists(run.EXPECTED_PATH)


def test_record_replaces_the_workload_entry(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "EXPECTED_PATH", str(tmp_path / "expected.json"))
    stale = {"headline-sf0.01": {"q_gone": {"rows": 1}}, "other": {"q": {"rows": 2}}}
    assert run.record(_runner(None), stale) == 0
    with open(run.EXPECTED_PATH) as f:
        written = json.load(f)
    assert written["other"] == stale["other"]
    assert set(written["headline-sf0.01"]) == set(WORKLOADS["headline-sf0.01"].names)


def _nulls(value, path=""):
    if value is None:
        return [path]
    if isinstance(value, dict):
        return [p for k, v in value.items() for p in _nulls(v, f"{path}.{k}")]
    return []


def test_expected_values_cover_every_benchmark_item_without_nulls():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    with open(run.EXPECTED_PATH) as f:
        expected = json.load(f)
    assert set(expected) == set(names)
    for name in names:
        assert set(expected[name]) == set(WORKLOADS[name].names), name
        assert _nulls(expected[name], name) == []


def test_digests_round_doubles_at_any_depth():
    from pyspark.sql import types as T

    nested = T.StructType([
        T.StructField("x", T.DoubleType()),
        T.StructField("v", T.ArrayType(T.DoubleType())),
        T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("n", T.LongType()),
    ])
    assert checks._single_precision(nested) == T.StructType([
        T.StructField("x", T.FloatType()),
        T.StructField("v", T.ArrayType(T.FloatType())),
        T.StructField("m", T.MapType(T.StringType(), T.FloatType())),
        T.StructField("n", T.LongType()),
    ])


def test_seed_orders_items_reproducibly():
    w = WORKLOADS["headline-sf0.01"]
    assert w.items(3) == w.items(3)
    assert sorted(w.items(3)) == sorted(w.items(4))


@pytest.mark.parametrize("text,value", [
    ("1,996", 1996.0),
    ("36.8 KiB", 36.8 * 1024),
    ("4 ms", 0.004),
    ("1.5 s", 1.5),
    ("total (min, med, max (stageId: taskId))\n39 ms (0 ms, 1 ms, 4 ms (stage 3.0: task 12))", 0.039),
])
def test_parse_spark_metric_strings(text, value):
    assert layers.parse_metric(text) == pytest.approx(value)


def test_benchmark_json_matches_what_run_py_emits():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"] for m in bench["end_to_end"]} == {"setup_s", "wall_s"}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: layers.unit_of(k) for k in layers.PER_LAYER
    }


def test_steal_free_scales_by_granted_cpu_share():
    assert run.steal_free(10.0, (0, 0), (300, 0)) == 10.0
    assert run.steal_free(10.0, (0, 0), (300, 100)) == pytest.approx(7.5)
    assert run.steal_free(10.0, (5, 5), (5, 5)) == 10.0  # idle interval
