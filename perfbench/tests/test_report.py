"""Reporting rules: tail percentiles, metric names, BENCHMARK.json."""

import json
import os

import pytest
from conftest import ROOT

import run


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail_percentile(list(range(99))) == (75, 74, 24)
    assert run.tail_percentile([float(i) for i in range(100)]) == (90, 89.0, 10)
    assert run.tail_percentile(list(range(1000))) == (99, 989, 10)
    assert run.tail_percentile(list(range(39))) is None
    assert run.tail_percentile(list(range(40))) == (75, 29, 10)


def test_tail_ignores_sample_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 20
    assert run.tail_percentile(xs) == run.tail_percentile(sorted(xs))


@pytest.mark.parametrize("name", ["setup_s", "spark.executor.util", "a-b", "9x", "x" * 64])
def test_valid_metric_names(name):
    assert run.valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "ä", "x" * 65, "a:b"])
def test_invalid_metric_names(name):
    assert not run.valid_metric_name(name)


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_runner():
    b = _benchmark()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == sorted(run.workloads.WORKLOADS)
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(run.valid_metric_name(n) for n in names)
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"]) <= 0.25


def test_self_time_subtracts_children():
    from layers import Tracer

    t = Tracer(True)
    t.op = 0
    with t.span("op", "bench") as root:
        with t.span("construct", "registry") as a:
            with t.span("inner", "spark") as b:
                pass
        with t.span("action", "spark") as c:
            pass
    assert root.parent is None and a.parent == root.id and b.parent == a.id and c.parent == root.id
    self_s = t.self_times()
    assert self_s["bench"] == pytest.approx(root.dur - a.dur - c.dur)
    assert self_s["registry"] == pytest.approx(a.dur - b.dur)
    assert self_s["spark"] == pytest.approx(b.dur + c.dur)
    assert sum(self_s.values()) == pytest.approx(root.dur)


def test_disabled_tracer_times_but_keeps_nothing():
    from layers import Tracer

    t = Tracer(False)
    with t.span("op", "bench") as s:
        pass
    assert s.dur >= 0 and t.spans == []


def test_sql_metric_parsing():
    from layers import parse_sql_metric

    assert parse_sql_metric("600,000", "sum") == 600000
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n6.6 s (1.9 s, 2.0 s, 2.7 s (stage 1.0: task 2))", "timing") == pytest.approx(6.6)
    assert parse_sql_metric("132 ms", "timing") == pytest.approx(0.132)
    assert parse_sql_metric("14.0 MiB", "size") == 14 * 2**20
    assert parse_sql_metric("total (min, med, max)\n1.5 KiB (1 B, 2 B, 3 B)", "size") == 1536
