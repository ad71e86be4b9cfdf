"""Tests of the benchmark's own arithmetic, checks and output contract.

    python3 -m pytest perfbench/tests -q

No Spark session is started: these exercise the pure parts of perfbench.
"""

from __future__ import annotations

import json
import math
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import run, stats  # noqa: E402
from perfbench.checks import canon_frame, digest  # noqa: E402
from perfbench.workloads import WORKLOADS, pass_order  # noqa: E402



def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_sum_of_medians_takes_each_operations_median():
    samples = {"a": [1.0, 3.0, 2.0], "b": [10.0, 20.0], "c": [5.0]}
    assert stats.sum_of_medians(samples) == 2.0 + 15.0 + 5.0


def test_sum_of_medians_ignores_one_slow_pass():
    steady = {"a": [1.0, 1.0, 1.0], "b": [2.0, 2.0, 2.0]}
    stalled = {"a": [1.0, 9.0, 1.0], "b": [2.0, 2.0, 7.0]}
    assert stats.sum_of_medians(stalled) == stats.sum_of_medians(steady)


def test_percentile_interpolates_between_order_statistics():
    values = [float(v) for v in range(100, 0, -1)]
    assert stats.percentile(values, 0.9) == pytest.approx(90.1)
    assert stats.percentile(values, 0.5) == pytest.approx(50.5)
    assert stats.percentile([1.0, 2.0, 3.0], 0.5) == 2.0
    assert stats.percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 1.0)


def test_tail_needs_ten_samples_beyond_it():
    assert stats.samples_needed(0.9) == 100
    assert stats.samples_needed(0.5) == 20
    assert stats.samples_needed(0.99) == 1000
    assert not stats.tail_supported(99, 0.9)
    assert stats.tail_supported(100, 0.9)


def test_fail_frac_counts_against_attempted():
    assert stats.fail_frac(40, 0) == 0.0
    assert stats.fail_frac(40, 10) == 0.25
    with pytest.raises(ValueError):
        stats.fail_frac(0, 0)
    with pytest.raises(ValueError):
        stats.fail_frac(3, 4)


class _Reference:
    def __init__(self, reference):
        self.reference = reference


def _exec(op, same=True, error=None):
    return run.Exec(op, call_s=0.1, same=same, error=error)


def test_judge_counts_errors_mismatches_and_wrong_references():
    passes = [
        run.Pass([_exec("ok"), _exec("boom", same=False, error="ValueError: x"),
                  _exec("wrong"), _exec("drift")]),
        run.Pass([_exec("ok"), _exec("boom", same=False, error="ValueError: x"),
                  _exec("wrong"), _exec("drift", same=False)]),
    ]
    ref = _Reference({"ok": "h1", "wrong": "h2", "drift": "h3"})
    expected = {"ok": "h1", "wrong": "not-h2"}
    reasons = run.judge(passes, ref, expected)
    assert set(reasons) == {"boom", "wrong", "drift"}
    assert reasons["wrong"] == "output differs from DuckDB"
    assert reasons["drift"] == "output differs from its first run"
    execs = [e for p in passes for e in p.execs]
    failed = sum(not e.same for e in execs)
    assert failed == 5  # both boom, both wrong, the drifted warm run
    assert stats.fail_frac(len(execs), failed) == 5 / 8


def test_digest_is_order_free_and_bit_exact():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3]})
    b = a.iloc[::-1][["v", "k"]]
    assert digest(canon_frame(a)) == digest(canon_frame(b))
    c = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.1 + 0.2]})
    assert digest(canon_frame(a)) != digest(canon_frame(c))
    d = pd.DataFrame({"k": [1, 1], "v": [0.1, 0.1]})
    e = pd.DataFrame({"k": [1], "v": [0.1]})
    assert digest(canon_frame(d)) != digest(canon_frame(e))  # multiset, not set


def test_seed_only_permutes_operations():
    ops = WORKLOADS["session_warm"].ops
    assert sorted(pass_order(ops, 7, 3)) == sorted(ops)
    assert pass_order(ops, 7, 3) == pass_order(ops, 7, 3)
    assert pass_order(ops, 7, 3) != pass_order(ops, 8, 3)


def test_session_warm_covers_every_operator_module():
    from data_pipeline_etl_spark.registry import QUERY_MODULES, load_all_operators

    load_all_operators()
    ops = WORKLOADS["session_warm"].ops
    assert {QUERY_MODULES[op] for op in ops} == set(QUERY_MODULES.values())


def test_benchmark_json_names_the_workloads():
    assert [w["name"] for w in _benchmark()["workloads"]] == list(WORKLOADS)


def _fake_run():
    ctx = {
        "import_s": 0.2, "start_s": 6.0, "cache_s": 10.0, "cached_bytes": 4 << 20,
        "t_session": 0.0, "t_end": 50.0, "jvm_cpu_s": 100.0, "gc_s": 0.5,
        "python_cpu_s": 3.0, "steal_s": 0.1,
    }
    counts = {"jobs": 3, "stages": 4, "tasks": 6, "single": 3, "failed_tasks": 0}

    def ex(op, t):
        left = 1 << 20 if op == "q_b" else 0
        return run.Exec(op, call_s=t, exec_s=t, same=True, counts=dict(counts), left_bytes=left)

    stream = {"batches": 1, "rows": 10, "addBatch": 5, "queryPlanning": 1, "commit": 1}
    passes = [
        run.Pass([ex("q_a", 1.0), ex("q_b", 2.0)], dict(stream), 0),
        run.Pass([ex("q_a", 0.5), ex("q_b", 0.7)], dict(stream), 1 << 20),
        run.Pass([ex("q_a", 0.4), ex("q_b", 0.6)], dict(stream), 2 << 20),
    ]
    return ctx, passes


def test_every_metric_prints_with_its_name_and_unit():
    ctx, passes = _fake_run()
    from data_pipeline_etl_spark.registry import load_all_operators

    load_all_operators()
    modules = run.all_modules()
    layer = run.per_layer(ctx, passes, modules, 0.0)
    e2e = run.end_to_end(12.5, passes, 1024.0)
    benchmark = _benchmark()
    for kind, metrics in (("end_to_end", e2e), ("per_layer", layer)):
        declared = {m["name"]: m["unit"] for m in benchmark[kind]}
        assert {n: u for n, (_, u) in metrics.items()} == declared
        lines = stats.metric_lines(metrics)
        for line, (name, (value, unit)) in zip(lines, metrics.items()):
            assert line.split()[0] == name and line.split()[-1] == unit
        out = json.loads(stats.result_line(True, 6, 0, metrics))
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert {n: v["unit"] for n, v in out["metrics"].items()} == declared
    assert e2e["warm_pass_s"][0] == pytest.approx(0.9 + 1.3)
    assert e2e["cold_pass_s"][0] == pytest.approx(6.0)
    assert layer["operators.jobs"][0] == 6.0
    assert layer["checkpoints.growth_mb_per_pass"][0] == 1.0
    assert layer["trace.warm_pass_s"][0] == pytest.approx(e2e["warm_pass_s"][0])


def test_result_line_rejects_values_that_cannot_be_compared():
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {"x": (math.nan, "s")})
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {"x": (1.0, "")})
    with pytest.raises(TypeError):
        stats.result_line(True, 1, 0, {"x": ("1", "s")})
