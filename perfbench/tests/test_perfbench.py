"""Self-tests of the benchmark harness. No Spark session is started.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import metrics  # noqa: E402
import proctree  # noqa: E402
import run  # noqa: E402
import telemetry  # noqa: E402

# -- metric names -----------------------------------------------------------


@pytest.mark.parametrize("name,unit", run.END_TO_END + run.PER_LAYER + run.PRINTED_ONLY)
def test_every_metric_name_and_unit_is_valid(name, unit):
    assert metrics.check_name(name) == name
    assert metrics.check_unit(unit) == unit


@pytest.mark.parametrize("bad", ["", ".lead", "_lead", "has space", "a/b", "x" * 65, "é"])
def test_bad_metric_names_are_rejected(bad):
    with pytest.raises(ValueError):
        metrics.check_name(bad)


def test_metric_names_are_unique():
    names = [n for n, _ in run.END_TO_END + run.PER_LAYER + run.PRINTED_ONLY]
    assert len(names) == len(set(names))


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


# -- tail rule ----------------------------------------------------------------


def test_tail_is_highest_percentile_with_ten_beyond():
    samples = [float(i) for i in range(1, 31)]  # 30 samples, shuffled below
    np.random.default_rng(0).shuffle(samples)
    pct, value, beyond = metrics.tail(samples)
    assert (pct, value, beyond) == (66.67, 20.0, 10)
    assert sum(s > value for s in samples) == 10


@pytest.mark.parametrize("n", [11, 12, 25, 100, 1000])
def test_tail_always_leaves_exactly_ten_beyond(n):
    samples = list(np.random.default_rng(n).random(n))
    pct, value, beyond = metrics.tail(samples)
    assert beyond == 10
    assert sum(s > value for s in samples) == 10
    assert pct == round(100.0 * (n - 10) / n, 2)


@pytest.mark.parametrize("n", [1, 5, 10])
def test_tail_with_ten_or_fewer_samples_is_the_unresolved_max(n):
    samples = [float(i) for i in range(n)]
    assert metrics.tail(samples) == (100.0, float(n - 1), 0)


def test_median_low_ignores_the_higher_of_two_passes():
    assert metrics.median_low([2000.0, 3500.0]) == 2000.0
    assert metrics.median_low([3.0, 1.0, 2.0]) == 2.0


# -- CPU accounting -----------------------------------------------------------


def test_cpu_between_counts_new_threads_and_drops_exited_ones():
    hz = os.sysconf("SC_CLK_TCK")
    before = {(1, 1): 100, (1, 2): 50}
    after = {(1, 1): 100 + hz, (1, 3): hz // 2}  # (1, 2) exited
    assert proctree.cpu_seconds_between(before, after) == pytest.approx(1.5, abs=1 / hz)


def test_cpu_counters_see_this_process_burn_cpu():
    before, tree0 = proctree.thread_ticks(), proctree.tree_cpu_s()
    assert (os.getpid(), threading.get_native_id()) in before
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert proctree.cpu_seconds_between(before, proctree.thread_ticks()) >= 0.2
    assert proctree.tree_cpu_s() - tree0 >= 0.2


# -- correctness gate ---------------------------------------------------------


def test_oracle_gate_rejects_a_perturbed_result():
    from tools.oracle_check import compare

    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    assert compare("q", want.iloc[::-1].copy(), want) == []
    got = want.copy()
    got.loc[1, "v"] = 1.2500000001
    assert compare("q", got, want)
    assert compare("q", want.iloc[:2], want)


def test_gorilla_read_check_rejects_a_perturbed_summary():
    data = telemetry.Telemetry(seed=3)
    start = telemetry.START_EPOCH + 5 * 3600
    want = data.expected_summary(start, start + 4 * 3600)
    assert telemetry.summary_problems(dict(want), want) == []
    for key, delta in (("n_samples", 1), ("min_value", 0.01), ("max_ts", 1), ("avg_value", 1e-6)):
        got = dict(want)
        got[key] += delta
        assert telemetry.summary_problems(got, want), key


def test_expected_summary_matches_a_brute_force_scan():
    data = telemetry.Telemetry(seed=5)
    start, end = telemetry.START_EPOCH + 7777, telemetry.START_EPOCH + 7777 + 7 * 3600
    m = (data.ts >= start) & (data.ts < end)
    want = data.expected_summary(start, end)
    assert want["n_samples"] == m.sum()
    assert want["min_value"] == data.value[m].min()
    assert want["max_ts"] == data.ts[m].max()


def test_telemetry_is_seeded_and_strictly_increasing_per_series():
    a, b, c = telemetry.Telemetry(7), telemetry.Telemetry(7), telemetry.Telemetry(8)
    assert np.array_equal(a.ts, b.ts) and np.array_equal(a.value, b.value)
    assert not np.array_equal(a.value, c.value)
    per = a.ts.reshape(telemetry.SERIES, -1)
    assert (np.diff(per, axis=1) > 0).all()
    assert per.min() >= telemetry.START_EPOCH
    assert np.array_equal(a.value, np.round(a.value, 2))


# -- stdout contract ----------------------------------------------------------


def test_report_prints_one_parseable_line_per_metric_with_its_unit():
    out = io.StringIO()
    report = metrics.Report("w", out=out)
    report.set("setup_s", 1.25, "s")
    report.set("queries_per_s", 3.5, "1/s", wall_s=2.0)
    lines = out.getvalue().splitlines()
    assert len(lines) == 2
    parsed = [json.loads(line) for line in lines]
    assert [(p["metric"], p["value"], p["unit"]) for p in parsed] == [
        ("setup_s", 1.25, "s"),
        ("queries_per_s", 3.5, "1/s"),
    ]


def test_result_line_holds_exactly_the_requested_metrics():
    report = metrics.Report("w", out=io.StringIO())
    report.set("a", 1.0, "s")
    report.set("b", 2.0, "ms")
    res = json.loads(report.result_line(["a"], attempted=4, failed=1))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res == {
        "correct": False,
        "attempted": 4,
        "failed": 1,
        "metrics": {"a": {"value": 1.0, "unit": "s"}},
    }
    with pytest.raises(KeyError):
        report.result_line(["a", "missing"], attempted=1, failed=0)


def test_report_rejects_non_finite_values():
    report = metrics.Report("w", out=io.StringIO())
    with pytest.raises(ValueError):
        report.set("x", float("nan"), "s")


def test_fails_without_result_outside_a_checkout(tmp_path):
    """With only BENCHMARK.json and perfbench/ present the benchmark must
    exit non-zero and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ts_query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
