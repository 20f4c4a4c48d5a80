"""bench.py's output contract, driven end to end on three registry queries
at sf0.001: the detail line, the chunk lines, the final summary line and
the persisted detail file, plus the loud failure on a corrupt baseline."""

from __future__ import annotations

import json

import pytest

import __spark_entry__
import bench
from gibbon_spark.session import _cpus
from tests.conftest import SF_SMALL
from tools import scratch

QUERIES = ("ts_summary", "ts_range_scan", "orders_topk")  # warm-up uses ts_summary
# bench.py's naming rule: the core count is left out only on 32 cores
DETAIL_NAME = "BENCH_DETAIL_sf0.001" + ("" if _cpus() == 32 else f"_c{_cpus()}") + ".json"


@pytest.fixture
def bench_env(tmp_path, monkeypatch):
    registry = __spark_entry__.queries()
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMALL)
    monkeypatch.setattr(__spark_entry__, "queries", lambda: {n: registry[n] for n in QUERIES})
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setattr(scratch, "reap_stale", lambda: [])
    return tmp_path


def test_bench_output_contract(bench_env, spark, capsys):
    bench.main()
    lines = capsys.readouterr().out.splitlines()
    detail, chunks, last = json.loads(lines[0]), lines[1:-1], lines[-1]

    for key in ("queries", "queries_cpu_s"):
        assert set(detail[key]) == set(QUERIES), key
        assert all(v > 0 for v in detail[key].values()), detail[key]
    assert detail["n_passes"] == 2 and len(detail["pass_totals"]) == 2

    assert chunks
    for line in chunks:
        assert len(line) < 2048
        assert json.loads(line)["metric"] == "queries_chunk"

    assert len(last) < 300
    summary = json.loads(last)
    assert "cpu_total_s" in summary and "n_reruns" not in summary
    assert summary["n_queries"] == len(QUERIES)

    written = list(bench_env.glob("BENCH_DETAIL*.json"))
    assert [p.name for p in written] == [DETAIL_NAME]
    assert json.loads(written[0].read_text()) == detail


def test_bench_corrupt_baseline_raises(bench_env):
    (bench_env / DETAIL_NAME).write_text('{"queries": {')
    with pytest.raises(json.JSONDecodeError):
        bench.main()
