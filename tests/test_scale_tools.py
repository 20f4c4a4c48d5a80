"""Spark-free checks for the scale-gate tooling: the data generator
must be deterministic and schema-faithful, the plan-lint window parser
must classify Window plan lines correctly, and the growth rule must
judge the smaller and the larger data point the same way whichever
side a run was on."""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

from tools.explain_audit import _toplevel_groups, count_partitionless_windows
from tools.gen_scale_data import gen_all
from tools.scale_gate import SF1, super_linear

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _dir_digest(d: str) -> dict[str, str]:
    out = {}
    for t in TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            out[t] = hashlib.md5(f.read()).hexdigest()
    return out


def test_generator_is_deterministic(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    gen_all(0.002, a)
    gen_all(0.002, b)
    assert _dir_digest(a) == _dir_digest(b)


def test_generator_schema_matches_driver_testdata(tmp_path):
    out = str(tmp_path / "s")
    gen_all(0.002, out)
    for t in TABLES:
        drv = [
            (f.name, str(f.type))
            for f in pq.read_schema(f"/root/testdata/sf0.01/{t}.parquet")
        ]
        gen = [(f.name, str(f.type)) for f in pq.read_schema(f"{out}/{t}.parquet")]
        assert drv == gen, t


def test_window_line_classification():
    partitionless = (
        "+- Window [row_number() windowspecdefinition(id#0L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
        "AS r#2], [id#0L ASC NULLS FIRST]"
    )
    partitioned = (
        "+- Window [row_number() windowspecdefinition(g#1L, id#0L ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS r#4], [g#1L], [id#0L ASC NULLS FIRST]"
    )
    partitioned_unordered = (
        "+- Window [count(1) windowspecdefinition(id#5, specifiedwindowframe("
        "RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS n#7], [id#5]"
    )
    assert count_partitionless_windows(partitionless) == 1
    assert count_partitionless_windows(partitioned) == 0
    assert count_partitionless_windows(partitioned_unordered) == 0
    assert count_partitionless_windows("\n".join([partitionless, partitioned])) == 1
    assert _toplevel_groups("[a], [b, [c]], [d]") == ["a", "b, [c]", "d"]


def test_growth_rule_orders_the_two_points():
    # a run 2.9x faster on a tenth of the data is 2.9x growth, not 0.34x
    assert not super_linear("dedup_containment", 6.0, 17.4, 10.0)
    # slower on the smaller data is not growth at all
    assert not super_linear("q1_pricing_summary", 17.4, 6.0, 10.0)
    # linear queries: 13x growth passes, past it flags, under the floor never
    assert not super_linear("q1_pricing_summary", 1.0, 12.9, 10.0)
    assert super_linear("q1_pricing_summary", 1.0, 13.1, 10.0)
    assert not super_linear("q1_pricing_summary", 0.1, 4.9, 10.0)


def test_growth_rule_work_model_and_ceiling():
    # a ^2 work model allows 1.3 x 10^2 = 130x where a linear query gets 13x
    assert not super_linear("ts_range_join", 0.2, 20.0, 10.0)
    assert super_linear("ts_range_join", 0.1, 20.0, 10.0)
    assert super_linear("q1_pricing_summary", 0.2, 20.0, 10.0)
    # the absolute ceiling binds at its own sf only
    assert super_linear("ts_range_join", 1.0, 31.0, 10.0, SF1)
    assert not super_linear("ts_range_join", 1.0, 31.0, 10.0)
