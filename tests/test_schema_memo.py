"""The load_table schema memo (r12): metadata-only, per-process, and
behaviorally invisible — load_table must return the same schema and
rows with the memo on, off, and across repeated calls, and must see a
table that was rewritten in place."""

from __future__ import annotations

import os
import shutil

from tests.conftest import SF_SMALL


def _clear_memos():
    from gibbon_spark.sources import tables as T

    T._SCHEMA_CACHE.clear()
    T._DF_CACHE.clear()


def test_raw_schema_memoizes_per_table(spark):
    from gibbon_spark.sources import tables as T

    T._SCHEMA_CACHE.clear()
    s1 = T.raw_schema(spark, SF_SMALL, "orders")
    s2 = T.raw_schema(spark, SF_SMALL, "orders")
    assert s1 is s2, "second call must hit the memo"
    mtime = os.stat(os.path.join(SF_SMALL, "orders.parquet")).st_mtime_ns
    key = (os.path.abspath(SF_SMALL), "orders", mtime)
    assert key in T._SCHEMA_CACHE


def test_memo_off_env_bypasses_cache(spark):
    from gibbon_spark.sources import tables as T

    _clear_memos()
    s1 = T.raw_schema(spark, SF_SMALL, "nation")
    _clear_memos()
    s2 = T.raw_schema(spark, SF_SMALL, "nation")
    # a cleared memo re-infers (fresh object) the same schema
    assert s2 is not s1
    assert [f.name for f in s2.fields] == [f.name for f in s1.fields]


def test_load_table_identical_with_and_without_memo(spark):
    from gibbon_spark.sources import tables as T

    _clear_memos()
    off = T.load_table(spark, SF_SMALL, "events")
    on = T.load_table(spark, SF_SMALL, "events")
    assert on is off, "second call must hit the memo"
    _clear_memos()
    off = T.load_table(spark, SF_SMALL, "events")
    assert off.schema == on.schema  # incl. the nanos->timestamp conversion
    o = sorted(map(tuple, off.limit(50).collect()))
    n = sorted(map(tuple, on.limit(50).collect()))
    assert o == n


def test_load_table_sees_table_rewritten_in_place(spark, tmp_path):
    """Both memos are keyed on the file's mtime: rewriting a table at
    the same path with a different schema must not serve the old one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gibbon_spark.sources import tables as T

    path = tmp_path / "nation.parquet"
    shutil.copyfile(os.path.join(SF_SMALL, "nation.parquet"), path)
    before = T.load_table(spark, str(tmp_path), "nation")
    assert "n_name" in before.columns

    pq.write_table(pa.table({"k": [1, 2, 3], "label": ["a", "b", "c"]}), path)
    after = T.load_table(spark, str(tmp_path), "nation")
    assert after.columns == ["k", "label"]
    assert sorted(r["k"] for r in after.collect()) == [1, 2, 3]
