"""materialize() contract: the shared-subtree materialization point is
mode-invariant on VALUES (local / reliable / off change only where
blocks live), the reliable mode actually truncates lineage through a
durable checkpoint dir, and a missing dir fails loudly (round-10
verdict ask #4 — the 100-TB checkpoint story)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gibbon_spark.materialize import DIR_CONF, MODE_CONF, materialize


def _frame(spark):
    return (
        spark.range(0, 1000, 1, 4)
        .select((F.col("id") % 7).alias("k"), (F.col("id") * 3).alias("v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_local_mode_default_values_unchanged(spark):
    base = _rows(_frame(spark))
    assert _rows(materialize(_frame(spark))) == base
    assert _rows(materialize(_frame(spark), eager=True)) == base


def test_off_mode_is_passthrough(spark, monkeypatch):
    monkeypatch.setenv("GS_CKPT_MODE", "off")
    df = _frame(spark)
    assert materialize(df) is df


def test_reliable_mode_without_dir_fails_loudly(spark, monkeypatch):
    # runs BEFORE the checkpoint test below: setCheckpointDir is sticky
    # on the session-scoped context, so order matters
    monkeypatch.setenv("GS_CKPT_MODE", "reliable")
    if not spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        pytest.skip("session already has a checkpoint dir")
    with pytest.raises(ValueError, match=DIR_CONF):
        materialize(_frame(spark))


def test_reliable_mode_checkpoints_and_matches(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("GS_CKPT_MODE", "reliable")
    spark.conf.set(DIR_CONF, str(tmp_path / "ckpt"))
    try:
        out = materialize(_frame(spark), eager=True)
        assert _rows(out) == _rows(_frame(spark))
        # the eager reliable checkpoint wrote durable RDD blocks
        assert list((tmp_path / "ckpt").rglob("*")), "checkpoint dir is empty"
        # lineage is truncated: the checkpointed plan no longer scans range()
        assert "Scan ExistingRDD" in out._jdf.queryExecution().toString() or (
            out.rdd.toDebugString().count(b"\n") < _frame(spark).rdd.toDebugString().count(b"\n")
        )
    finally:
        spark.conf.unset(DIR_CONF)


def test_invalid_mode_raises(spark, monkeypatch):
    # advisor r11: a typo (GS_CKPT_MODE=reliabe) must not silently run
    # the local arm of an A/B comparison
    monkeypatch.setenv("GS_CKPT_MODE", "reliabe")
    with pytest.raises(ValueError, match="invalid checkpoint mode"):
        materialize(_frame(spark))
    monkeypatch.delenv("GS_CKPT_MODE")
    spark.conf.set(MODE_CONF, "LOCAL")  # case-sensitive by contract
    try:
        with pytest.raises(ValueError, match="invalid checkpoint mode"):
            materialize(_frame(spark))
    finally:
        spark.conf.unset(MODE_CONF)


def test_conf_mode_respected_without_env(spark, monkeypatch):
    monkeypatch.delenv("GS_CKPT_MODE", raising=False)
    spark.conf.set(MODE_CONF, "off")
    try:
        df = _frame(spark)
        assert materialize(df) is df
    finally:
        spark.conf.unset(MODE_CONF)


def test_query_hash_invariant_across_modes(spark, tmp_path, monkeypatch):
    """A real multi-consumer query (CUPED) returns identical rows with
    materialization off, local, and RELIABLE (the 100-TB production
    path) — materialization is a physical choice."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["abtest_cuped"]
    monkeypatch.setenv("GS_CKPT_MODE", "off")
    off_rows = _rows(q(spark, "/root/testdata/sf0.001"))
    monkeypatch.setenv("GS_CKPT_MODE", "local")
    on_rows = _rows(q(spark, "/root/testdata/sf0.001"))
    assert off_rows == on_rows
    monkeypatch.setenv("GS_CKPT_MODE", "reliable")
    spark.conf.set(DIR_CONF, str(tmp_path / "qckpt"))
    try:
        rel_rows = _rows(q(spark, "/root/testdata/sf0.001"))
    finally:
        spark.conf.unset(DIR_CONF)
    assert rel_rows == on_rows


# Round-11 verdict ask #4: prove the 100-TB reliable mode across heavy
# materialize() consumers from DISTINCT families — non-eager shared
# subtrees (containment's shingle table, the bigram LM), eager
# iterative frontiers (connected components), the _pid-dependent
# two-level global cumsum, and the blocked 3-way triangle join — plus
# one streaming replay per output mode (complete / append / update),
# whose foreachBatch emissions are pinned through materialize().
_RELIABLE_INVARIANCE_QUERIES = (
    "dedup_containment",
    "dedup_clusters_cc",
    "text_perplexity_bigram",
    "running_total_orders",
    "graph_triangle_count",
    "streaming_hourly_rollup",
    "streaming_dedup",
    "streaming_stateful_summary",
)


@pytest.mark.parametrize("name", _RELIABLE_INVARIANCE_QUERIES)
def test_reliable_mode_invariant_heavy_consumers(spark, tmp_path, monkeypatch, name):
    import __spark_entry__ as entrymod

    q = entrymod.queries()[name]
    monkeypatch.setenv("GS_CKPT_MODE", "local")
    local_rows = _rows(q(spark, "/root/testdata/sf0.001"))
    monkeypatch.setenv("GS_CKPT_MODE", "reliable")
    spark.conf.set(DIR_CONF, str(tmp_path / f"ckpt_{name}"))
    try:
        rel_rows = _rows(q(spark, "/root/testdata/sf0.001"))
    finally:
        spark.conf.unset(DIR_CONF)
    assert rel_rows == local_rows
