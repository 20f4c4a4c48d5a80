"""The sf10 restatement paths (round-12) must stay EXACT restatements
of the registered oracles: the chunked-signature TEMP TABLE equals the
inline sigs CTE, and the single-scan streaming Gram equals the join
form. Pure-DuckDB pins at sf0.001 — fast, no Spark — so a drift in the
shared generator strings breaks here before an sf10 campaign would."""

from __future__ import annotations

import pandas as pd
import pytest

from tools.oracle_check import duck_connection
from tools.sf3_feasible_oracles import _build_sigs_chunked

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def con():
    c = duck_connection(SF)
    yield c
    c.close()


def test_chunked_sigs_equal_inline_sigs(con):
    from gibbon_spark.registry.similarity import _SHINGLE_CTE, _minhash_sig_cols

    _build_sigs_chunked(con, chunks=3)
    chunked = con.execute(
        "SELECT * FROM sigs_t ORDER BY id"
    ).fetchdf()
    inline = con.execute(
        f"{_SHINGLE_CTE} SELECT doc_id AS id, {_minhash_sig_cols()} "
        "FROM sh GROUP BY doc_id ORDER BY id"
    ).fetchdf()
    pd.testing.assert_frame_equal(chunked, inline)


def test_minhash_tail_over_sigs_equals_registered_oracle(con):
    from gibbon_spark.registry.similarity import _minhash_oracle_sql, _minhash_tail_sql

    _build_sigs_chunked(con, chunks=3)
    restated = con.execute(
        f"WITH sigs AS (SELECT * FROM sigs_t),\n    {_minhash_tail_sql()} "
        "ORDER BY id_a, id_b"
    ).fetchdf()
    registered = con.execute(
        f"SELECT * FROM ({_minhash_oracle_sql()}) ORDER BY id_a, id_b"
    ).fetchdf()
    pd.testing.assert_frame_equal(restated, registered)


def test_incremental_tail_over_sigs_equals_registered_oracle(con):
    from gibbon_spark.registry.similarity import (
        _INCREMENTAL_SPLIT_CTE,
        _incremental_oracle_sql,
        _incremental_tail_sql,
    )

    _build_sigs_chunked(con, chunks=3)
    restated = con.execute(
        f"WITH {_INCREMENTAL_SPLIT_CTE},\n"
        "    sigs AS (SELECT * FROM sigs_t),\n"
        f"    {_incremental_tail_sql()}"
    ).fetchdf()
    registered = con.execute(_incremental_oracle_sql()).fetchdf()
    pd.testing.assert_frame_equal(restated, registered)


def test_pipeline_pairs_src_equals_registered_oracle(con):
    from gibbon_spark.registry.similarity import _minhash_tail_sql
    from gibbon_spark.registry.text import _pipeline_oracle_sql

    _build_sigs_chunked(con, chunks=3)
    con.execute(
        "CREATE TEMP TABLE pairs_t AS "
        f"WITH sigs AS (SELECT * FROM sigs_t),\n    {_minhash_tail_sql()}"
    )
    restated = con.execute(
        f"SELECT * FROM ({_pipeline_oracle_sql(pairs_src='pairs_t')}) ORDER BY lang"
    ).fetchdf()
    registered = con.execute(
        f"SELECT * FROM ({_pipeline_oracle_sql()}) ORDER BY lang"
    ).fetchdf()
    pd.testing.assert_frame_equal(restated, registered)


def test_pc_scan_gram_equals_join_gram(con):
    from gibbon_spark.registry.similarity import _pc_oracle_sql

    join_form = con.execute(_pc_oracle_sql(gram_mode="join")).fetchdf()
    scan_form = con.execute(_pc_oracle_sql(gram_mode="scan")).fetchdf()
    pd.testing.assert_frame_equal(join_form, scan_form)


def test_pc_unknown_gram_mode_raises():
    from gibbon_spark.registry.similarity import _pc_oracle_sql

    with pytest.raises(ValueError, match="gram_mode"):
        _pc_oracle_sql(gram_mode="stream")
