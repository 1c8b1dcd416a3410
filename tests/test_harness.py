"""Fast checks for the measurement and oracle-drive core that bench.py and
tools/ share: round stamping (tools/harness.py) and the CORRECTNESS row
(tests/oracle.py:correctness_row)."""

from __future__ import annotations

import pytest

from gisaid_pipeline_functions_spark import registry
from tests.oracle import correctness_row, duckdb_conn
from tools.harness import round_number


def test_round_number_env_override(tmp_path, monkeypatch):
    (tmp_path / "CORRECTNESS_r18.json").write_text("{}")
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "7")
    assert round_number(tmp_path) == 7


def test_round_number_is_numeric_max_plus_one(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    assert round_number(tmp_path) == 1
    for r in ("r9", "r10", "r18"):
        (tmp_path / f"CORRECTNESS_{r}.json").write_text("{}")
    # lexicographically "r9" > "r18"; the round is parsed as a number
    assert round_number(tmp_path) == 19


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


NAME = "agg_group_sum"


def test_correctness_row_green(spark, sf_dir, con):
    row = correctness_row(
        spark, con, sf_dir, registry.queries()[NAME], registry.oracle_sql()[NAME]
    )
    assert row["hash_match"] is True and row["err"] is None
    assert row["rows_match"] and row["schema_match"]
    assert row["spark_rows"] == row["oracle_rows"] > 0


def test_correctness_row_no_oracle_is_rows_only(spark, sf_dir, con):
    row = correctness_row(spark, con, sf_dir, registry.queries()[NAME], None)
    assert row["err"] == "no_oracle" and row["spark_rows"] > 0
    assert row["hash_match"] is None and row["oracle_rows"] is None


def test_correctness_row_value_mismatch(spark, sf_dir, con):
    # same rows and columns, one value shifted: only the hash can catch it
    sql = f"SELECT * REPLACE (n + 1 AS n) FROM ({registry.oracle_sql()[NAME]})"
    row = correctness_row(spark, con, sf_dir, registry.queries()[NAME], sql)
    assert row["rows_match"] and row["schema_match"]
    assert row["hash_match"] is False and row["err"] is None


def test_correctness_row_records_query_error(spark, sf_dir, con):
    def broken(spark, sf_dir):
        raise ValueError("boom")

    row = correctness_row(spark, con, sf_dir, broken, "SELECT 1 AS x")
    assert row["err"] == "boom"
    assert row["hash_match"] is None and row["spark_rows"] is None

