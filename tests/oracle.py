"""Local stand-in for the driver's DuckDB-oracle comparison.

Mimics CORRECTNESS_r{N}.json's check: row count + column-name schema +
order-insensitive value comparison (floats rounded) between the Spark
result and the DuckDB oracle SQL over the same parquet tables.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb

from gisaid_pipeline_functions_spark.sources.tables import TESTDATA_TABLES

FLOAT_DECIMALS = 6
ROW_FIELDS = (
    "rows_match", "schema_match", "hash_match", "spark_rows", "oracle_rows",
    "err",
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, FLOAT_DECIMALS)
        return 0.0 if r == 0 else r  # -0.0 == 0.0
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(row[i]) for i in idx) for row in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def correctness_row(spark, con, sf_dir: str, query, sql: str | None) -> dict:
    """One CORRECTNESS_r*.json row for ``query(spark, sf_dir)`` against
    the DuckDB oracle ``sql``:

        {rows_match, schema_match, hash_match, spark_rows, oracle_rows, err}

    A query with no oracle (``sql`` None) records err="no_oracle" with the
    compare fields null, the driver's weaker rows-only gate. Any exception
    is recorded in ``err``, never raised: a drive reports, it does not die.
    """
    row = dict.fromkeys(ROW_FIELDS)
    try:
        df = query(spark, sf_dir)
        s_cols = df.columns
        s_rows = [tuple(r) for r in df.collect()]
        row["spark_rows"] = len(s_rows)
        if sql is None:
            row["err"] = "no_oracle"
            return row
        rel = con.execute(sql)
        d_cols = [d[0] for d in rel.description]
        d_rows = rel.fetchall()
        row["oracle_rows"] = len(d_rows)
        row["rows_match"] = len(s_rows) == len(d_rows)
        row["schema_match"] = sorted(s_cols) == sorted(d_cols)
        row["hash_match"] = (
            row["rows_match"]
            and row["schema_match"]
            and _rowset(s_cols, s_rows) == _rowset(d_cols, d_rows)
        )
    except Exception as ex:  # noqa: BLE001 — recorded in the row
        row["err"] = str(ex)[:300]
    return row


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> None:
    """Assert the Spark result and the DuckDB oracle match."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.execute(sql)
    d_cols = [d[0] for d in rel.description]
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"schema mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    s_set = _rowset(s_cols, s_rows)
    d_set = _rowset(d_cols, d_rows)
    if s_set != d_set:
        diff_s = [r for r in s_set if r not in d_set][:5]
        diff_d = [r for r in d_set if r not in s_set][:5]
        raise AssertionError(
            f"value mismatch (cols sorted={sorted(s_cols)}):\n"
            f"  spark-only rows (≤5): {diff_s}\n  duckdb-only rows (≤5): {diff_d}"
        )
