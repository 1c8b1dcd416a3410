"""The scale probe's replicated testdata (tools/scale_probe.py:replicate)
and the per-query loop it shares with tools/sweep.py
(tools/harness.py:time_queries)."""

from __future__ import annotations

from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pytest

from tools.harness import time_queries
from tools.scale_probe import _key_cols, replicate

N = 3
DIMENSIONS = {"region", "nation"}


@pytest.fixture(scope="module")
def big_dir(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("replicated")
    replicate(sf_dir, str(d), N)
    return str(d)


def _tables(sf_dir):
    return sorted(p.stem for p in Path(sf_dir).glob("*.parquet"))


def _copies(sf_dir, big_dir, name):
    """The source table and the N copies of it, sliced out of the
    replicated table in copy order."""
    src = pq.read_table(f"{sf_dir}/{name}.parquet")
    big = pq.read_table(f"{big_dir}/{name}.parquet")
    return src, [big.slice(i * src.num_rows, src.num_rows) for i in range(N)]


def test_keyed_tables_grow_n_times_dimensions_once(sf_dir, big_dir):
    assert DIMENSIONS <= set(_tables(sf_dir))
    for name in _tables(sf_dir):
        src = pq.read_metadata(f"{sf_dir}/{name}.parquet").num_rows
        out = pq.read_metadata(f"{big_dir}/{name}.parquet").num_rows
        assert out == (src if name in DIMENSIONS else N * src), name


def test_copy_zero_is_the_source(sf_dir, big_dir):
    for name in _tables(sf_dir):
        src, copies = _copies(sf_dir, big_dir, name)
        assert copies[0].equals(src), name


def test_column_types_unchanged(sf_dir, big_dir):
    for name in _tables(sf_dir):
        src = pq.read_schema(f"{sf_dir}/{name}.parquet")
        out = pq.read_schema(f"{big_dir}/{name}.parquet")
        assert out.names == src.names, name
        # timestamp[us] stays timestamp[us]: load_table's _ts_cols path
        # sees the same schema on both directories
        assert out.types == src.types, name


def test_shifted_keys_do_not_overlap_between_copies(sf_dir, big_dir):
    for name in _tables(sf_dir):
        src, copies = _copies(sf_dir, big_dir, name)
        for col in _key_cols(src.schema):
            seen: set = set()
            for c in copies:
                vals = set(c[col].to_pylist()) - {None}
                assert not vals & seen, (name, col)
                seen |= vals


@pytest.mark.parametrize(
    "sql",
    [
        "FROM '{d}/orders.parquet' o JOIN '{d}/customer.parquet' c"
        " ON o.o_custkey = c.c_custkey",
        "FROM '{d}/lineitem.parquet' l JOIN '{d}/orders.parquet' o"
        " ON l.l_orderkey = o.o_orderkey",
    ],
)
def test_foreign_keys_join_within_their_copy(sf_dir, big_dir, sql):
    con = duckdb.connect()
    try:
        src = con.execute("SELECT count(*) " + sql.format(d=sf_dir)).fetchone()[0]
        big = con.execute("SELECT count(*) " + sql.format(d=big_dir)).fetchone()[0]
    finally:
        con.close()
    assert src > 0 and big == N * src


def test_tagged_texts_share_no_word_between_copies(sf_dir, big_dir):
    _, copies = _copies(sf_dir, big_dir, "documents")
    vocab = [
        {w for t in c["text"].to_pylist() if t is not None for w in t.split(" ")}
        for c in copies
    ]
    for i in range(N):
        for j in range(i + 1, N):
            assert not vocab[i] & vocab[j], (i, j)


def test_registered_query_rows_grow_n_times(spark, sf_dir, big_dir):
    # one window row per (doc, window); tagging keeps every doc's word
    # count, so the N× directory yields exactly N× the windows
    name = "train_chunk_windows"
    one = time_queries(spark, [name], sf_dir, reps=1)[name]
    big = time_queries(spark, [name], big_dir, reps=1)[name]
    assert one.err is None and big.err is None
    assert one.rows > 0 and big.rows == N * one.rows


def test_time_queries_records_errors(spark, sf_dir):
    run = time_queries(spark, ["no_such_query"], sf_dir, reps=1)["no_such_query"]
    assert run.rows is None and run.err.startswith("ERR ")
