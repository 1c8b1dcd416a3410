"""Training-data operators: deterministic sampling, chunking, packing
(operators/training.py). The corpus-scale parity runs in the oracle
harness; these pin the edge-case semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gisaid_pipeline_functions_spark.operators.training import (
    chunk_text,
    hex_uniform,
    pack_next_fit,
    rate_to_hex_threshold,
    sample_k_per_group,
    stratified_sample,
)


def test_stratified_sample_is_deterministic(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    t = F.lit(rate_to_hex_threshold(0.3))
    a = {r["doc_id"] for r in stratified_sample(df, "doc_id", t).collect()}
    b = {
        r["doc_id"]
        for r in stratified_sample(df.repartition(7), "doc_id", t).collect()
    }
    assert a == b  # partition-invariant, unlike df.sample
    assert 0.2 < len(a) / 1000 < 0.4


def test_rate_threshold_bounds():
    assert rate_to_hex_threshold(0.0) == "00000000"
    assert rate_to_hex_threshold(1.0) == "ffffffff"
    assert len(rate_to_hex_threshold(0.123)) == 8


def test_sample_k_per_group_exact_and_small_groups(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(10)] + [("b", 100), ("b", 101)],
        "grp string, doc_id long",
    )
    out = sample_k_per_group(df, "grp", "doc_id", 3)
    counts = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"a": 3, "b": 2}  # min(k, group size)


def test_chunk_text_boundaries(spark):
    df = spark.createDataFrame(
        [("w0 w1 w2 w3 w4",), ("only two three",)], "text string"
    )
    out = df.select(chunk_text(df, "text", 2).alias("chunks")).collect()
    assert out[0]["chunks"] == ["w0 w1", "w2 w3", "w4"]  # short tail kept
    assert out[1]["chunks"] == ["only two", "three"]


def test_pack_next_fit_semantics(spark):
    # shards=1 pins the sequential walk itself (one walk per source)
    df = spark.createDataFrame(
        [
            ("s", 1, 30),
            ("s", 2, 30),  # 30+30 > 50 -> new bin
            ("s", 3, 20),  # fits with 30 -> bin 2
            ("s", 4, 90),  # oversized doc -> own bin 3
            ("s", 5, 10),  # after oversized: fill 90+10 > 50 -> bin 4
            ("t", 9, 5),   # other group packs independently
        ],
        "source string, doc_id long, n_tokens long",
    )
    out = {
        r["doc_id"]: r["bin_id"]
        for r in pack_next_fit(df, budget=50, shards=1).collect()
    }
    assert out == {1: 1, 2: 2, 3: 2, 4: 3, 5: 4, 9: 1}


def test_pack_next_fit_shards_dominant_source(spark):
    """The 100 TB posture: one source dominating the corpus must spread
    across multiple (source, shard) walks, not serialize on one core —
    and each shard's walk must still satisfy next-fit invariants."""
    from gisaid_pipeline_functions_spark.operators.training import shard_bucket

    rows = [("big", i, 7) for i in range(400)] + [("small", 1000, 7)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    out = pack_next_fit(df, budget=50, shards=8)
    pdf = out.toPandas()

    big = pdf[pdf["source"] == "big"]
    assert big["shard"].nunique() > 4  # dominant source actually spread

    # shard assignment matches the portable expression
    expected = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", shard_bucket(F.col("doc_id"), 8).alias("s")
        ).collect()
    }
    assert all(expected[d] == s for d, s in zip(pdf["doc_id"], pdf["shard"]))

    # per-shard next-fit invariants: bins contiguous from 1, every bin
    # within budget UNLESS that specific bin is a single oversized doc
    for (_, _), grp in pdf.groupby(["source", "shard"]):
        grp = grp.sort_values("doc_id")
        fills = grp.groupby("bin_id")["n_tokens"].sum()
        sizes = grp.groupby("bin_id").size()
        assert list(fills.index) == list(range(1, len(fills) + 1))
        for b in fills.index:
            assert fills[b] <= 50 or sizes[b] == 1, (b, fills[b], sizes[b])
        ordered_bins = grp["bin_id"].tolist()
        assert ordered_bins == sorted(ordered_bins)  # walk never reopens a bin


def test_hex_uniform_matches_duckdb(spark):
    import duckdb

    df = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select("doc_id", hex_uniform(F.col("doc_id")).alias("h")).collect()
    }
    want = dict(
        duckdb.sql(
            "SELECT i, substr(md5(CAST(i AS VARCHAR)), 1, 8) FROM range(50) t(i)"
        ).fetchall()
    )
    assert got == want


def test_shard_bucket_matches_duckdb_on_arbitrary_ids(spark):
    """shard_bucket's portability claim, property-tested: for arbitrary
    ids and bucket counts the Spark expression and the verbatim DuckDB
    expression land in the same bucket."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gisaid_pipeline_functions_spark.operators.training import shard_bucket

    ids = st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1, max_size=30, unique=True,
    )

    @settings(max_examples=15, deadline=None)
    @given(ids=ids, b=st.sampled_from([1, 2, 7, 8, 16, 32, 256]))
    def check(ids, b):
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        got = {
            r["doc_id"]: r["s"]
            for r in df.select(
                "doc_id", shard_bucket(F.col("doc_id"), b).alias("s")
            ).collect()
        }
        want = dict(
            duckdb.sql(
                "SELECT i, ((strpos('0123456789abcdef', "
                "substr(md5(CAST(i AS VARCHAR)), 1, 1)) - 1) * 16"
                " + (strpos('0123456789abcdef', "
                "substr(md5(CAST(i AS VARCHAR)), 2, 1)) - 1)) % "
                f"{b} FROM (SELECT unnest({list(ids)}::BIGINT[]) AS i)"
            ).fetchall()
        )
        assert got == want
        assert all(0 <= s < b for s in got.values())

    check()


def test_shard_bucket_uses_full_two_digit_lattice(spark):
    # >16 buckets must actually materialize (the one-digit version capped
    # every bucket count at 16)
    from gisaid_pipeline_functions_spark.operators.training import shard_bucket

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    n = (
        df.select(shard_bucket(F.col("doc_id"), 32).alias("s"))
        .distinct()
        .count()
    )
    assert n == 32


def test_chunk_windows_invariants(spark):
    """Sliding-window chunker contract (r14): first window starts at 0,
    consecutive starts differ by exactly the stride, the last window
    reaches the document's end, every word is covered, interior windows
    are full-width, and rebuilding each window from the source words
    reproduces its chunk text — across lengths shorter than, equal to,
    and (mis)aligned with the window/stride grid, including a 1-word
    doc."""
    from gisaid_pipeline_functions_spark.operators.training import (
        chunk_text_windows,
    )

    lengths = [1, 5, 16, 31, 32, 33, 47, 48, 49, 64, 100]
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(n)))
         for i, n in enumerate(lengths)],
        "doc_id long, text string",
    )
    out = chunk_text_windows(docs, window_words=32, stride_words=16)
    rows = sorted(
        ((r["doc_id"], r["win_id"], r["start_word"], r["n_words"],
          r["chunk"]) for r in out.collect())
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r[0], []).append(r)
    assert set(by_doc) == set(range(len(lengths)))
    for i, n in enumerate(lengths):
        ws = by_doc[i]
        words = [f"w{i}_{j}" for j in range(n)]
        expected_wins = 1 + max(0, -(-(n - 32) // 16)) if n > 32 else 1
        assert len(ws) == expected_wins
        assert [w[1] for w in ws] == list(range(len(ws)))
        assert [w[2] for w in ws] == [16 * k for k in range(len(ws))]
        last = ws[-1]
        assert last[2] + last[3] == n  # reaches the end
        for _, _, start, n_words, chunk in ws:
            assert n_words == min(32, n - start)
            assert chunk == " ".join(words[start:start + n_words])


@pytest.mark.parametrize("window, stride", [(32, 0), (32, -1), (8, 16)])
def test_chunk_windows_rejects_bad_stride_at_call(spark, window, stride):
    """A stride outside [1, window] raises at the call, under ``python -O``
    too, instead of failing only when the query executes."""
    from gisaid_pipeline_functions_spark.operators.training import (
        chunk_text_windows,
    )

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stride_words"):
        chunk_text_windows(docs, window_words=window, stride_words=stride)


def test_chunk_windows_property_vs_pure_python(spark):
    """Property: for ANY (word count, window, stride) with
    stride ≤ window, the chunker's rows equal a 10-line pure-Python
    reference — same window count, offsets, widths, and chunk text."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gisaid_pipeline_functions_spark.operators.training import (
        chunk_text_windows,
    )

    @settings(max_examples=12, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=200),
        window=st.integers(min_value=1, max_value=40),
        data=st.data(),
    )
    def check(n, window, data):
        stride = data.draw(st.integers(min_value=1, max_value=window))
        words = [f"t{j}" for j in range(n)]
        df = spark.createDataFrame(
            [(0, " ".join(words))], "doc_id long, text string"
        )
        got = sorted(
            (r["win_id"], r["start_word"], r["n_words"], r["chunk"])
            for r in chunk_text_windows(
                df, window_words=window, stride_words=stride
            ).collect()
        )
        n_win = 1 + max(0, -(-(n - window) // stride))
        want = [
            (k, k * stride, min(window, n - k * stride),
             " ".join(words[k * stride:k * stride + window]))
            for k in range(n_win)
        ]
        assert got == want

    check()
