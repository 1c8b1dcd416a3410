"""Hypothesis properties for the bucketed block-prefix operators
(operators/topk.py:paginate / global_rank / block_cumsum,
operators/training.py:select_to_token_budget) and sliding_chunks: the
scale-safe plans must be RESULT-IDENTICAL to the naive single-partition
definition on arbitrary inputs — duplicates, skew, NULL keys, empty-ish
frames, boundary-straddling pages all included."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gisaid_pipeline_functions_spark.operators.topk import (
    block_cumsum,
    global_rank,
    paginate,
)
from gisaid_pipeline_functions_spark.operators.training import (
    select_to_token_budget,
    sliding_chunks,
)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@given(
    vals=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=120),
    page_size=st.integers(min_value=1, max_value=7),
)
@settings(**_SETTINGS)
def test_paginate_matches_global_definition(spark, vals, page_size):
    # ids make the (value) order non-total only in `value`; paginate orders
    # by value alone, so page CONTENTS must match the multiset of the
    # naive sorted slicing even when ties straddle page boundaries
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = paginate(df, "v", page_size, num_buckets=4).collect()
    # multiset of values per page from the naive definition
    naive = {}
    for rank, v in enumerate(sorted(vals)):
        naive.setdefault(rank // page_size, []).append(v)
    got_pages = {}
    for r in got:
        got_pages.setdefault(r["page"], []).append(r["v"])
    assert {p: sorted(vs) for p, vs in got_pages.items()} == {
        p: sorted(vs) for p, vs in naive.items()
    }


# order keys with many ties and NULLs; NULLs sort first ascending
_KEYS = st.lists(
    st.one_of(st.none(), st.integers(min_value=-8, max_value=8)),
    min_size=1,
    max_size=80,
)


def _asc_nulls_first(rows):
    # the exact total order (v ASC NULLS FIRST, id ASC); rows are (id, v, ...)
    return sorted(rows, key=lambda r: (r[1] is not None, r[1] or 0, r[0]))


@given(keys=_KEYS)
@settings(**_SETTINGS)
def test_global_rank_matches_sorted_definition(spark, keys):
    rows = [(i, v) for i, v in enumerate(keys)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = global_rank(df, "v", "id", num_buckets=4)
    assert out.schema["rank"].dataType.simpleString() == "bigint"
    got = {r["id"]: r["rank"] for r in out.collect()}
    assert got == {r[0]: k for k, r in enumerate(_asc_nulls_first(rows), 1)}


@given(
    keys=_KEYS,
    vals=st.lists(
        st.tuples(st.integers(-20, 20), st.integers(0, 1_000)), min_size=80, max_size=80
    ),
)
@settings(**_SETTINGS)
def test_block_cumsum_matches_running_sum(spark, keys, vals):
    rows = [(i, v, *vals[i]) for i, v in enumerate(keys)]
    df = spark.createDataFrame(rows, "id long, v long, a long, b long")
    out = block_cumsum(df, "v", ["a", "b"], tiebreak_col="id", num_buckets=4)
    assert [out.schema[c].dataType.simpleString() for c in ("cum_a", "cum_b")] == [
        "bigint",
        "bigint",
    ]
    got = {r["id"]: (r["cum_a"], r["cum_b"]) for r in out.collect()}
    expect, ca, cb = {}, 0, 0
    for i, _, a, b in _asc_nulls_first(rows):
        ca, cb = ca + a, cb + b
        expect[i] = (ca, cb)
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),  # quality (ties likely)
            st.integers(min_value=1, max_value=30),  # tokens
        ),
        min_size=1,
        max_size=80,
    ),
    frac=st.floats(min_value=0.1, max_value=1.0),
)
@settings(**_SETTINGS)
def test_token_budget_matches_greedy_walk(spark, rows, frac):
    total = sum(t for _, t in rows)
    budget = max(1, math.floor(total * frac))
    data = [(i, q, t, budget) for i, (q, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, q long, tok long, budget long")
    got = sorted(
        (r["doc_id"], r["cum_tokens"])
        for r in select_to_token_budget(
            df, order_col="q", token_col="tok", num_buckets=4
        ).collect()
    )
    # naive greedy walk over the exact total order (q DESC, doc_id ASC)
    naive, cum = [], 0
    for i, q, t, _ in sorted(data, key=lambda r: (-r[1], r[0])):
        cum += t
        if cum > budget:
            break
        naive.append((i, cum))
    assert got == sorted(naive)


def test_paginate_keeps_null_order_keys(spark):
    # NULL order keys must be paginated, not dropped (the cut
    # comparisons are NULL for them, so they need a bucket of their own),
    # and must land FIRST — Spark's ASC NULLS FIRST, the order the
    # pre-bucketed row_number implementation produced.
    rows = [(0, None), (1, 5), (2, None), (3, 1), (4, 9), (5, 3)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = paginate(df, "v", 2, num_buckets=3).collect()
    assert len(got) == len(rows)
    page0 = sorted(r["id"] for r in got if r["page"] == 0)
    assert page0 == [0, 2]  # both NULLs rank before every real value


def test_token_budget_keeps_null_order_keys(spark):
    # DESC walk → NULL quality sorts LAST: NULL-keyed rows are reached
    # only after every real value, and still consume budget when reached.
    rows = [(0, None, 5), (1, 10, 5), (2, 7, 5), (3, None, 5)]
    budget = 15
    df = spark.createDataFrame(
        [(i, q, t, budget) for i, q, t in rows],
        "doc_id long, q long, tok long, budget long",
    )
    got = sorted(
        (r["doc_id"], r["cum_tokens"])
        for r in select_to_token_budget(
            df, order_col="q", token_col="tok", num_buckets=2
        ).collect()
    )
    # exact walk: q DESC NULLS LAST, doc_id ASC → 1(5), 2(10), 0(15), 3(20>budget)
    assert got == [(0, 15), (1, 5), (2, 10)]


@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=3), min_size=1, max_size=40
    ),
    window=st.integers(min_value=2, max_value=8),
    stride=st.integers(min_value=1, max_value=6),
)
@settings(**_SETTINGS)
def test_sliding_chunks_cover_and_overlap(spark, words, window, stride):
    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = {
        r["chunk_no"]: r["chunk"]
        for r in sliding_chunks(
            df, "doc_id", "text", window_words=window, stride=stride
        ).collect()
    }
    expect = {
        n: " ".join(words[start : start + window])
        for n, start in enumerate(range(0, len(words), stride))
    }
    assert chunks == expect


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=12).map(
            lambda ws: " ".join("".join(w) for w in ws)
        ),
        min_size=1,
        max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_crossdoc_overlap_matches_naive(spark, docs):
    # tiny alphabet + short docs force shingle collisions across docs, so
    # the dup_frac path (not just the all-unique trivial case) is exercised
    from gisaid_pipeline_functions_spark.operators.dedup import (
        crossdoc_shingle_overlap,
    )

    k = 2
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_shingles"], r["dup_frac"])
        for r in crossdoc_shingle_overlap(df, "doc_id", "text", k=k).collect()
    }
    shingle_sets = {
        i: {
            " ".join(words[j : j + k])
            for j in range(len(words) - k + 1)
        }
        for i, words in ((i, t.split(" ")) for i, t in enumerate(docs))
        if len(words) >= k
    }
    expect = {}
    for i, sset in shingle_sets.items():
        if not sset:
            continue
        dup = sum(
            1
            for s in sset
            if any(s in other for j, other in shingle_sets.items() if j != i)
        )
        expect[i] = (len(sset), round(dup / len(sset), 6))
    assert got == expect
