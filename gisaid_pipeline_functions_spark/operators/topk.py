"""Sort / limit / top-k operators (SURVEY §2.8 O1–O6).

The reference's top-k is pandas sort+slice then reindex-to-order
(Plotting_Functions.py:626–644). Distributed top-k is
``orderBy(...).limit(n)`` — Spark plans it as TakeOrderedAndProject (a
per-partition heap + driver merge; no global sort shuffle). Deterministic
tie-breaks are mandatory for hash-stable results (SURVEY §7 risk list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, order_cols: list, k: int) -> DataFrame:
    """O4 — global top-k, caller supplies a total ordering."""
    return df.orderBy(*order_cols).limit(k)


def _sum0(c):
    return F.coalesce(F.sum(c), F.lit(0))


def _block_prefix(
    df: DataFrame,
    order_col: str,
    num_buckets: int | None,
    totals: dict,
    descending: bool = False,
    fold=_sum0,
) -> DataFrame:
    """The block-prefix core of paginate, global_rank, block_cumsum,
    skyline_2d and training.select_to_token_budget: a GLOBAL walk in
    ``order_col`` order made scale-safe (an unpartitioned window moves
    the whole table to one partition — VERDICT r3 #3), the trick of the
    FASTA reader (sources/fasta.py:82).

    Returns ``df`` plus ``_bkt``, an order-respecting range bucket of
    ``order_col``, and for each ``totals`` name (a per-bucket aggregate
    Column) the ``fold`` of that total over every bucket that PRECEDES
    the row's bucket in the walk: the lower buckets ascending, the higher
    ones ``descending``. The default fold is a sum that reads 0 when no
    bucket precedes. The caller finishes the walk with a window
    partitioned by ``_bkt``, so every bucket ranks or sums in parallel.

    ~num_buckets-1 cuts come from a one-row ``percentile_approx``. A
    row's bucket is the number of cuts strictly below its key, a
    compiled comparison chain: ties share a bucket and bucket order
    refines key order, so any cuts give the same output and only steer
    bucket balance. NULL keys take bucket -1, first ascending and last
    descending (Spark's default null order). One aggregate over the
    <=num_buckets+1 per-bucket totals builds a dense prefix array per
    total, and the cuts and the arrays return to the rows as ONE
    broadcast row: the per-bucket aggregate carries the cuts as a
    grouping key, so the bucket a row is counted in and the bucket it
    reads its prefix from come from the same single evaluation of the
    cuts, whether or not Spark reuses exchanges at runtime.

    Non-numeric keys (``percentile_approx`` is numeric-only) and
    num_buckets <= 1 use one bucket.
    """
    from pyspark.sql.types import NumericType

    n = num_buckets or df.sparkSession.sparkContext.defaultParallelism
    numeric = isinstance(df.schema[order_col].dataType, NumericType)
    ncuts = n - 1 if numeric else 0
    v = F.col(order_col)
    hits = sum(
        ((v > F.element_at("_cuts", i)).cast("int") for i in range(1, ncuts + 1)),
        F.lit(0),
    )
    bkt = F.coalesce(hits, F.lit(-1))
    keys, rows = [], df
    if ncuts:
        qs = F.array(*[F.lit(i / n) for i in range(1, n)])
        # accuracy 1000 = relative error 0.001 (the percentile_approx
        # default, 10000, builds a 10x finer GK summary)
        cuts = df.agg(F.percentile_approx(v, qs, F.lit(1000)).alias("_cuts"))
        keys, rows = ["_cuts"], df.crossJoin(F.broadcast(cuts))
    per = rows.groupBy(*keys, bkt.alias("_bkt")).agg(
        *[t.alias(k) for k, t in totals.items()]
    )
    b = F.col("_bkt")
    prefix_row = per.groupBy(*keys).agg(
        *[
            F.array(
                *[
                    fold(F.when((b > i) if descending else (b < i), F.col(k)))
                    for i in range(-1, ncuts + 1)
                ]
            ).alias(k)
            for k in totals
        ]
    )
    return (
        df.crossJoin(F.broadcast(prefix_row))
        .withColumn("_bkt", bkt)
        .withColumns({k: F.element_at(k, b + 2) for k in totals})
        .drop(*keys)
    )


def paginate(
    df: DataFrame, order_col: str, page_size: int, num_buckets: int | None = None
) -> DataFrame:
    """O6 — fixed-size row pages (Plotting_Functions.py:1059–1073):
    global row rank over the page ordering, ``floor((rank-1)/page_size)``.

    The global rank is ``_block_prefix``'s row count over the lower
    buckets plus a ``row_number`` window partitioned by bucket; one
    evaluation of the cut points feeds both a row's bucket and its
    prefix. NULL order keys rank first (ASC NULLS FIRST). A non-numeric
    order column gets one bucket; callers paginating big string-keyed
    tables should pre-map the key to a numeric rank.
    """
    parts = _block_prefix(df, order_col, num_buckets, {"_prefix": F.count(F.lit(1))})
    local_rn = F.row_number().over(Window.partitionBy("_bkt").orderBy(order_col))
    return parts.withColumn(
        "page", F.floor((F.col("_prefix") + local_rn - 1) / page_size).cast("int")
    ).drop("_bkt", "_prefix")


def global_rank(
    df: DataFrame,
    order_col: str,
    tiebreak_col: str,
    num_buckets: int | None = None,
) -> DataFrame:
    """Scale-safe GLOBAL row rank (``rank``, LongType) under the
    (order_col, tiebreak_col) total order — ``paginate``'s walk exposed
    as a rank column, for consumers that need Σf(rank) aggregates (Gini,
    exact percentile-of-rank) rather than pages. One evaluation of the
    cut points feeds both a row's bucket and its prefix. Ties on
    order_col share a bucket, so the tiebreak column totalizes the order
    deterministically; NULL order keys rank first."""
    parts = _block_prefix(df, order_col, num_buckets, {"_prefix": F.count(F.lit(1))})
    local_rn = F.row_number().over(
        Window.partitionBy("_bkt").orderBy(order_col, tiebreak_col)
    )
    return parts.withColumn(
        "rank", (F.col("_prefix") + local_rn).cast("long")
    ).drop("_bkt", "_prefix")


def block_cumsum(
    df: DataFrame,
    order_col: str,
    value_cols: list[str],
    tiebreak_col: str | None = None,
    num_buckets: int | None = None,
) -> DataFrame:
    """Scale-safe GLOBAL running sum of ``value_cols`` under the
    ``order_col`` order — ``global_rank``'s walk generalized from a row
    count to arbitrary sum columns, for ECDF / KS-statistic consumers.
    One evaluation of the cut points feeds both a row's bucket and its
    per-bucket prefix sums.

    Adds ``cum_<col>`` (LongType) for each value column: the sum of
    that column over all rows ≤ the current row in the
    (order_col, tiebreak_col) order, INCLUDING the current row; NULL
    order keys come first. Ties on order_col share a bucket; pass a
    tiebreak for a total order when order_col has duplicates, else the
    running sum at equal keys is frame-order-dependent.
    """
    parts = _block_prefix(
        df, order_col, num_buckets, {f"_pre_{c}": F.sum(c) for c in value_cols}
    )
    order = [order_col] + ([tiebreak_col] if tiebreak_col else [])
    win = (
        Window.partitionBy("_bkt")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in value_cols:
        parts = parts.withColumn(
            f"cum_{c}", (F.col(f"_pre_{c}") + F.sum(c).over(win)).cast("long")
        )
    return parts.drop("_bkt", *[f"_pre_{c}" for c in value_cols])


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    num_buckets: int | None = None,
) -> DataFrame:
    """2-D skyline (Pareto frontier; Borzsony et al., ICDE 2001):
    rows not dominated by any other — maximize ``x_col``, minimize
    ``y_col``, dominance strict in at least one dimension (exact ties
    on both dims all survive). Sort-based: a row survives iff its y is
    the minimum of its x group AND strictly below every higher-x group
    minimum. The x groups walk ``_block_prefix`` DESCENDING with a min
    fold (the minimum over strictly-higher buckets; a bucket holds whole
    x groups, so cross-bucket x order is strict; one evaluation of the
    cut points feeds both a group's bucket and that minimum), and one
    window partitioned by bucket finishes the running min. No global
    window, no all-pairs join. The frontier joins back on ``x_col``
    alone, so rows with a NULL x never join and are dropped."""
    grp = df.groupBy(x_col).agg(F.min(y_col).alias("_gy"))
    pts = _block_prefix(
        grp, x_col, num_buckets, {"_hmin": F.min("_gy")}, descending=True, fold=F.min
    )
    w = (
        Window.partitionBy("_bkt")
        .orderBy(F.desc(x_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # F.least skips NULLs (both engines), so the top bucket's first
    # x group — no higher-x point anywhere — gets NULL and survives
    frontier = (
        pts.withColumn("_rmin", F.least(F.min("_gy").over(w), F.col("_hmin")))
        .filter(F.col("_rmin").isNull() | (F.col("_gy") < F.col("_rmin")))
        .select(x_col, "_gy")
    )
    return (
        df.join(frontier, x_col)
        .filter(F.col(y_col) == F.col("_gy"))
        .drop("_gy")
    )
