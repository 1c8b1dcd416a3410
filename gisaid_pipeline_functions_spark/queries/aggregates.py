"""Aggregation-family query registrations (SURVEY §2.6 A1–A13)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.layout import spread
from ..registry import register
from ..sources.tables import load_table


@register(
    "agg_collect_list",
    # A1 — group-collect of codes per cluster (Time_Series.py:513–554).
    # The reference keeps file order (nondeterministic distributed); we sort
    # within the list (SURVEY §7 risk note) — serialized to a string so the
    # value hash is representation-independent.
    """
    SELECT l_orderkey,
           string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_partkey, l_linenumber) AS parts,
           count(*) AS n_items
    FROM lineitem GROUP BY l_orderkey
    """,
)
def agg_collect_list(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("l_partkey", "l_linenumber"))
                ),
                lambda s: s["l_partkey"].cast("string"),
            ),
            ",",
        ).alias("parts"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "agg_explode_count",
    # A2 — explode + value_counts (Time_Series.py:724–729, 753): word
    # frequency per language over documents.
    """
    SELECT lang, word, count(*) AS n
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE length(word) > 0
    GROUP BY lang, word
    """,
)
def agg_explode_count(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_first_per_key",
    # A3 — first-row-per-key dedupe (Time_Series.py:412, 573), made
    # deterministic with min_by on an explicit ordering column instead of
    # the reference's file-order ``groupby(...).first()``.
    # (l_linenumber is NOT unique per order in this data — composite
    # ordering key makes the tie-break deterministic on both engines)
    """
    SELECT l_orderkey,
           arg_min(l_partkey, l_linenumber * 10000000 + l_partkey) AS first_partkey,
           CAST(min(l_linenumber) AS INT) AS first_line
    FROM lineitem GROUP BY l_orderkey
    """,
)
def agg_first_per_key(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    ordkey = F.col("l_linenumber").cast("long") * 10000000 + F.col("l_partkey")
    return li.groupBy("l_orderkey").agg(
        F.min_by("l_partkey", ordkey).alias("first_partkey"),
        F.min("l_linenumber").alias("first_line"),
    )


@register(
    "agg_group_sum",
    # A4/A5 — grouped sums + grand-total shares (MSA_Reader.py:863–867,
    # 1079–1091), TPC-H Q1 shape.
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_group_sum(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_pivot_position_counts",
    # A7 — per-position × type pivot with a generated position spine so
    # zero rows appear (MSA_Reader.py:1107–1162 emits every residue 1..L).
    # Spine 1..10 deliberately exceeds the max linenumber to force zeros.
    """
    WITH spine AS (SELECT unnest(generate_series(1, 10)) AS pos),
    c AS (
      SELECT l_linenumber AS pos,
             count(*) FILTER (l_returnflag = 'A') AS a_cnt,
             count(*) FILTER (l_returnflag = 'N') AS n_cnt,
             count(*) FILTER (l_returnflag = 'R') AS r_cnt,
             count(*) AS total
      FROM lineitem GROUP BY l_linenumber
    )
    SELECT CAST(s.pos AS INT) AS pos,
           coalesce(a_cnt, 0) AS a_cnt, coalesce(n_cnt, 0) AS n_cnt,
           coalesce(r_cnt, 0) AS r_cnt, coalesce(total, 0) AS total,
           round(coalesce(total, 0) * 1.0 / sum(coalesce(total, 0)) OVER (), 6) AS pct
    FROM spine s LEFT JOIN c ON s.pos = c.pos
    """,
)
def agg_pivot_position_counts(spark, sf_dir):
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.groupBy(F.col("l_linenumber").alias("pos"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.count(F.lit(1)))
        .withColumnRenamed("A", "a_cnt")
        .withColumnRenamed("N", "n_cnt")
        .withColumnRenamed("R", "r_cnt")
    )
    spine = spark.range(1, 11).select(F.col("id").cast("int").alias("pos"))
    out = (
        spine.join(counts, "pos", "left")
        .na.fill(0, ["a_cnt", "n_cnt", "r_cnt"])
        .withColumn("total", F.col("a_cnt") + F.col("n_cnt") + F.col("r_cnt"))
    )
    grand = F.sum("total").over(Window.partitionBy())
    return out.withColumn("pct", F.round(F.col("total") / grand, 6))


@register(
    "agg_describe",
    # A9 — descriptive stats (Seq_Tools.py:90–111 via scipy.describe).
    """
    SELECT CAST(min(l_quantity) AS DOUBLE) AS min_qty,
           CAST(max(l_quantity) AS DOUBLE) AS max_qty,
           round(avg(l_quantity), 6) AS avg_qty,
           round(stddev_samp(l_quantity), 6) AS std_qty,
           count(*) AS n
    FROM lineitem
    """,
)
def agg_describe(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_mode",
    # A9 — mode as groupBy+count, desc, deterministic tie-break by value
    # (Seq_Tools.py:106–108).
    """
    SELECT CAST(l_quantity AS DOUBLE) AS mode_qty, count(*) AS n
    FROM lineitem GROUP BY l_quantity
    ORDER BY n DESC, l_quantity ASC LIMIT 1
    """,
)
def agg_mode(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_quantity").alias("mode_qty"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("mode_qty"))
        .limit(1)
    )


@register(
    "agg_distinct",
    # A6 — distinct values (Time_Series.py:507–509; MSA_Reader.py:795–803).
    "SELECT DISTINCT event_type, user_id FROM events WHERE value > 100",
)
def agg_distinct(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("value") > 100).select("event_type", "user_id").distinct()


@register(
    "agg_cube_region_priority",
    # Full CUBE (all four grouping combinations incl. grand total) in ONE
    # Expand + shuffle — the reference's nested per-continent/per-priority
    # loops collapse into a single pass (same family as the W5 grouping
    # sets, SURVEY §2.6).
    """
    SELECT coalesce(r.r_name, 'ALL') AS region,
           coalesce(o.o_orderpriority, 'ALL') AS priority,
           count(*) AS n
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY CUBE (r.r_name, o.o_orderpriority)
    """,
)
def agg_cube_region_priority(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        base.cube("r_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
        )
    )


@register(
    "agg_rollup_region_nation",
    # ROLLUP surface (the hierarchy-shaped cousin of the registered CUBE):
    # region → nation drill-down totals plus the grand total in ONE
    # Expand + shuffle; the reference's nested per-region/per-nation
    # report loops collapse into a single pass.
    """
    SELECT coalesce(r.r_name, 'ALL') AS region,
           coalesce(n.n_name, 'ALL') AS nation,
           count(*) AS n,
           round(sum(c.c_acctbal), 6) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup_region_nation(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    base = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        base.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 6).alias("total_bal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n",
            "total_bal",
        )
    )


@register(
    "agg_grouping_sets_explicit",
    # Explicit GROUPING SETS — the non-hierarchical cousin of the
    # registered CUBE/ROLLUP: per-region totals and per-priority totals
    # in ONE Expand + shuffle (two independent reports from one scan, no
    # self-union). Driven through spark.sql over registered views, so
    # this row also exercises the SQL entry point.
    """
    SELECT coalesce(r.r_name, 'ALL') AS region,
           coalesce(o.o_orderpriority, 'ALL') AS priority,
           count(*) AS n
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY GROUPING SETS ((r.r_name), (o.o_orderpriority))
    """,
)
def agg_grouping_sets_explicit(spark, sf_dir):
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT coalesce(r.r_name, 'ALL') AS region,
               coalesce(o.o_orderpriority, 'ALL') AS priority,
               count(*) AS n
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY GROUPING SETS ((r.r_name), (o.o_orderpriority))
        """
    )


@register(
    "agg_cms_heavy_hitters",
    # Count-min sketch frequency estimation (operators/sketches.py) —
    # the mergeable-sketch companion to agg_hll_sketch_merge: a 4×64
    # counter grid built over the corpus word stream (shuffle is the
    # CONSTANT grid, not the vocabulary), point-estimated for the top-20
    # exact heavy hitters. Hashing is md5-positional, so this oracle
    # replays the EXACT grid and the driver hash covers the estimates
    # themselves — plus the Cormode–Muthukrishnan guarantee (estimates
    # never underestimate) as an always-TRUE boolean.
    """
    WITH w AS (
      SELECT unnest(list_filter(string_split(text, ' '),
                                x -> length(x) > 0)) AS word
      FROM documents
    ),
    wc AS (SELECT word, count(*) AS n FROM w GROUP BY word),
    cand AS (
      SELECT word, n FROM wc
      QUALIFY row_number() OVER (ORDER BY n DESC, word) <= 20
    ),
    rs AS (SELECT unnest(range(4)) AS r),
    cells AS (
      SELECT r,
             CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || word), 1, 8))
                  AS BIGINT) % 64 AS c,
             count(*) AS cnt
      FROM w CROSS JOIN rs GROUP BY r, c
    ),
    est AS (
      SELECT cand.word, cand.n, min(cells.cnt) AS cms_est
      FROM cand CROSS JOIN rs
      JOIN cells ON cells.r = rs.r
       AND cells.c = CAST(('0x' || substr(md5(CAST(rs.r AS VARCHAR) || ':' || cand.word), 1, 8))
                          AS BIGINT) % 64
      GROUP BY cand.word, cand.n
    )
    SELECT word, CAST(n AS BIGINT) AS exact_n,
           CAST(cms_est AS BIGINT) AS cms_est,
           cms_est >= n AS never_underestimates
    FROM est
    """,
)
def agg_cms_heavy_hitters(spark, sf_dir):
    from ..operators.sketches import cms_point_estimates, cms_sketch

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        F.explode(
            F.filter(F.split("text", " "), lambda x: F.length(x) > 0)
        ).alias("word")
    )
    # materialize once for the three consumers (sketch build, exact
    # heavy-hitter scan, probe join), same reuse pattern as
    # agg_hll_sketch_merge's per-type sketches
    w = spread(w).localCheckpoint(eager=True)
    sketch = cms_sketch(w, "word", depth=4, width=64)
    cand = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("word"))
        .limit(20)
    )
    est = cms_point_estimates(sketch, cand.select("word"), "word", depth=4, width=64)
    return cand.join(est, "word").select(
        "word",
        F.col("exact_n").cast("long").alias("exact_n"),
        "cms_est",
        (F.col("cms_est") >= F.col("exact_n")).alias("never_underestimates"),
    )


@register(
    "profile_table_columns",
    # Single-pass column profiler (data-quality summary, Deequ-style;
    # beyond-reference — the reference eyeballs inputs with pandas
    # describe/value_counts, QC_Functions.py tally helpers). One scan,
    # every statistic; wide→long reshape happens on the one-row
    # aggregate. Oracle is a per-column UNION ALL replay. Numeric stats
    # are printf('%.6f') STRINGS on both sides: a column that is float
    # in numeric-column rows and NULL in string-column rows would break
    # the harness's mixed-type row sort, so the gate compares a single
    # deterministic text rendering instead.
    """
    SELECT 'o_custkey' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(o_custkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           printf('%.6f', round(CAST(min(o_custkey) AS DOUBLE), 6)) AS min_num,
           printf('%.6f', round(CAST(max(o_custkey) AS DOUBLE), 6)) AS max_num,
           printf('%.6f', round(avg(o_custkey), 6)) AS avg_num,
           CAST(NULL AS VARCHAR) AS min_str,
           CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           printf('%.6f', round(CAST(min(o_totalprice) AS DOUBLE), 6)),
           printf('%.6f', round(CAST(max(o_totalprice) AS DOUBLE), 6)),
           printf('%.6f', round(avg(o_totalprice), 6)),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    """,
)
def profile_table_columns(spark, sf_dir):
    from ..operators.profiling import profile_columns

    orders = load_table(spark, sf_dir, "orders")
    prof = profile_columns(
        orders,
        numeric_cols=["o_custkey", "o_totalprice"],
        string_cols=["o_orderstatus", "o_orderpriority"],
    )

    def _fmt(c):
        # format_string renders a NULL arg as the string 'null' — guard
        # so string-column rows stay true NULLs like the oracle's
        return F.when(
            F.col(c).isNotNull(), F.format_string("%.6f", F.col(c))
        ).alias(c)

    return prof.select(
        "col_name", "n_rows", "n_nulls", "n_distinct",
        _fmt("min_num"), _fmt("max_num"), _fmt("avg_num"),
        "min_str", "max_str",
    )


@register(
    "profile_numeric_drift",
    # PSI distribution-drift monitor (beyond-reference data-quality op):
    # events.value binned into 10 equal-width bins from the global
    # min/max, compared between two deterministic md5-parity cohorts
    # (first 8 md5 hex of event_id vs '80000000' — the hex_uniform
    # split, replayable bit-for-bit in DuckDB). Laplace-smoothed shares
    # so one-sided bins stay finite; the bin arithmetic is written
    # token-for-token identically on both engines.
    """
    WITH base AS (
      SELECT CAST(value AS DOUBLE) AS v,
             CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
                       < '80000000' THEN 0 ELSE 1 END AS grp
      FROM events WHERE value IS NOT NULL
    ),
    b AS (SELECT min(v) AS lo, max(v) AS hi FROM base),
    binned AS (
      SELECT CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                  ELSE least(CAST(floor((v - lo) / ((hi - lo) / 10.0)) AS BIGINT),
                             CAST(9 AS BIGINT)) END AS bin,
             grp
      FROM base, b
    ),
    counts AS (
      SELECT bin,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
                   CAST(sum(n_b) AS BIGINT) AS tb FROM counts)
    SELECT bin, n_a, n_b,
           round((n_a + 0.5) / (ta + 5.0), 6) AS share_a,
           round((n_b + 0.5) / (tb + 5.0), 6) AS share_b,
           round(((n_a + 0.5) / (ta + 5.0) - (n_b + 0.5) / (tb + 5.0))
                 * ln(((n_a + 0.5) / (ta + 5.0)) / ((n_b + 0.5) / (tb + 5.0))), 6)
             AS psi_term
    FROM counts, tot
    """,
)
def profile_numeric_drift(spark, sf_dir):
    from ..operators.profiling import numeric_drift
    from ..operators.training import hex_uniform

    events = load_table(spark, sf_dir, "events")
    cohorts = events.withColumn(
        "grp",
        F.when(hex_uniform(F.col("event_id")) < F.lit("80000000"), 0).otherwise(1),
    )
    return numeric_drift(cohorts, "value", "grp", n_bins=10, smoothing=0.5)


_KMV_K = 64
_KMV_U32 = "CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT)"
_KMV_SCALE = float((_KMV_K - 1) * 2**32)


def _kmv_est(n: str, kth: str) -> str:
    return (
        f"CASE WHEN {n} < {_KMV_K} THEN CAST({n} AS DOUBLE) "
        f"ELSE {_KMV_SCALE!r} / ({kth} + 1.0) END"
    )


@register(
    "agg_kmv_set_ops",
    # KMV distinct-value synopsis with SET OPERATIONS (Beyer et al.
    # 2007; operators/sketches.py:kmv_set_estimates) — the mergeable
    # sketch that composes under union/intersection, completing the
    # sketch family beside count-min (frequency) and HLL (distinct).
    # Sets: urgent-order vs high-order customers. The oracle replays the
    # md5-u32 hashing, both k-min sketches, the union sketch, and every
    # estimator — value-hash parity on the ESTIMATES, not a bounded
    # -error contract.
    f"""
    WITH ha AS (
      SELECT DISTINCT {_KMV_U32} AS hv
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    hb AS (
      SELECT DISTINCT {_KMV_U32} AS hv
      FROM orders WHERE o_orderpriority = '2-HIGH'
    ),
    sa AS (SELECT hv FROM ha ORDER BY hv LIMIT {_KMV_K}),
    sb AS (SELECT hv FROM hb ORDER BY hv LIMIT {_KMV_K}),
    m AS (
      SELECT DISTINCT hv FROM (
        SELECT hv FROM sa UNION ALL SELECT hv FROM sb)
      ORDER BY hv LIMIT {_KMV_K}
    ),
    st AS (
      SELECT (SELECT count(*) FROM sa) AS n_a,
             (SELECT max(hv) FROM sa) AS kth_a,
             (SELECT count(*) FROM sb) AS n_b,
             (SELECT max(hv) FROM sb) AS kth_b,
             (SELECT count(*) FROM m) AS n_union,
             (SELECT max(hv) FROM m) AS kth_u,
             (SELECT count(*) FROM m
              WHERE hv IN (SELECT hv FROM sa)
                AND hv IN (SELECT hv FROM sb)) AS n_both
    )
    SELECT CAST({_KMV_K} AS BIGINT) AS k,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_union AS BIGINT) AS n_union,
           CAST(n_both AS BIGINT) AS n_both,
           round({_kmv_est('n_a', 'kth_a')}, 6) AS est_a,
           round({_kmv_est('n_b', 'kth_b')}, 6) AS est_b,
           round({_kmv_est('n_union', 'kth_u')}, 6) AS est_union,
           round(n_both * 1.0 / n_union, 6) AS jaccard,
           round((n_both * 1.0 / n_union) * ({_kmv_est('n_union', 'kth_u')}), 6)
             AS est_intersection
    FROM st
    """,
)
def agg_kmv_set_ops(spark, sf_dir):
    from ..operators.sketches import kmv_set_estimates

    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return kmv_set_estimates(a, b, "o_custkey", k=_KMV_K)


_DP_EPS = 1.0
_DP_U32 = (
    "CAST(('0x' || substr(md5('dp:' || event_type), 1, 8)) AS BIGINT)"
)


@register(
    "agg_dp_noisy_counts",
    # Differentially-private count release — the Laplace mechanism
    # (Dwork et al. 2006) every privacy-preserving stats pipeline ships:
    # per-group count + Lap(sensitivity/epsilon) noise, sampled by
    # inverse CDF from a uniform draw. The draw here is the
    # DETERMINISTIC md5-u32 lattice (u = (h + 0.5)/2^32), so the oracle
    # replays the exact noise — which also means this gates the
    # MECHANISM'S ARITHMETIC (inverse-CDF transform, sensitivity
    # scaling), not a privacy guarantee: a deterministic seed is not
    # private, and production swaps the hash for a secure RNG (the
    # langid-accuracy honesty convention). Scale: one grouped count +
    # map-side noise over the group keys.
    f"""
    WITH g AS (
      SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ),
    u AS (
      SELECT event_type, n,
             ({_DP_U32} + 0.5) / 4294967296.0 - 0.5 AS c
      FROM g
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(-(1.0 / {_DP_EPS!r}) * sign(c) * ln(1 - 2 * abs(c)), 6)
             AS noise,
           round(n + (-(1.0 / {_DP_EPS!r}) * sign(c) * ln(1 - 2 * abs(c))), 6)
             AS noisy_count,
           CAST({_DP_EPS!r} AS DOUBLE) AS epsilon
    FROM u
    """,
)
def agg_dp_noisy_counts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dp:"), F.col("event_type"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    c = (h + F.lit(0.5)) / F.lit(4294967296.0) - F.lit(0.5)
    noise = (
        -(F.lit(1.0) / F.lit(_DP_EPS))
        * F.signum(c)
        * F.log(F.lit(1) - F.lit(2) * F.abs(c))
    )
    return g.select(
        "event_type",
        "n",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("n") + noise, 6).alias("noisy_count"),
        F.lit(_DP_EPS).alias("epsilon"),
    )


_TT_A = "click"
_TT_B = "purchase"


@register(
    "agg_ab_ttest",
    # Welch's two-sample t-test (the A/B experiment readout every
    # analytics engine ships): per-variant n / mean / sample variance of
    # `value`, the Welch t statistic, and the Welch–Satterthwaite df.
    # PARITY: moments come from 1e-6-lattice BIGINT sums (Σv and Σv² as
    # half-up-rounded integers — the window_time_decay_sum technique),
    # so the sums are order-independent and every downstream double
    # (mean, variance, t, df) is computed from identical integers by an
    # identical expression tree. ONE conditional-aggregation scan, no
    # join between variants.
    f"""
    WITH s AS (
      SELECT
        sum(CASE WHEN event_type = '{_TT_A}' THEN 1 ELSE 0 END) AS na,
        sum(CASE WHEN event_type = '{_TT_B}' THEN 1 ELSE 0 END) AS nb,
        sum(CASE WHEN event_type = '{_TT_A}'
             THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
             ELSE 0 END) AS sa,
        sum(CASE WHEN event_type = '{_TT_B}'
             THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
             ELSE 0 END) AS sb,
        sum(CASE WHEN event_type = '{_TT_A}'
             THEN CAST(floor(value * value * 1000000.0 + 0.5) AS BIGINT)
             ELSE 0 END) AS qa,
        sum(CASE WHEN event_type = '{_TT_B}'
             THEN CAST(floor(value * value * 1000000.0 + 0.5) AS BIGINT)
             ELSE 0 END) AS qb
      FROM events
    ),
    m AS (
      SELECT na, nb,
             (sa / 1000000.0) / na AS ma, (sb / 1000000.0) / nb AS mb,
             ((qa / 1000000.0) - na * ((sa / 1000000.0) / na)
                                    * ((sa / 1000000.0) / na)) / (na - 1) AS va,
             ((qb / 1000000.0) - nb * ((sb / 1000000.0) / nb)
                                    * ((sb / 1000000.0) / nb)) / (nb - 1) AS vb
      FROM s
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
           round(va, 6) AS var_a, round(vb, 6) AS var_b,
           round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
           round(((va / na + vb / nb) * (va / na + vb / nb))
                 / ((va / na) * (va / na) / (na - 1)
                    + (vb / nb) * (vb / nb) / (nb - 1)), 6) AS welch_df,
           abs((ma - mb) / sqrt(va / na + vb / nb)) > 1.96 AS significant_05
    FROM m
    """,
)
def agg_ab_ttest(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    lat = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    va, vb = F.col("event_type") == _TT_A, F.col("event_type") == _TT_B
    z = F.lit(0).cast("long")
    s = ev.agg(
        F.sum(F.when(va, 1).otherwise(0)).alias("na"),
        F.sum(F.when(vb, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(va, lat(F.col("value"))).otherwise(z)).alias("sa"),
        F.sum(F.when(vb, lat(F.col("value"))).otherwise(z)).alias("sb"),
        F.sum(
            F.when(va, lat(F.col("value") * F.col("value"))).otherwise(z)
        ).alias("qa"),
        F.sum(
            F.when(vb, lat(F.col("value") * F.col("value"))).otherwise(z)
        ).alias("qb"),
    )
    ma = (F.col("sa") / F.lit(1000000.0)) / F.col("na")
    mb = (F.col("sb") / F.lit(1000000.0)) / F.col("nb")
    vva = ((F.col("qa") / F.lit(1000000.0)) - F.col("na") * ma * ma) / (
        F.col("na") - 1
    )
    vvb = ((F.col("qb") / F.lit(1000000.0)) - F.col("nb") * mb * mb) / (
        F.col("nb") - 1
    )
    m = s.select("na", "nb", ma.alias("ma"), mb.alias("mb"), vva.alias("va"), vvb.alias("vb"))
    t = (F.col("ma") - F.col("mb")) / F.sqrt(
        F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    dfree = (se2 * se2) / (
        (F.col("va") / F.col("na")) * (F.col("va") / F.col("na")) / (F.col("na") - 1)
        + (F.col("vb") / F.col("nb")) * (F.col("vb") / F.col("nb")) / (F.col("nb") - 1)
    )
    return m.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("ma"), 6).alias("mean_a"),
        F.round(F.col("mb"), 6).alias("mean_b"),
        F.round(F.col("va"), 6).alias("var_a"),
        F.round(F.col("vb"), 6).alias("var_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dfree, 6).alias("welch_df"),
        (F.abs(t) > F.lit(1.96)).alias("significant_05"),
    )


_AR_MINSUP = 2
_AR_K = 100


@register(
    "agg_association_rules",
    # Market-basket association rules (Agrawal & Srikant 1994 A-priori):
    # orders are baskets, high-quantity lineitems are items; emit rules
    # u→v with support / confidence / lift, top-k by (lift desc,
    # antecedent, consequent). The A-PRIORI PROPERTY does the pruning:
    # items below min-support are removed BEFORE pair generation (a
    # pair's support is bounded by its rarest item), so the quadratic
    # per-basket pair explosion runs only over frequent items — the
    # first-pass candidate pruning every frequent-itemset miner at scale
    # relies on. Ratios are integer-input fixed expression trees.
    # (Synthetic baskets are near-random, so pair supports top out at ~2
    # and min-support is tuned to 2 to keep the gated rule set non-empty
    # at every test scale — the gate is the pruning + stats pipeline,
    # not a claim of interesting rules in random data.)
    f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_quantity >= 25
    ),
    nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM li),
    ic AS (
      SELECT l_partkey, count(*) AS c FROM li GROUP BY l_partkey
      HAVING count(*) >= {_AR_MINSUP}
    ),
    fi AS (
      SELECT li.l_orderkey, li.l_partkey FROM li
      JOIN ic ON li.l_partkey = ic.l_partkey
    ),
    pc AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS cuv
      FROM fi a JOIN fi b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= {_AR_MINSUP}
    ),
    rules AS (
      SELECT u AS antecedent, v AS consequent, cuv FROM pc
      UNION ALL
      SELECT v, u, cuv FROM pc
    )
    SELECT antecedent, consequent, CAST(cuv AS BIGINT) AS n_both,
           round(cuv * 1.0 / nb.n, 6) AS support,
           round(cuv * 1.0 / ca.c, 6) AS confidence,
           round((cuv * 1.0 / ca.c) / (cc.c * 1.0 / nb.n), 6) AS lift
    FROM rules
    JOIN ic ca ON rules.antecedent = ca.l_partkey
    JOIN ic cc ON rules.consequent = cc.l_partkey
    CROSS JOIN nb
    ORDER BY lift DESC, antecedent, consequent LIMIT {_AR_K}
    """,
)
def agg_association_rules(spark, sf_dir):
    """Scale shape: one distinct-basket scan; frequent-item table joined
    back (merge-hinted both sides — post-aggregation estimates); the
    pair self-join is per-basket bounded and runs over FREQUENT items
    only; rule stats join the ≤items-sized count table (merge-hinted)
    and broadcast the 1-row basket total; top-k is a heap."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 25)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    nb = li.select("l_orderkey").distinct().agg(F.count(F.lit(1)).alias("n"))
    ic = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _AR_MINSUP)
    )
    fi = li.join(ic.select("l_partkey").hint("merge"), "l_partkey")
    a = fi.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = fi.select("l_orderkey", F.col("l_partkey").alias("v"))
    pc = (
        a.join(b.hint("merge"), "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cuv"))
        .filter(F.col("cuv") >= _AR_MINSUP)
    )
    rules = pc.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "cuv"
    ).unionByName(
        pc.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"), "cuv"
        )
    )
    ca = ic.select(F.col("l_partkey").alias("antecedent"), F.col("c").alias("ca"))
    cc = ic.select(F.col("l_partkey").alias("consequent"), F.col("c").alias("cc"))
    return (
        rules.join(ca.hint("merge"), "antecedent")
        .join(cc.hint("merge"), "consequent")
        .crossJoin(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            F.col("cuv").alias("n_both"),
            F.round(F.col("cuv") / F.col("n"), 6).alias("support"),
            F.round(F.col("cuv") / F.col("ca"), 6).alias("confidence"),
            F.round(
                (F.col("cuv") / F.col("ca")) / (F.col("cc") / F.col("n")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(_AR_K)
    )


@register(
    "agg_gini_concentration",
    # Gini coefficient of per-customer revenue (the inequality /
    # concentration KPI; r8): G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) with
    # ranks under the (revenue, custkey) total order. Revenue goes onto
    # an exact INTEGER cents lattice before the rank sums, so both Σ are
    # order-independent integers and the only float op is the final
    # division — deterministic by construction. The global rank is the
    # scale-safe bucketed block-prefix rank (operators/topk.py:
    # global_rank), never an unpartitioned window.
    """
    WITH rev AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY o_custkey
    ),
    cents AS (
      SELECT o_custkey, CAST(round(revenue * 100) AS BIGINT) AS xc,
             revenue
      FROM rev
    ),
    ranked AS (
      SELECT xc, row_number() OVER (ORDER BY revenue, o_custkey) AS rank
      FROM cents
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(xc) AS BIGINT) AS total_cents,
             CAST(sum(rank * xc) AS BIGINT) AS rank_weighted
      FROM ranked
    )
    SELECT n_customers, total_cents,
           round((2.0 * rank_weighted - (n_customers + 1) * total_cents)
                 / (n_customers * total_cents), 6) AS gini
    FROM s
    """,
)
def agg_gini_concentration(spark, sf_dir):
    from ..operators.topk import global_rank

    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .withColumn(
            "xc", F.round(F.col("revenue") * 100, 0).cast("long")
        )
    )
    ranked = global_rank(rev, "revenue", "o_custkey")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("xc").alias("total_cents"),
        F.sum(F.col("rank") * F.col("xc")).alias("rank_weighted"),
    )
    return s.select(
        "n_customers",
        "total_cents",
        F.round(
            (2.0 * F.col("rank_weighted")
             - (F.col("n_customers") + 1) * F.col("total_cents"))
            / (F.col("n_customers") * F.col("total_cents")),
            6,
        ).alias("gini"),
    )


@register(
    "agg_log2_histogram",
    # Log₂-bucketed value histogram (the HDR-histogram / latency-bucket
    # shape; r8): bucket = number of binary digits of floor(price) —
    # integer-exact on both engines via the binary-string length, no
    # float log anywhere (floor(log2(x)) via ln() drifts at exact powers
    # of two). One grouped pass, map-side partials.
    """
    SELECT CAST(length(bin(CAST(floor(o_totalprice) AS BIGINT))) AS BIGINT)
             AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM orders
    GROUP BY 1
    """,
)
def agg_log2_histogram(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    bucket = F.length(F.bin(F.floor("o_totalprice").cast("long"))).cast("long")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@register(
    "agg_user_entropy",
    # Per-user behavioral entropy (Shannon H over the user's event-type
    # shares — the engagement-diversity feature; r8): counts are
    # integers, the ≤5-term float sum is rounded 6 (registry
    # convention). Both grouped passes have map-side partials; the
    # count↔total join is per-user equi (both sides corpus-growing —
    # merge-hinted, r6 rule).
    """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT user_id, sum(n) AS tot, count(*) AS k FROM c GROUP BY 1)
    SELECT c.user_id,
           CAST(max(t.k) AS BIGINT) AS n_types,
           round(-sum((c.n * 1.0 / t.tot) * ln(c.n * 1.0 / t.tot)), 6)
             AS entropy
    FROM c JOIN t USING (user_id)
    GROUP BY c.user_id
    """,
)
def agg_user_entropy(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_id").agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("k")
    )
    p = F.col("n") * 1.0 / F.col("tot")
    return (
        c.join(t.hint("merge"), "user_id")
        .groupBy("user_id")
        .agg(
            F.max("k").cast("long").alias("n_types"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
    )


# Poisson(1) CDF x 256, the byte thresholds for the deterministic
# bootstrap weight draw: P(0)=.36788 -> 94, P(<=1)=.73576 -> 188,
# P(<=2)=.91970 -> 235, P(<=3)=.98101 -> 251, else w=4.
_BOOT_B = 50
_BOOT_W_SQL = (
    "CASE WHEN byte < 94 THEN 0 WHEN byte < 188 THEN 1 "
    "WHEN byte < 235 THEN 2 WHEN byte < 251 THEN 3 ELSE 4 END"
)


@register(
    "agg_poisson_bootstrap_ci",
    # Deterministic Poisson bootstrap CI of the mean event value (r9 —
    # THE scale-out bootstrap: per-row independent Poisson(1) weights
    # need no resampling pass, so one exploded scan computes every
    # replica; Chamandy et al., Google 2012). Weights come from a
    # PORTABLE hash draw — two md5(event_id|replica) hex digits -> a
    # byte against the Poisson CDF thresholds (the stratified-sample
    # convention) — values ride the 1e-6 BIGINT lattice, each replica
    # mean is one 6dp quotient, and the CI is the exact 2nd/49th order
    # statistic of the 50 replica means (B-sized window, a constant).
    f"""
    WITH v AS (
      SELECT event_id,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vu
      FROM events
    ),
    rep AS (
      SELECT b, event_id, vu,
             ((strpos('0123456789abcdef',
                      substr(md5(CAST(event_id AS VARCHAR) || '|'
                                 || CAST(b AS VARCHAR)), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef',
                        substr(md5(CAST(event_id AS VARCHAR) || '|'
                                   || CAST(b AS VARCHAR)), 2, 1)) - 1))
               AS byte
      FROM v, LATERAL unnest(range(0, {_BOOT_B})) t(b)
    ),
    means AS (
      SELECT b,
             round(CAST(sum(w * vu) AS DOUBLE) / 1000000.0 / sum(w), 6)
               AS mean_b
      FROM (SELECT b, vu, {_BOOT_W_SQL} AS w FROM rep)
      GROUP BY b
    ),
    ranked AS (
      SELECT mean_b,
             row_number() OVER (ORDER BY mean_b, b) AS rn
      FROM means
    ),
    pt AS (
      SELECT round(CAST(sum(vu) AS DOUBLE) / 1000000.0 / count(*), 6)
               AS mean_point
      FROM v
    )
    SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicas, pt.mean_point,
           lo.mean_b AS ci_lo, hi.mean_b AS ci_hi
    FROM pt,
         (SELECT mean_b FROM ranked WHERE rn = 2) lo,
         (SELECT mean_b FROM ranked WHERE rn = {_BOOT_B - 1}) hi
    """,
)
def agg_poisson_bootstrap_ci(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("long").alias("vu"),
    )
    rep = spread(ev).withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1)))
    )
    h = F.md5(
        F.concat(
            F.col("event_id").cast("string"),
            F.lit("|"),
            F.col("b").cast("string"),
        )
    )
    hx = "0123456789abcdef"
    byte = (F.instr(F.lit(hx), F.substring(h, 1, 1)) - 1) * 16 + (
        F.instr(F.lit(hx), F.substring(h, 2, 1)) - 1
    )
    w = (
        F.when(byte < 94, 0)
        .when(byte < 188, 1)
        .when(byte < 235, 2)
        .when(byte < 251, 3)
        .otherwise(4)
    )
    means = (
        rep.select("b", "vu", w.alias("w"))
        .groupBy("b")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("vu")).cast("double")
                / 1000000.0
                / F.sum("w"),
                6,
            ).alias("mean_b")
        )
    )
    ranked = means.select(
        "mean_b",
        F.row_number()
        .over(Window.orderBy(F.asc("mean_b"), F.asc("b")))
        .alias("rn"),
    )
    lo = ranked.filter(F.col("rn") == 2).select(
        F.col("mean_b").alias("ci_lo")
    )
    hi = ranked.filter(F.col("rn") == _BOOT_B - 1).select(
        F.col("mean_b").alias("ci_hi")
    )
    pt = ev.agg(
        F.round(
            F.sum("vu").cast("double") / 1000000.0 / F.count(F.lit(1)), 6
        ).alias("mean_point")
    )
    return (
        pt.withColumn("n_replicas", F.lit(_BOOT_B).cast("long"))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select("n_replicas", "mean_point", "ci_lo", "ci_hi")
    )




# Shared by profile_psi_drift and its streaming twin
# (queries/advanced.py streaming_psi_hash): both must reproduce this
# exact PSI table.
_PSI_ORACLE = """
    WITH ref AS (SELECT value FROM events WHERE ts < TIMESTAMP '2024-01-16'),
    cuts AS (
      SELECT round(quantile_cont(value, 0.1), 6) AS c1, round(quantile_cont(value, 0.2), 6) AS c2, round(quantile_cont(value, 0.3), 6) AS c3, round(quantile_cont(value, 0.4), 6) AS c4, round(quantile_cont(value, 0.5), 6) AS c5, round(quantile_cont(value, 0.6), 6) AS c6, round(quantile_cont(value, 0.7), 6) AS c7, round(quantile_cont(value, 0.8), 6) AS c8, round(quantile_cont(value, 0.9), 6) AS c9
      FROM ref
    ),
    tagged AS (
      SELECT CAST(CASE WHEN round(e.value, 6) > cuts.c1 THEN 1 ELSE 0 END + CASE WHEN round(e.value, 6) > cuts.c2 THEN 1 ELSE 0 END + CASE WHEN round(e.value, 6) > cuts.c3 THEN 1 ELSE 0 END + CASE WHEN round(e.value, 6) > cuts.c4 THEN 1 ELSE 0 END + CASE WHEN round(e.value, 6) > cuts.c5 THEN 1 ELSE 0 END + CASE WHEN round(e.value, 6) > cuts.c6 THEN 1 ELSE 0 END + CASE WHEN round(e.value, 6) > cuts.c7 THEN 1 ELSE 0 END + CASE WHEN round(e.value, 6) > cuts.c8 THEN 1 ELSE 0 END + CASE WHEN round(e.value, 6) > cuts.c9 THEN 1 ELSE 0 END AS BIGINT) AS bucket,
             CASE WHEN e.ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
               AS is_ref
      FROM events e CROSS JOIN cuts
    ),
    counts AS (
      SELECT bucket,
             CAST(sum(is_ref) AS BIGINT) AS n_ref,
             CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
      FROM tagged GROUP BY bucket
    ),
    shares AS (
      SELECT bucket, n_ref, n_cur,
             round(CAST(n_ref + 1 AS DOUBLE)
                   / (sum(n_ref) OVER () + 10), 6) AS pa,
             round(CAST(n_cur + 1 AS DOUBLE)
                   / (sum(n_cur) OVER () + 10), 6) AS pb
      FROM counts
    ),
    terms AS (
      SELECT bucket, n_ref, n_cur,
             round((pb - pa) * ln(pb / pa), 6) AS psi_term
      FROM shares
    )
    SELECT bucket, n_ref, n_cur, psi_term,
           round(sum(psi_term) OVER (), 6) AS psi_total
    FROM terms
    """


@register(
    "profile_psi_drift",
    # Population Stability Index drift monitor (r9 — THE production
    # feature-drift metric): decile cut points from the REFERENCE
    # window (first 15 days, exact interpolated percentiles — the
    # agg_exact_percentiles parity pair — rounded 6), add-one-smoothed
    # shares over the 10 buckets on both windows, per-bucket
    # contribution (pB − pA)·ln(pB/pA) with EXPLICIT ln, shares rounded
    # 6 BEFORE the ln so both engines take the log of the identical
    # double. The 1-row cut vector broadcasts; counts are one grouped
    # pass; the psi total is a constant-10-row window.
    _PSI_ORACLE,
)
def profile_psi_drift(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "value",
        (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
        .cast("int")
        .alias("is_ref"),
    )
    ref = ev.filter(F.col("is_ref") == 1)
    cuts = ref.agg(
        *[
            F.round(F.percentile("value", F.lit(x / 10.0)), 6).alias(f"c{x}")
            for x in range(1, 10)
        ]
    )
    bucket = sum(
        (F.round(F.col("value"), 6) > F.col(f"c{x}")).cast("int")
        for x in range(1, 10)
    ).cast("long")
    counts = (
        ev.crossJoin(F.broadcast(cuts))
        .select(bucket.alias("bucket"), "is_ref")
        .groupBy("bucket")
        .agg(
            F.sum("is_ref").alias("n_ref"),
            F.sum(1 - F.col("is_ref")).alias("n_cur"),
        )
    )
    wall = Window.partitionBy()
    pa = F.round(
        (F.col("n_ref") + 1).cast("double")
        / (F.sum("n_ref").over(wall) + 10),
        6,
    )
    pb = F.round(
        (F.col("n_cur") + 1).cast("double")
        / (F.sum("n_cur").over(wall) + 10),
        6,
    )
    terms = counts.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round((pb - pa) * F.log(pb / pa), 6).alias("psi_term"),
    )
    return terms.select(
        "bucket",
        "n_ref",
        "n_cur",
        "psi_term",
        F.round(F.sum("psi_term").over(wall), 6).alias("psi_total"),
    )


@register(
    "agg_mann_whitney",
    # Mann–Whitney rank-sum test (r9 — the nonparametric A/B twin of
    # agg_ab_ttest): 'click' vs 'purchase' event values. Everything is
    # INTEGER-exact: values land on the 6dp lattice, per-value midranks
    # come from min/max of the exact global rank under (value,
    # event_id) — 2·midrank = min + max, so no halves — and the
    # statistics are reported DOUBLED (u1_x2 = 2·R1 − n1(n1+1)) to stay
    # on integers; u1_x2 + u2_x2 = 2·n1·n2 is the built-in invariant.
    # Scale: the Spark side ranks with operators/topk.py:global_rank
    # (bucketed block-prefix — never a single-partition window; the
    # oracle's plain row_number is the same total order).
    """
    WITH pooled AS (
      SELECT event_id, round(value, 6) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    ranked AS (
      SELECT v, g1,
             row_number() OVER (ORDER BY v, event_id) AS rank
      FROM pooled
    ),
    pervalue AS (
      SELECT v, min(rank) AS lo, max(rank) AS hi,
             sum(g1) AS n1v, sum(1 - g1) AS n2v
      FROM ranked GROUP BY v
    ),
    tot AS (
      SELECT CAST(sum(n1v) AS BIGINT) AS n1, CAST(sum(n2v) AS BIGINT) AS n2,
             CAST(sum(n1v * (lo + hi)) AS BIGINT) AS r1_x2,
             CAST(sum(n2v * (lo + hi)) AS BIGINT) AS r2_x2
      FROM pervalue
    )
    SELECT n1, n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(r2_x2 - n2 * (n2 + 1) AS BIGINT) AS u2_x2
    FROM tot
    """,
)
def agg_mann_whitney(spark, sf_dir):
    from ..operators.topk import global_rank

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            F.round("value", 6).alias("v"),
            (F.col("event_type") == "click").cast("int").alias("g1"),
        )
    )
    ranked = global_rank(ev, "v", "event_id")
    pervalue = ranked.groupBy("v").agg(
        F.min("rank").alias("lo"),
        F.max("rank").alias("hi"),
        F.sum("g1").alias("n1v"),
        F.sum(1 - F.col("g1")).alias("n2v"),
    )
    tot = pervalue.agg(
        F.sum("n1v").alias("n1"),
        F.sum("n2v").alias("n2"),
        F.sum(F.col("n1v") * (F.col("lo") + F.col("hi"))).alias("r1_x2"),
        F.sum(F.col("n2v") * (F.col("lo") + F.col("hi"))).alias("r2_x2"),
    )
    return tot.select(
        "n1",
        "n2",
        (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)).alias("u1_x2"),
        (F.col("r2_x2") - F.col("n2") * (F.col("n2") + 1)).alias("u2_x2"),
    )


# Benford expected first-digit fractions log10(1 + 1/d), computed ONCE
# in Python and injected as the SAME shortest-round-trip literal into
# both engines (repr(float) → both parsers land on the identical
# double; neither engine ever evaluates log10 itself).
_BENFORD_P = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}
_BENFORD_VALUES_SQL = ", ".join(
    f"({d}, {p!r})" for d, p in _BENFORD_P.items()
)


@register(
    "agg_benford_digit_test",
    # Benford first-significant-digit audit over l_extendedprice — the
    # classic fabricated-data / ingestion-corruption screen a data-
    # quality pipeline runs on monetary columns. First digit is
    # extracted EXACTLY: prices are 2-decimal values stored as DOUBLE,
    # so floor(x·100 + 0.5) recovers integer cents bit-identically in
    # both engines, and the leading digit of the cents BIGINT equals
    # the first significant digit for any positive 2-decimal price.
    # (No log10() in-engine — its ulp error flips the digit exactly at
    # powers of ten.) chi² terms use identical expression trees on
    # shared literals; per-digit rows only (no cross-row float total,
    # which would re-introduce sum-order drift).
    f"""
    WITH cents AS (
      SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c
      FROM lineitem WHERE l_extendedprice > 0
    ),
    obs AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit,
             CAST(count(*) AS BIGINT) AS observed
      FROM cents GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM obs),
    exp AS (
      -- CAST: DuckDB types the literal as DECIMAL(17,17), which both
      -- strings the output column and risks a non-round-trip re-quant
      -- (the recorded anchor-literal trap).
      SELECT digit, CAST(p AS DOUBLE) AS p
      FROM (VALUES {_BENFORD_VALUES_SQL}) AS t(digit, p)
    )
    SELECT e.digit, coalesce(o.observed, 0) AS observed, t.n,
           round(t.n * e.p, 6) AS expected,
           round((CAST(coalesce(o.observed, 0) AS DOUBLE) - t.n * e.p)
                 * (CAST(coalesce(o.observed, 0) AS DOUBLE) - t.n * e.p)
                 / (t.n * e.p), 6) AS chi2_term
    FROM exp e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot t
    """,
)
def agg_benford_digit_test(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.filter(F.col("l_extendedprice") > 0).select(
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("long")
        .alias("c")
    )
    obs = cents.groupBy(
        F.substring(F.col("c").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    ).agg(F.count(F.lit(1)).alias("observed"))
    tot = obs.agg(F.sum("observed").alias("n"))
    exp = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_P.items()], "digit int, p double"
    )
    o = (
        exp.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("observed"), F.lit(0)).alias("observed"),
            "n",
            F.col("p"),
        )
    )
    dev = F.col("observed").cast("double") - F.col("n") * F.col("p")
    return o.select(
        "digit",
        "observed",
        "n",
        F.round(F.col("n") * F.col("p"), 6).alias("expected"),
        F.round(dev * dev / (F.col("n") * F.col("p")), 6).alias(
            "chi2_term"
        ),
    )


@register(
    "profile_expectation_audit",
    # Expectation-suite validation report over lineitem — the
    # Great-Expectations-style contract audit a training-data pipeline
    # runs per ingest batch (companions: profile_table_columns for the
    # shape summary, filter_quality_tally for row-level rejects).
    # Row-level expectations compute in ONE scan as conditional sums
    # (map-side partial aggregation, no shuffle beyond the single-row
    # combine); the primary-key uniqueness check is a SEPARATE
    # aggregate (the r7 rule: never drag a distinct-Expand rewrite
    # through an agg that carries other buffers) cross-joined at one
    # row. violation_rate divides two BIGINTs once — deterministic.
    """
    WITH row_checks AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
        CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
        CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
                 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
        CAST(sum(CASE WHEN l_tax < 0.0 OR l_tax > 0.08
                 THEN 1 ELSE 0 END) AS BIGINT) AS v_tax,
        CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS v_ship,
        CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                 THEN 1 ELSE 0 END) AS BIGINT) AS v_rf,
        CAST(sum(CASE WHEN l_linestatus NOT IN ('O', 'F')
                 THEN 1 ELSE 0 END) AS BIGINT) AS v_ls,
        CAST(sum(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END)
             AS BIGINT) AS v_price
      FROM lineitem
    ),
    pk AS (
      SELECT CAST(count(*) AS BIGINT)
             - CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
             AS v_pk
      FROM lineitem
    ),
    wide AS (SELECT * FROM row_checks CROSS JOIN pk),
    long AS (
      SELECT 'quantity_between_1_50' AS expectation, v_qty AS violations,
             total FROM wide
      UNION ALL SELECT 'discount_between_0_0.1', v_disc, total FROM wide
      UNION ALL SELECT 'tax_between_0_0.08', v_tax, total FROM wide
      UNION ALL SELECT 'shipdate_not_null', v_ship, total FROM wide
      UNION ALL SELECT 'returnflag_in_set', v_rf, total FROM wide
      UNION ALL SELECT 'linestatus_in_set', v_ls, total FROM wide
      UNION ALL SELECT 'extendedprice_positive', v_price, total FROM wide
      UNION ALL SELECT 'pk_orderkey_linenumber_unique', v_pk, total
                FROM wide
    )
    SELECT expectation, violations, total,
           violations = 0 AS passed,
           round(CAST(violations AS DOUBLE) / CAST(total AS DOUBLE), 6)
             AS violation_rate
    FROM long
    """,
)
def profile_expectation_audit(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")

    def v(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    row_checks = li.agg(
        F.count(F.lit(1)).alias("total"),
        v((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
            "v_qty"
        ),
        v(
            (F.col("l_discount") < 0.0) | (F.col("l_discount") > 0.1)
        ).alias("v_disc"),
        v((F.col("l_tax") < 0.0) | (F.col("l_tax") > 0.08)).alias("v_tax"),
        v(F.col("l_shipdate").isNull()).alias("v_ship"),
        v(~F.col("l_returnflag").isin("A", "N", "R")).alias("v_rf"),
        v(~F.col("l_linestatus").isin("O", "F")).alias("v_ls"),
        v(F.col("l_extendedprice") <= 0.0).alias("v_price"),
    )
    pk = li.agg(
        (
            F.count(F.lit(1))
            - F.count_distinct(F.col("l_orderkey"), F.col("l_linenumber"))
        )
        .cast("long")
        .alias("v_pk")
    )
    wide = row_checks.crossJoin(F.broadcast(pk))
    names = [
        ("quantity_between_1_50", "v_qty"),
        ("discount_between_0_0.1", "v_disc"),
        ("tax_between_0_0.08", "v_tax"),
        ("shipdate_not_null", "v_ship"),
        ("returnflag_in_set", "v_rf"),
        ("linestatus_in_set", "v_ls"),
        ("extendedprice_positive", "v_price"),
        ("pk_orderkey_linenumber_unique", "v_pk"),
    ]
    pairs = F.array(
        *[
            F.struct(
                F.lit(n).alias("expectation"),
                F.col(c).alias("violations"),
            )
            for n, c in names
        ]
    )
    long = wide.select(
        F.explode(pairs).alias("e"), F.col("total")
    ).select(
        F.col("e.expectation").alias("expectation"),
        F.col("e.violations").alias("violations"),
        "total",
    )
    return long.select(
        "expectation",
        "violations",
        "total",
        (F.col("violations") == 0).alias("passed"),
        F.round(
            F.col("violations").cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("violation_rate"),
    )


@register(
    "sample_neyman_allocation",
    # Neyman-optimal stratified sampling design over orders: allocate a
    # 10 000-row budget across o_orderpriority strata proportionally to
    # N_h·σ_h (the variance-minimizing allocation a survey-sampling /
    # training-data curation pipeline computes before drawing). Prices
    # become exact cents BIGINTs; Σx is BIGINT, Σx² runs in
    # DECIMAL(19,0)² → DECIMAL(38,0) (cents² ≈ 2.5e15 per row overflows
    # BIGINT by sf0.1 row counts; at larger scale rescale to whole
    # dollars first). σ_h and the allocation shares are identical-tree
    # float ops; the cross-stratum normalizer sums 1e-6-QUANTIZED
    # weights (BIGINT, order-free) — never raw floats across rows.
    """
    WITH cents AS (
      SELECT o_orderpriority AS stratum,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
      FROM orders
    ),
    st AS (
      SELECT stratum, CAST(count(*) AS BIGINT) AS nh,
             CAST(sum(c) AS BIGINT) AS sx,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sxx
      FROM cents GROUP BY 1
    ),
    sd AS (
      SELECT stratum, nh,
             sqrt(CAST(sxx AS DOUBLE) / CAST(nh AS DOUBLE)
                  - (CAST(sx AS DOUBLE) / CAST(nh AS DOUBLE))
                    * (CAST(sx AS DOUBLE) / CAST(nh AS DOUBLE)))
               / 100.0 AS sigma
      FROM st
    ),
    w AS (
      SELECT stratum, nh, sigma,
             CAST(floor(CAST(nh AS DOUBLE) * sigma * 1000000.0 + 0.5)
                  AS BIGINT) AS w_u
      FROM sd
    ),
    t AS (SELECT CAST(sum(w_u) AS BIGINT) AS tot_u FROM w)
    SELECT stratum, nh, round(sigma, 6) AS sigma,
           round(10000.0 * CAST(w_u AS DOUBLE) / CAST(tot_u AS DOUBLE), 6)
             AS neyman_alloc,
           CAST(floor(10000.0 * CAST(w_u AS DOUBLE)
                      / CAST(tot_u AS DOUBLE)) AS BIGINT) AS alloc_floor
    FROM w CROSS JOIN t
    """,
)
def sample_neyman_allocation(spark, sf_dir):
    od = load_table(spark, sf_dir, "orders")
    cents = od.select(
        F.col("o_orderpriority").alias("stratum"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("c"),
    )
    cd = F.col("c").cast("decimal(19,0)")
    st = cents.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("c").alias("sx"),
        F.sum(cd * cd).cast("decimal(38,0)").alias("sxx"),
    )
    nhd = F.col("nh").cast("double")
    sxd = F.col("sx").cast("double")
    sigma = (
        F.sqrt(
            F.col("sxx").cast("double") / nhd
            - (sxd / nhd) * (sxd / nhd)
        )
        / 100.0
    )
    w = st.select(
        "stratum",
        "nh",
        sigma.alias("sigma"),
        F.floor(nhd * sigma * 1000000.0 + 0.5).cast("long").alias("w_u"),
    )
    t = w.agg(F.sum("w_u").alias("tot_u"))
    share = (
        F.lit(10000.0)
        * F.col("w_u").cast("double")
        / F.col("tot_u").cast("double")
    )
    return w.crossJoin(F.broadcast(t)).select(
        "stratum",
        "nh",
        F.round(F.col("sigma"), 6).alias("sigma"),
        F.round(share, 6).alias("neyman_alloc"),
        F.floor(share).cast("long").alias("alloc_floor"),
    )


@register(
    "agg_cohens_kappa",
    # Cohen's kappa between two deterministic document-quality raters
    # (rater A: character length ≥ 500; rater B: whitespace word count
    # ≥ 80) — the inter-annotator agreement statistic a labeling /
    # curation pipeline reports before trusting a rater. Computed from
    # the 2×2 contingency in ONE conditional-sum scan, then by the
    # ALL-INTEGER identity κ = (N·Σnᵢᵢ − Σrᵢcᵢ) / (N² − Σrᵢcᵢ): both
    # terms are exact BIGINTs (N ≤ 1e9 safe), so the single final
    # division is one deterministic IEEE op. Character semantics on
    # both sides: DuckDB length() (not strlen — the r8 ADVICE byte/char
    # trap); word count via the split-on-whitespace array length,
    # identical regex both engines.
    """
    WITH rated AS (
      SELECT CASE WHEN length(text) >= 500 THEN 1 ELSE 0 END AS a,
             CASE WHEN length(list_filter(string_split_regex(text,
                    '\\s+'), x -> x <> '')) >= 80
                  THEN 1 ELSE 0 END AS b
      FROM documents
    ),
    ct AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a * b) AS BIGINT) AS n11,
             CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
             CAST(sum((1 - a) * b) AS BIGINT) AS n01,
             CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM rated
    )
    SELECT n, n11, n10, n01, n00,
           round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS po,
           round(CAST((n11 + n10) * (n11 + n01)
                      + (n01 + n00) * (n10 + n00) AS DOUBLE)
                 / CAST(n * n AS DOUBLE), 6) AS pe,
           round(CAST(n * (n11 + n00)
                      - ((n11 + n10) * (n11 + n01)
                         + (n01 + n00) * (n10 + n00)) AS DOUBLE)
                 / CAST(n * n
                        - ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00)) AS DOUBLE), 6)
             AS kappa
    FROM ct
    """,
)
def agg_cohens_kappa(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    rated = docs.select(
        F.when(F.length("text") >= 500, 1).otherwise(0).alias("a"),
        F.when(F.size(words) >= 80, 1).otherwise(0).alias("b"),
    )
    ct = rated.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
    )
    chance = (F.col("n11") + F.col("n10")) * (
        F.col("n11") + F.col("n01")
    ) + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    return ct.select(
        "n", "n11", "n10", "n01", "n00",
        F.round(
            (F.col("n11") + F.col("n00")).cast("double")
            / F.col("n").cast("double"),
            6,
        ).alias("po"),
        F.round(
            chance.cast("double")
            / (F.col("n") * F.col("n")).cast("double"),
            6,
        ).alias("pe"),
        F.round(
            (F.col("n") * (F.col("n11") + F.col("n00")) - chance).cast(
                "double"
            )
            / (F.col("n") * F.col("n") - chance).cast("double"),
            6,
        ).alias("kappa"),
    )


@register(
    "agg_ks_test",
    # Two-sample Kolmogorov–Smirnov statistic between the order-price
    # distributions of urgent (1-URGENT/2-HIGH) and non-urgent orders —
    # the classic distribution-shift screen (the continuous twin of
    # profile_psi_drift). Everything cross-row is INTEGER-exact: prices
    # become cents BIGINTs (the Benford floor(x·100+0.5) recovery), the
    # two group ECDFs are per-distinct-value cumulative COUNTS from
    # operators/topk.py:block_cumsum (block-prefix — never a global
    # single-partition window), and the sup-distance is maximized on the
    # scaled integer |c1·n2 − c2·n1| (exact while n1·n2 < 2⁶³ ≈ 3e9 rows
    # per side). Only the final D = max/(n1·n2), the asymptotic
    # λ = D·√(n1n2/(n1+n2)), and the argmax price are IEEE ops on
    # identical trees; argmax tie-break = smallest value.
    """
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS g1
      FROM orders
    ),
    pv AS (
      SELECT v, sum(g1) AS n1v, sum(1 - g1) AS n2v FROM cents GROUP BY v
    ),
    cum AS (
      SELECT v,
             CAST(sum(n1v) OVER (ORDER BY v) AS BIGINT) AS c1,
             CAST(sum(n2v) OVER (ORDER BY v) AS BIGINT) AS c2
      FROM pv
    ),
    tot AS (
      SELECT CAST(sum(n1v) AS BIGINT) AS n1,
             CAST(sum(n2v) AS BIGINT) AS n2
      FROM pv
    ),
    d AS (
      SELECT v, abs(c1 * n2 - c2 * n1) AS dn FROM cum CROSS JOIN tot
    ),
    mx AS (SELECT CAST(max(dn) AS BIGINT) AS d_num FROM d),
    am AS (
      SELECT CAST(min(v) AS BIGINT) AS vmax
      FROM d JOIN mx ON d.dn = mx.d_num
    )
    SELECT n1, n2, d_num,
           round(CAST(d_num AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS ks_d,
           round(CAST(d_num AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        / CAST(n1 + n2 AS DOUBLE)), 6) AS ks_lambda,
           round(CAST(vmax AS DOUBLE) / 100.0, 2) AS price_at_max
    FROM tot CROSS JOIN mx CROSS JOIN am
    """,
)
def agg_ks_test(spark, sf_dir):
    from ..operators.topk import block_cumsum

    od = load_table(spark, sf_dir, "orders")
    cents = od.select(
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("v"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("int")
        .alias("g1"),
    )
    pv = cents.groupBy("v").agg(
        F.sum("g1").alias("n1v"), F.sum(1 - F.col("g1")).alias("n2v")
    )
    cum = block_cumsum(pv, "v", ["n1v", "n2v"])
    tot = pv.agg(F.sum("n1v").alias("n1"), F.sum("n2v").alias("n2"))
    d = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        F.abs(
            F.col("cum_n1v") * F.col("n2") - F.col("cum_n2v") * F.col("n1")
        ).alias("dn"),
    )
    # max dn and, among the rows at that max, the smallest v — one
    # aggregate, so d (and its block_cumsum) has a single consumer
    top = d.agg(F.max(F.struct("dn", (-F.col("v")).alias("nv"))).alias("t"))
    mx = top.select(
        F.col("t.dn").alias("d_num"), (-F.col("t.nv")).alias("vmax")
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    ks = F.col("d_num").cast("double") / (n1d * n2d)
    return (
        tot.crossJoin(F.broadcast(mx))
        .select(
            "n1",
            "n2",
            "d_num",
            F.round(ks, 6).alias("ks_d"),
            F.round(
                ks * F.sqrt(n1d * n2d / (F.col("n1") + F.col("n2")).cast("double")),
                6,
            ).alias("ks_lambda"),
            F.round(F.col("vmax").cast("double") / 100.0, 2).alias(
                "price_at_max"
            ),
        )
    )


@register(
    "agg_spearman_rho",
    # Spearman rank correlation between line-item quantity and extended
    # price — the monotone-association screen run where Pearson's
    # linearity assumption fails. INTEGER-exact throughout: both columns
    # quantize exactly (quantities are whole numbers, prices 2-decimal
    # cents), per-value DOUBLED midranks come closed-form from the
    # grouped value histogram + block_cumsum (2·midrank = 2·cum − cnt +
    # 1 — no halves, no row-level rank window), rows join their rank
    # maps merge-hinted (value-distinct tables grow with the corpus),
    # and the five Pearson moments over doubled ranks are summed in
    # DECIMAL(38,0) (the assortativity convention). One final
    # divide+sqrt on identical trees.
    """
    WITH rows_q AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    xm AS (
      SELECT x, 2 * CAST(sum(count(*)) OVER (ORDER BY x) AS BIGINT)
                  - count(*) + 1 AS rx2
      FROM rows_q GROUP BY x
    ),
    ym AS (
      SELECT y, 2 * CAST(sum(count(*)) OVER (ORDER BY y) AS BIGINT)
                  - count(*) + 1 AS ry2
      FROM rows_q GROUP BY y
    ),
    rr AS (
      SELECT rx2, ry2 FROM rows_q JOIN xm USING (x) JOIN ym USING (y)
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx2) AS BIGINT) AS sx,
             CAST(sum(ry2) AS BIGINT) AS sy,
             CAST(sum(CAST(rx2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sxy,
             CAST(sum(CAST(rx2 AS DECIMAL(19,0)) * CAST(rx2 AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(ry2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS syy
      FROM rr
    )
    SELECT n,
           round(CAST(CAST(n AS DECIMAL(38,0)) * sxy
                      - CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))
                      AS DOUBLE)
                 / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx
                             - CAST(sx AS DECIMAL(19,0))
                               * CAST(sx AS DECIMAL(19,0)) AS DOUBLE)
                        * CAST(CAST(n AS DECIMAL(38,0)) * syy
                               - CAST(sy AS DECIMAL(19,0))
                                 * CAST(sy AS DECIMAL(19,0)) AS DOUBLE)),
                 6) AS spearman_rho
    FROM s
    """,
)
def agg_spearman_rho(spark, sf_dir):
    from ..operators.topk import block_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    rows_q = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("long")
        .alias("y"),
    )

    def midrank_map(col):
        hist = rows_q.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        cum = block_cumsum(hist, col, ["cnt"])
        return cum.select(
            col,
            (2 * F.col("cum_cnt") - F.col("cnt") + 1).alias(f"r{col}2"),
        )

    rr = (
        rows_q.join(midrank_map("x").hint("merge"), "x")
        .join(midrank_map("y").hint("merge"), "y")
        .select("rx2", "ry2")
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = rr.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(dec("rx2") * dec("ry2")).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec("rx2") * dec("rx2")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("ry2") * dec("ry2")).cast("decimal(38,0)").alias("syy"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    num = (nd * F.col("sxy") - dec("sx") * dec("sy")).cast("double")
    dx = (nd * F.col("sxx") - dec("sx") * dec("sx")).cast("double")
    dy = (nd * F.col("syy") - dec("sy") * dec("sy")).cast("double")
    return s.select(
        "n", F.round(num / F.sqrt(dx * dy), 6).alias("spearman_rho")
    )


@register(
    "agg_kendall_tau",
    # Kendall τ-b between the weekly click and purchase counts — the
    # ordinal-association test over the SMALL aggregated series (weeks
    # grow with the calendar, not the corpus, so the quadratic pair
    # join is calendar-bounded and one side broadcasts — the week-spine
    # precedent). Concordant / discordant / tied-pair counts are exact
    # BIGINTs from strict sign comparisons; τ-b's single final
    # divide+sqrt runs on identical trees. Sunday-anchored weeks match
    # the ts_* family convention.
    """
    WITH wk AS (
      SELECT CAST(ts AS DATE) - CAST(dayofweek(ts) AS INTEGER) AS week_start,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
    ),
    pr AS (
      SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
      FROM wk a JOIN wk b ON a.week_start < b.week_start
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN (x2 - x1) * (y2 - y1) > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nc,
             CAST(sum(CASE WHEN (x2 - x1) * (y2 - y1) < 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nd,
             CAST(sum(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS BIGINT) AS px,
             CAST(sum(CASE WHEN y1 = y2 THEN 1 ELSE 0 END) AS BIGINT) AS py
      FROM pr
    ),
    nw AS (SELECT CAST(count(*) AS BIGINT) AS n_weeks FROM wk)
    SELECT n_weeks, n0, nc, nd, px, py,
           round(CAST(nc - nd AS DOUBLE)
                 / sqrt(CAST(n0 - px AS DOUBLE) * CAST(n0 - py AS DOUBLE)),
                 6) AS kendall_tau_b
    FROM s CROSS JOIN nw
    """,
)
def agg_kendall_tau(spark, sf_dir):
    from ..functions.weeks import sunday_week_start

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    wk = ev.groupBy(
        sunday_week_start(F.col("ts")).alias("week_start")
    ).agg(
        F.sum((F.col("event_type") == "click").cast("int")).alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("y"),
    )
    a = wk.select(
        F.col("week_start").alias("w1"),
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
    )
    b = wk.select(
        F.col("week_start").alias("w2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    pr = a.join(F.broadcast(b), F.col("w1") < F.col("w2"))
    dx, dy = F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1")
    s = pr.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum((dx * dy > 0).cast("int")).alias("nc"),
        F.sum((dx * dy < 0).cast("int")).alias("nd"),
        F.sum((F.col("x1") == F.col("x2")).cast("int")).alias("px"),
        F.sum((F.col("y1") == F.col("y2")).cast("int")).alias("py"),
    )
    nw = wk.agg(F.count(F.lit(1)).alias("n_weeks"))
    return s.crossJoin(F.broadcast(nw)).select(
        "n_weeks", "n0", "nc", "nd", "px", "py",
        F.round(
            (F.col("nc") - F.col("nd")).cast("double")
            / F.sqrt(
                (F.col("n0") - F.col("px")).cast("double")
                * (F.col("n0") - F.col("py")).cast("double")
            ),
            6,
        ).alias("kendall_tau_b"),
    )


@register(
    "agg_fleiss_kappa",
    # Fleiss' κ across THREE rule-based document-quality raters (the
    # multi-rater generalization of agg_cohens_kappa): A = char length
    # ≥ 500, B = word count ≥ 80, C = mean word length in [3, 10] —
    # rater C evaluated by integer CROSS-MULTIPLICATION (3·nw ≤ Σlen ≤
    # 10·nw), never a float mean. With n = 3 raters the whole statistic
    # collapses to three exact totals — N, T₁ = Σ positive votes, S =
    # Σ(k² + (3−k)²) — and the all-integer identity κ = (3N(S − 3N) −
    # 2(T₁² + T₀²)) / (2(9N² − T₁² − T₀²)); products run in
    # DECIMAL(38,0) and the single final division is one IEEE op.
    # Zero-word docs vote C-positive (0 ≤ 0 ≤ 0) — deterministic on
    # both engines. Char semantics: DuckDB length() (the r8 trap).
    """
    WITH rated AS (
      SELECT CASE WHEN length(text) >= 500 THEN 1 ELSE 0 END
             + CASE WHEN length(list_filter(string_split_regex(text,
                      '\\s+'), x -> x <> '')) >= 80 THEN 1 ELSE 0 END
             + CASE WHEN 3 * length(list_filter(string_split_regex(text,
                      '\\s+'), x -> x <> ''))
                      <= list_reduce(list_prepend(0,
                           [length(w) FOR w IN list_filter(
                              string_split_regex(text, '\\s+'),
                              x -> x <> '')]), (a, b) -> a + b)
                    AND list_reduce(list_prepend(0,
                           [length(w) FOR w IN list_filter(
                              string_split_regex(text, '\\s+'),
                              x -> x <> '')]), (a, b) -> a + b)
                      <= 10 * length(list_filter(string_split_regex(text,
                           '\\s+'), x -> x <> ''))
                    THEN 1 ELSE 0 END AS k
      FROM documents
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(k) AS BIGINT) AS t1,
             CAST(sum(k * k + (3 - k) * (3 - k)) AS BIGINT) AS s
      FROM rated
    )
    SELECT n, t1, s,
           round(CAST(s - 3 * n AS DOUBLE) / CAST(6 * n AS DOUBLE), 6)
             AS p_bar,
           round(CAST(CAST(t1 AS DECIMAL(19,0)) * CAST(t1 AS DECIMAL(19,0))
                      + CAST(3 * n - t1 AS DECIMAL(19,0))
                        * CAST(3 * n - t1 AS DECIMAL(19,0)) AS DOUBLE)
                 / CAST(9 * CAST(n AS DECIMAL(19,0))
                        * CAST(n AS DECIMAL(19,0)) AS DOUBLE), 6) AS p_e,
           round(CAST(3 * CAST(n AS DECIMAL(19,0))
                        * CAST(s - 3 * n AS DECIMAL(19,0))
                      - 2 * (CAST(t1 AS DECIMAL(19,0))
                             * CAST(t1 AS DECIMAL(19,0))
                             + CAST(3 * n - t1 AS DECIMAL(19,0))
                               * CAST(3 * n - t1 AS DECIMAL(19,0)))
                      AS DOUBLE)
                 / CAST(2 * (9 * CAST(n AS DECIMAL(19,0))
                               * CAST(n AS DECIMAL(19,0))
                             - CAST(t1 AS DECIMAL(19,0))
                               * CAST(t1 AS DECIMAL(19,0))
                             - CAST(3 * n - t1 AS DECIMAL(19,0))
                               * CAST(3 * n - t1 AS DECIMAL(19,0)))
                      AS DOUBLE), 6) AS fleiss_kappa
    FROM t
    """,
)
def agg_fleiss_kappa(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # materialize the split array ONCE (the split()-rematerialization
    # perf rule) before the three raters reference it
    w = docs.select(
        F.length("text").alias("clen"),
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "").alias(
            "w"
        ),
    ).select(
        "clen",
        F.size("w").alias("nw"),
        F.aggregate(
            "w", F.lit(0), lambda acc, x: acc + F.length(x)
        ).alias("slen"),
    )
    k = (
        (F.col("clen") >= 500).cast("int")
        + (F.col("nw") >= 80).cast("int")
        + (
            (3 * F.col("nw") <= F.col("slen"))
            & (F.col("slen") <= 10 * F.col("nw"))
        ).cast("int")
    )
    t = w.select(k.alias("k")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("t1"),
        F.sum(F.col("k") * F.col("k") + (3 - F.col("k")) * (3 - F.col("k"))).alias(
            "s"
        ),
    )
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    nD, t1D = dec(F.col("n")), dec(F.col("t1"))
    t0D = dec(3 * F.col("n") - F.col("t1"))
    pe_num = (t1D * t1D + t0D * t0D).cast("double")
    return t.select(
        "n", "t1", "s",
        F.round(
            (F.col("s") - 3 * F.col("n")).cast("double")
            / (6 * F.col("n")).cast("double"),
            6,
        ).alias("p_bar"),
        F.round(pe_num / (9 * nD * nD).cast("double"), 6).alias("p_e"),
        F.round(
            (
                3 * nD * dec(F.col("s") - 3 * F.col("n"))
                - 2 * (t1D * t1D + t0D * t0D)
            ).cast("double")
            / (2 * (9 * nD * nD - t1D * t1D - t0D * t0D)).cast("double"),
            6,
        ).alias("fleiss_kappa"),
    )


@register(
    "agg_anova_oneway",
    # One-way ANOVA F across the five order-priority strata of order
    # price (the k-group generalization of agg_ab_ttest). Per-stratum
    # sufficient statistics are exact (cents BIGINT Σx, DECIMAL(38,0)
    # Σx²); the one cross-group float reduction — Σ_g S_g²/n_g — folds
    # LEFT-TO-RIGHT over the stratum-name-sorted term list on BOTH
    # engines (Spark F.aggregate over array_sort(collect_list), DuckDB
    # list_reduce over list(... ORDER BY ...), 0.0-seeded: 0+x ≡ x in
    # IEEE), so the k=5 doubles add in one identical order — never a
    # partial-aggregation sum whose order differs per engine. SS terms
    # and F are identical trees. The cents² SS columns ship UNROUNDED:
    # at 1e15+ magnitude DuckDB's round(x, 6) PERTURBS the double
    # (x·1e6 overflows the 53-bit mantissa and divides back to a
    # different value) while Spark's BigDecimal round is a no-op —
    # identical trees make the raw doubles bit-identical, so rounding
    # there is not just unnecessary but wrong. Only the ~1-magnitude
    # F statistic is 6dp-rounded.
    """
    WITH cents AS (
      SELECT o_orderpriority AS stratum,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
      FROM orders
    ),
    st AS (
      SELECT stratum, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(c) AS BIGINT) AS sg,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS qg
      FROM cents GROUP BY 1
    ),
    terms AS (
      SELECT stratum, ng, sg, qg,
             CAST(CAST(sg AS DECIMAL(19,0)) * CAST(sg AS DECIMAL(19,0))
                  AS DOUBLE) / CAST(ng AS DOUBLE) AS term
      FROM st
    ),
    gl AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ng) AS BIGINT) AS n,
             CAST(sum(sg) AS BIGINT) AS s,
             CAST(sum(qg) AS DECIMAL(38,0)) AS q,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                      list(term ORDER BY stratum)),
                         (a, b) -> a + b) AS fold
      FROM terms
    )
    SELECT k, n,
           fold - CAST(CAST(s AS DECIMAL(19,0))
                       * CAST(s AS DECIMAL(19,0)) AS DOUBLE)
                  / CAST(n AS DOUBLE) AS ssb,
           CAST(q AS DOUBLE) - fold AS ssw,
           round((fold - CAST(CAST(s AS DECIMAL(19,0))
                              * CAST(s AS DECIMAL(19,0)) AS DOUBLE)
                         / CAST(n AS DOUBLE))
                 / CAST(k - 1 AS DOUBLE)
                 / ((CAST(q AS DOUBLE) - fold) / CAST(n - k AS DOUBLE)),
                 6) AS f_stat
    FROM gl
    """,
)
def agg_anova_oneway(spark, sf_dir):
    od = load_table(spark, sf_dir, "orders")
    cents = od.select(
        F.col("o_orderpriority").alias("stratum"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("c"),
    )
    cd = F.col("c").cast("decimal(19,0)")
    st = cents.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("c").alias("sg"),
        F.sum(cd * cd).cast("decimal(38,0)").alias("qg"),
    )
    sgd = F.col("sg").cast("decimal(19,0)")
    terms = st.select(
        "stratum", "ng", "sg", "qg",
        ((sgd * sgd).cast("double") / F.col("ng").cast("double")).alias(
            "term"
        ),
    )
    gl = terms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("qg").cast("decimal(38,0)").alias("q"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("stratum", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("fold"),
    )
    sD = F.col("s").cast("decimal(19,0)")
    corr = (sD * sD).cast("double") / F.col("n").cast("double")
    ssb = F.col("fold") - corr
    ssw = F.col("q").cast("double") - F.col("fold")
    return gl.select(
        "k", "n",
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        F.round(
            ssb
            / (F.col("k") - 1).cast("double")
            / (ssw / (F.col("n") - F.col("k")).cast("double")),
            6,
        ).alias("f_stat"),
    )


@register(
    "agg_chi2_independence",
    # χ² test of independence on the order-priority × order-status
    # contingency table (the k×m generalization of the chi2-keyword
    # scorer, run as a data-quality screen for drifting categorical
    # couplings). Per-cell terms are exact to the last step — (N·O −
    # r·c)² and N·r·c in DECIMAL(38,0), one division each — and the
    # 15-term χ² total folds left-to-right over the (priority, status)-
    # sorted list on both engines (the agg_anova_oneway convention).
    # Output: one row per cell with its contribution, plus the shared
    # χ² total and dof.
    """
    WITH ct AS (
      SELECT o_orderpriority AS priority, o_orderstatus AS status,
             CAST(count(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT priority, CAST(sum(obs) AS BIGINT) AS r
           FROM ct GROUP BY 1),
    cl AS (SELECT status, CAST(sum(obs) AS BIGINT) AS c FROM ct GROUP BY 1),
    nn AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
                  CAST(count(DISTINCT priority) AS BIGINT) AS nr,
                  CAST(count(DISTINCT status) AS BIGINT) AS nc
           FROM ct),
    cells AS (
      SELECT ct.priority, ct.status, ct.obs,
             CAST(CAST(rt.r AS DECIMAL(19,0)) * CAST(cl.c AS DECIMAL(19,0))
                  AS DOUBLE) / CAST(nn.n AS DOUBLE) AS expected,
             CAST((CAST(nn.n AS DECIMAL(19,0)) * CAST(ct.obs AS DECIMAL(19,0))
                   - CAST(rt.r AS DECIMAL(19,0)) * CAST(cl.c AS DECIMAL(19,0)))
                  * (CAST(nn.n AS DECIMAL(19,0)) * CAST(ct.obs AS DECIMAL(19,0))
                     - CAST(rt.r AS DECIMAL(19,0)) * CAST(cl.c AS DECIMAL(19,0)))
                  AS DOUBLE)
             / CAST(CAST(nn.n AS DECIMAL(19,0)) * CAST(rt.r AS DECIMAL(19,0))
                    * CAST(cl.c AS DECIMAL(19,0)) AS DOUBLE) AS term
      FROM ct JOIN rt ON ct.priority = rt.priority
              JOIN cl ON ct.status = cl.status
              CROSS JOIN nn
    ),
    tot AS (
      SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                      list(term ORDER BY priority, status)),
                         (a, b) -> a + b) AS chi2
      FROM cells
    )
    SELECT cells.priority, cells.status, cells.obs,
           round(cells.expected, 6) AS expected,
           round(cells.term, 6) AS term,
           round(tot.chi2, 6) AS chi2,
           (nn.nr - 1) * (nn.nc - 1) AS dof
    FROM cells CROSS JOIN tot CROSS JOIN nn
    """,
)
def agg_chi2_independence(spark, sf_dir):
    od = load_table(spark, sf_dir, "orders")
    ct = od.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    rt = ct.groupBy("priority").agg(F.sum("obs").alias("r"))
    cl = ct.groupBy("status").agg(F.sum("obs").alias("c"))
    nn = ct.agg(
        F.sum("obs").alias("n"),
        F.countDistinct("priority").alias("nr"),
        F.countDistinct("status").alias("nc"),
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    num = dec("n") * dec("obs") - dec("r") * dec("c")
    cells = (
        ct.join(F.broadcast(rt), "priority")
        .join(F.broadcast(cl), "status")
        .crossJoin(F.broadcast(nn))
        .select(
            "priority", "status", "obs", "nr", "nc",
            (
                (dec("r") * dec("c")).cast("double")
                / F.col("n").cast("double")
            ).alias("expected"),
            (
                (num * num).cast("double")
                / (dec("n") * dec("r") * dec("c")).cast("double")
            ).alias("term"),
        )
    )
    tot = cells.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("priority", "status", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("chi2")
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "priority", "status", "obs",
        F.round("expected", 6).alias("expected"),
        F.round("term", 6).alias("term"),
        F.round("chi2", 6).alias("chi2"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
    )


# Poisson(1) inverse-CDF cutoffs on the u32 lattice: T_k =
# floor(cdf(k)·2^32) for k = 0..7 (cdf(7) covers 1 − 1e-5; counts cap
# at 8). The replicate count for a row is the number of cutoffs ≤ its
# u32 draw — a pure integer comparison chain, identical on both
# engines because the cutoffs are INTEGER literals computed once here
# (never re-derived from float math engine-side).
_POISSON1_CUTS = [
    1580030168, 3160060337, 3950075421, 4213413783,
    4279248373, 4292415291, 4294609777, 4294923276,
]


@register(
    "agg_bootstrap_ab_diff",
    # Nonparametric A/B uncertainty: Poisson-bootstrap CI of the
    # DIFFERENCE in mean order price, urgent vs non-urgent — the
    # resampling twin of agg_ab_ttest (ratio/difference metrics are
    # where parametric variance goes wrong, and the per-row Poisson(1)
    # trick is the only bootstrap that scales: Chamandy et al. 2012).
    # Deterministic: the count for (row, replicate b) is the md5 u32
    # draw of "okey:b" against the 8-level _POISSON1_CUTS integer
    # lattice (finer tail than the 4-level byte CDF of
    # agg_poisson_bootstrap_ci). Prices enter as exact cents, each
    # replicate's two means are single exact-integer divisions, and
    # the 32 replicate diffs are summarized by the sorted-list fold
    # (agg_anova_oneway convention) plus exact order-statistic picks
    # l[2]/l[31] (a ~93.75% percentile CI).
    """
    WITH cents AS (
      SELECT o_orderkey AS okey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderpriority = '1-URGENT' AS g
      FROM orders
    ),
    pt AS (
      SELECT CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN g THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN g THEN cents ELSE 0 END) AS BIGINT) AS sa,
             CAST(sum(CASE WHEN g THEN 0 ELSE cents END) AS BIGINT) AS sb
      FROM cents
    ),
    reps AS (
      SELECT r.b, c.cents, c.g,
             CAST(('0x' || substr(md5(c.okey || ':' || r.b), 1, 8))
                  AS BIGINT) AS u
      FROM cents c CROSS JOIN (SELECT unnest(range(1, 33)) AS b) r
    ),
    drawn AS (
      SELECT b, cents, g,
             CAST(u >= 1580030168 AS INTEGER) + CAST(u >= 3160060337 AS INTEGER)
           + CAST(u >= 3950075421 AS INTEGER) + CAST(u >= 4213413783 AS INTEGER)
           + CAST(u >= 4279248373 AS INTEGER) + CAST(u >= 4292415291 AS INTEGER)
           + CAST(u >= 4294609777 AS INTEGER) + CAST(u >= 4294923276 AS INTEGER)
               AS c
      FROM reps
    ),
    rep AS (
      SELECT b,
             CAST(sum(CASE WHEN g THEN CAST(c AS BIGINT) * cents ELSE 0 END)
                  AS BIGINT) AS sa,
             CAST(sum(CASE WHEN g THEN c ELSE 0 END) AS BIGINT) AS ma,
             CAST(sum(CASE WHEN g THEN 0 ELSE CAST(c AS BIGINT) * cents END)
                  AS BIGINT) AS sb,
             CAST(sum(CASE WHEN g THEN 0 ELSE c END) AS BIGINT) AS mb
      FROM drawn GROUP BY b
    ),
    diffs AS (
      SELECT CAST(sa AS DOUBLE) / CAST(ma * 100 AS DOUBLE)
             - CAST(sb AS DOUBLE) / CAST(mb * 100 AS DOUBLE) AS d
      FROM rep
    ),
    ms AS (
      SELECT list(d ORDER BY d) AS l,
             CAST(count(*) AS BIGINT) AS n_replicates
      FROM diffs
    )
    SELECT pt.n_a, pt.n_b, ms.n_replicates,
           round(CAST(pt.sa AS DOUBLE) / CAST(pt.n_a * 100 AS DOUBLE)
                 - CAST(pt.sb AS DOUBLE) / CAST(pt.n_b * 100 AS DOUBLE),
                 6) AS point_diff,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ms.l),
                             (a, b) -> a + b)
                 / CAST(ms.n_replicates AS DOUBLE), 6) AS boot_diff,
           round(ms.l[2], 6) AS ci_lo,
           round(ms.l[31], 6) AS ci_hi
    FROM ms CROSS JOIN pt
    """,
)
def agg_bootstrap_ab_diff(spark, sf_dir):
    from ..operators.training import hex_uniform_u32

    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderpriority") == "1-URGENT").alias("g"),
    )
    gi = F.col("g").cast("long")
    pt = cents.agg(
        F.sum(gi).alias("n_a"),
        F.sum(1 - gi).alias("n_b"),
        F.sum(gi * F.col("cents")).alias("sa"),
        F.sum((1 - gi) * F.col("cents")).alias("sb"),
    )
    reps = spread(cents).withColumn(
        "b", F.explode(F.sequence(F.lit(1), F.lit(32)))
    )
    u = hex_uniform_u32(
        F.concat(
            F.col("okey").cast("string"),
            F.lit(":"),
            F.col("b").cast("string"),
        )
    )
    c = sum(
        [(u >= F.lit(t)).cast("int") for t in _POISSON1_CUTS[1:]],
        (u >= F.lit(_POISSON1_CUTS[0])).cast("int"),
    )
    drawn = reps.select("b", "cents", "g", c.alias("c"))
    cl = F.col("c").cast("long")
    rep = drawn.groupBy("b").agg(
        F.sum(gi * cl * F.col("cents")).alias("sa"),
        F.sum(gi * cl).alias("ma"),
        F.sum((1 - gi) * cl * F.col("cents")).alias("sb"),
        F.sum((1 - gi) * cl).alias("mb"),
    )
    diff = F.col("sa").cast("double") / (F.col("ma") * 100).cast(
        "double"
    ) - F.col("sb").cast("double") / (F.col("mb") * 100).cast("double")
    ms = rep.select(diff.alias("d")).agg(
        F.array_sort(F.collect_list("d")).alias("l"),
        F.count(F.lit(1)).alias("n_replicates"),
    )
    return ms.crossJoin(F.broadcast(pt)).select(
        "n_a",
        "n_b",
        "n_replicates",
        F.round(
            F.col("sa").cast("double")
            / (F.col("n_a") * 100).cast("double")
            - F.col("sb").cast("double")
            / (F.col("n_b") * 100).cast("double"),
            6,
        ).alias("point_diff"),
        F.round(
            F.aggregate(
                F.col("l"),
                F.lit(0.0).cast("double"),
                lambda a, b: a + b,
            )
            / F.col("n_replicates").cast("double"),
            6,
        ).alias("boot_diff"),
        F.round(F.element_at("l", 2), 6).alias("ci_lo"),
        F.round(F.element_at("l", 31), 6).alias("ci_hi"),
    )


@register(
    "agg_cuped",
    # CUPED variance reduction (Deng et al., WSDM 2013 — the standard
    # experimentation-platform estimator): per customer, Y = order
    # spend in the experiment period (1998+), X = pre-period spend
    # (<=1997), theta = cov(X,Y)/var(X), and the adjusted variance
    # var(Y - theta X) = var_y - cov^2/var_x. Spend enters as exact
    # cents; all five moments are DECIMAL(19,0)^2 -> DECIMAL(38,0)
    # power sums over the customer base (cents^2 sums overflow int64),
    # customers without orders included at (0,0) via the left join.
    # Variances are cents^2-scale (~1e16 at SF) — shipped RAW, never
    # round()ed (the r9 anova large-magnitude divergence class);
    # theta and the reduction ratio are lattice-scale and rounded.
    """
    WITH spend AS (
      SELECT c.c_custkey,
             CAST(coalesce(sum(CASE WHEN year(o.o_orderdate) <= 1997
                  THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                  ELSE 0 END), 0) AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN year(o.o_orderdate) >= 1998
                  THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                  ELSE 0 END), 0) AS BIGINT) AS y
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(y) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS syy,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sxy
      FROM spend
    ),
    v AS (
      SELECT n,
             CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
               / CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
               AS theta,
             CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE)
               / CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                      AS DOUBLE) AS var_y,
             CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
               / CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                      AS DOUBLE) AS var_x,
             CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
               / CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                      AS DOUBLE) AS cov_xy
      FROM mo
    )
    SELECT n, round(theta, 6) AS theta,
           var_y,
           var_y - cov_xy * cov_xy / var_x AS var_cuped,
           round((cov_xy * cov_xy / var_x) / var_y, 6)
             AS variance_reduction
    FROM v
    """,
)
def agg_cuped(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    spend = (
        cust.join(
            orders.select(
                F.col("o_custkey").alias("c_custkey"),
                F.when(F.year("o_orderdate") <= 1997, cents)
                .otherwise(F.lit(0))
                .alias("xc"),
                F.when(F.year("o_orderdate") >= 1998, cents)
                .otherwise(F.lit(0))
                .alias("yc"),
            ),
            "c_custkey",
            "left",
        )
        .groupBy("c_custkey")
        .agg(
            F.coalesce(F.sum("xc"), F.lit(0)).cast("long").alias("x"),
            F.coalesce(F.sum("yc"), F.lit(0)).cast("long").alias("y"),
        )
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    mo = spend.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(d19("x") * d19("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(d19("y") * d19("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(d19("x") * d19("y")).cast("decimal(38,0)").alias("sxy"),
    )
    dn = F.col("n").cast("decimal(38,0)")
    nn = (d19("n") * d19("n")).cast("double")
    theta = (dn * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (dn * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    var_y = (dn * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    ) / nn
    var_x = (dn * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    ) / nn
    cov = (dn * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / nn
    return mo.select(
        "n",
        F.round(theta, 6).alias("theta"),
        var_y.alias("var_y"),
        (var_y - cov * cov / var_x).alias("var_cuped"),
        F.round((cov * cov / var_x) / var_y, 6).alias(
            "variance_reduction"
        ),
    )


_IPF_ROUNDS = 3


def _ipf_ctes(rounds: int) -> str:
    """Unrolled IPF rounds as chained CTEs (the _lpa_ctes convention):
    each round scales weights to the row margin then the column margin,
    entirely on the integer micro-lattice (w is weight*1e6; the rescale
    is the KN half-up division (2*w*T + S) // (2*S) in HUGEINT)."""
    parts = [
        """cells AS (
      SELECT o_orderpriority AS priority, o_orderstatus AS status,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells),
    tg AS (
      SELECT (CAST(t AS HUGEINT) * 1000000) // 5 AS t_row,
             (CAST(t AS HUGEINT) * 1000000) // 3 AS t_col
      FROM tot
    ),
    w0 AS (
      SELECT priority, status, n, CAST(1000000 AS HUGEINT) AS w
      FROM cells
    )"""
    ]
    prev = "w0"
    for r in range(1, rounds + 1):
        parts.append(f"""wr{r} AS (
      SELECT priority, status, n,
             (2 * w * (SELECT t_row FROM tg)
              + sum(w * n) OVER (PARTITION BY priority))
             // (2 * sum(w * n) OVER (PARTITION BY priority)) AS w
      FROM {prev}
    ),
    wc{r} AS (
      SELECT priority, status, n,
             (2 * w * (SELECT t_col FROM tg)
              + sum(w * n) OVER (PARTITION BY status))
             // (2 * sum(w * n) OVER (PARTITION BY status)) AS w
      FROM wr{r}
    )""")
        prev = f"wc{r}"
    return ",\n    ".join(parts)


@register(
    "agg_ipf_raking",
    # Survey raking / iterative proportional fitting (Deming & Stephan
    # 1940 — the weighting step every survey and ads-measurement
    # pipeline runs): rake the priority x status contingency to uniform
    # row (1/5) and column (1/3) margins, 3 rounds. Weights live on
    # the 1e-6 integer lattice and every rescale is the KN half-up
    # division in HUGEINT/DECIMAL(38,0) — w*T products overflow int64
    # at corpus scale — so the whole walk is engine-exact with no float
    # until the final display division. Corpus-scale work is ONE
    # contingency groupBy; the rounds run on the fixed 15-cell frame.
    f"""
    WITH {_ipf_ctes(_IPF_ROUNDS)}
    SELECT priority, status, n,
           CAST(CAST(w AS BIGINT) AS DOUBLE) / 1000000.0 AS weight,
           CAST(CAST(w * n AS BIGINT) AS DOUBLE) / 1000000.0 AS fitted
    FROM wc{_IPF_ROUNDS}
    """,
)
def agg_ipf_raking(spark, sf_dir):
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").cast("long").alias("t"))
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def floor_div(a, b):
        return ((a - a % b) / b).cast("decimal(38,0)")

    cur = cells.crossJoin(F.broadcast(tot)).select(
        "priority",
        "status",
        "n",
        floor_div(d38(F.col("t")) * 1000000, F.lit(5).cast("decimal(19,0)"))
        .alias("t_row"),
        floor_div(d38(F.col("t")) * 1000000, F.lit(3).cast("decimal(19,0)"))
        .alias("t_col"),
        F.lit(1000000).cast("decimal(38,0)").alias("w"),
    )
    wr = Window.partitionBy("priority")
    wc = Window.partitionBy("status")
    for _ in range(_IPF_ROUNDS):
        # 15-row frame: both margin windows run over the fixed grid
        s_row = F.sum(F.col("w") * d38(F.col("n"))).over(wr)
        cur = cur.withColumn(
            "w",
            floor_div(
                2 * F.col("w") * F.col("t_row") + s_row, 2 * s_row
            ),
        )
        s_col = F.sum(F.col("w") * d38(F.col("n"))).over(wc)
        cur = cur.withColumn(
            "w",
            floor_div(
                2 * F.col("w") * F.col("t_col") + s_col, 2 * s_col
            ),
        )
    return cur.select(
        "priority",
        "status",
        "n",
        (F.col("w").cast("long").cast("double") / 1000000.0).alias(
            "weight"
        ),
        (
            (F.col("w") * d38(F.col("n"))).cast("long").cast("double")
            / 1000000.0
        ).alias("fitted"),
    )


@register(
    "agg_diff_in_diff",
    # Difference-in-differences (Card & Krueger 1994 shape — the
    # quasi-experimental estimator beside agg_ab_ttest/agg_cuped in the
    # experimentation family): treated = urgent orders, post = 1998+,
    # DiD = (m_t1 - m_t0) - (m_c1 - m_c0) over mean order price. One
    # conditional-sum scan builds all four cells; prices enter as exact
    # cents so each cell mean is ONE division of exact BIGINTs and the
    # estimator is three subtractions of identical doubles.
    """
    WITH c AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g,
             CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END AS p,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    cells AS (
      SELECT g, p, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s
      FROM c GROUP BY 1, 2
    ),
    m AS (
      SELECT
        sum(CASE WHEN g=1 AND p=1 THEN CAST(s AS DOUBLE)/CAST(n*100 AS DOUBLE) END) AS m_t1,
        sum(CASE WHEN g=1 AND p=0 THEN CAST(s AS DOUBLE)/CAST(n*100 AS DOUBLE) END) AS m_t0,
        sum(CASE WHEN g=0 AND p=1 THEN CAST(s AS DOUBLE)/CAST(n*100 AS DOUBLE) END) AS m_c1,
        sum(CASE WHEN g=0 AND p=0 THEN CAST(s AS DOUBLE)/CAST(n*100 AS DOUBLE) END) AS m_c0,
        CAST(sum(n) AS BIGINT) AS n_total
      FROM cells
    )
    SELECT n_total,
           round(m_t1, 6) AS mean_treated_post,
           round(m_t0, 6) AS mean_treated_pre,
           round(m_c1, 6) AS mean_control_post,
           round(m_c0, 6) AS mean_control_pre,
           round((m_t1 - m_t0) - (m_c1 - m_c0), 6) AS did
    FROM m
    """,
)
def agg_diff_in_diff(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("g"),
        (F.year("o_orderdate") >= 1998).cast("int").alias("p"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cells = c.groupBy("g", "p").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    mean = F.col("s").cast("double") / (F.col("n") * 100).cast("double")

    def cell(g, p):
        return F.sum(
            F.when((F.col("g") == g) & (F.col("p") == p), mean)
        )

    m = cells.agg(
        cell(1, 1).alias("m_t1"),
        cell(1, 0).alias("m_t0"),
        cell(0, 1).alias("m_c1"),
        cell(0, 0).alias("m_c0"),
        F.sum("n").cast("long").alias("n_total"),
    )
    return m.select(
        "n_total",
        F.round("m_t1", 6).alias("mean_treated_post"),
        F.round("m_t0", 6).alias("mean_treated_pre"),
        F.round("m_c1", 6).alias("mean_control_post"),
        F.round("m_c0", 6).alias("mean_control_pre"),
        F.round(
            (F.col("m_t1") - F.col("m_t0"))
            - (F.col("m_c1") - F.col("m_c0")),
            6,
        ).alias("did"),
    )


@register(
    "agg_trimmed_mean",
    # Robust location estimates (the Huber-family staples beside
    # agg_iqr_outliers): 5% two-sided trimmed mean and winsorized mean
    # of order price. Ranks come from operators/topk.py:global_rank
    # (block-prefix — no single-partition window at corpus scale) with
    # doc-key tiebreak; k = n*5//100 exact integer; the trimmed sum is
    # one conditional aggregate over cents, and winsorizing adds k
    # copies of each exact boundary value (the cents at ranks k+1 and
    # n-k, picked by rank equality — no percentile interpolation
    # anywhere). Means are single divisions of exact integers.
    """
    WITH p AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_orderkey) AS rank,
             count(*) OVER () AS n
      FROM p
    ),
    k AS (SELECT CAST(n * 5 // 100 AS BIGINT) AS k,
                 CAST(n AS BIGINT) AS n FROM r LIMIT 1),
    agg AS (
      SELECT CAST(sum(CASE WHEN r.rank > k.k AND r.rank <= k.n - k.k
                           THEN r.cents END) AS BIGINT) AS s_kept,
             CAST(sum(CASE WHEN r.rank > k.k AND r.rank <= k.n - k.k
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(max(CASE WHEN r.rank = k.k + 1 THEN r.cents END)
                  AS BIGINT) AS lo_cents,
             CAST(max(CASE WHEN r.rank = k.n - k.k THEN r.cents END)
                  AS BIGINT) AS hi_cents
      FROM r CROSS JOIN k
    )
    SELECT k.n, k.k AS n_trimmed_each_side,
           round(CAST(agg.s_kept AS DOUBLE)
                 / CAST(agg.n_kept * 100 AS DOUBLE), 6) AS trimmed_mean,
           round(CAST(agg.s_kept + k.k * (agg.lo_cents + agg.hi_cents)
                      AS DOUBLE)
                 / CAST(k.n * 100 AS DOUBLE), 6) AS winsorized_mean
    FROM agg CROSS JOIN k
    """,
)
def agg_trimmed_mean(spark, sf_dir):
    from ..operators.topk import global_rank

    orders = load_table(spark, sf_dir, "orders")
    p = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ranked = global_rank(p, "cents", "o_orderkey")
    nn = p.agg(F.count(F.lit(1)).alias("n")).select(
        "n", F.expr("n * 5 div 100").alias("k")
    )
    r = ranked.crossJoin(F.broadcast(nn))
    kept = (F.col("rank") > F.col("k")) & (
        F.col("rank") <= F.col("n") - F.col("k")
    )
    agg = r.agg(
        F.sum(F.when(kept, F.col("cents"))).cast("long").alias("s_kept"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.max(
            F.when(F.col("rank") == F.col("k") + 1, F.col("cents"))
        ).alias("lo_cents"),
        F.max(
            F.when(
                F.col("rank") == F.col("n") - F.col("k"), F.col("cents")
            )
        ).alias("hi_cents"),
    )
    return agg.crossJoin(F.broadcast(nn)).select(
        "n",
        F.col("k").alias("n_trimmed_each_side"),
        F.round(
            F.col("s_kept").cast("double")
            / (F.col("n_kept") * 100).cast("double"),
            6,
        ).alias("trimmed_mean"),
        F.round(
            (
                F.col("s_kept")
                + F.col("k") * (F.col("lo_cents") + F.col("hi_cents"))
            ).cast("double")
            / (F.col("n") * 100).cast("double"),
            6,
        ).alias("winsorized_mean"),
    )


@register(
    "agg_eb_shrinkage",
    # Empirical-Bayes shrinkage of per-nation urgent-order rates
    # (beta-binomial, method-of-moments prior — the Robbins/James-Stein
    # move every dashboard should apply to small-denominator rates):
    # raw rate r_i is ONE exact-integer division; the prior moments
    # m = mean(r_i), v = var(r_i) are k~25 cross-row float terms, so
    # BOTH engines fold them by the deterministic left fold over the
    # NATION-key-sorted list (the r9 anova/chi2 convention — never an
    # engine-ordered sum); alpha/beta = MoM closed form on identical
    # doubles; the shrunk rate (k_i + alpha)/(n_i + alpha + beta) is
    # one more identical-tree division. Nation is a broadcast dim.
    """
    WITH r AS (
      SELECT n.n_name AS nation,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1
    ),
    rr AS (
      SELECT nation, n, pos,
             CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS rate
      FROM r
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                      list(rate ORDER BY nation)),
                         (a, b) -> a + b) AS s
      FROM rr
    ),
    m2 AS (SELECT k, s / CAST(k AS DOUBLE) AS mu FROM m),
    v AS (
      SELECT m2.k, m2.mu,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list((rate - m2.mu) * (rate - m2.mu) ORDER BY nation)),
               (a, b) -> a + b) / CAST(m2.k AS DOUBLE) AS vv
      FROM rr CROSS JOIN m2 GROUP BY m2.k, m2.mu
    ),
    ab AS (
      SELECT mu * (mu * (1 - mu) / vv - 1) AS alpha,
             (1 - mu) * (mu * (1 - mu) / vv - 1) AS beta
      FROM v
    )
    SELECT rr.nation, rr.n, rr.pos,
           round(rr.rate, 6) AS raw_rate,
           round((CAST(rr.pos AS DOUBLE) + ab.alpha)
                 / (CAST(rr.n AS DOUBLE) + ab.alpha + ab.beta), 6)
             AS shrunk_rate
    FROM rr CROSS JOIN ab
    """,
)
def agg_eb_shrinkage(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("nation"),
    )
    r = (
        orders.select(
            F.col("o_custkey").alias("c_custkey"),
            (F.col("o_orderpriority") == "1-URGENT")
            .cast("int")
            .alias("u"),
        )
        .join(cust, "c_custkey")
        .join(F.broadcast(nation), "c_nationkey")
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("u").cast("long").alias("pos"),
        )
    )
    rr = r.select(
        "nation",
        "n",
        "pos",
        (F.col("pos").cast("double") / F.col("n").cast("double")).alias(
            "rate"
        ),
    )

    def fold(col):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("nation", col))),
                lambda s: s[col],
            ),
            F.lit(0.0).cast("double"),
            lambda a, b: a + b,
        )

    m = rr.agg(
        F.count(F.lit(1)).alias("k"), fold("rate").alias("s")
    ).select("k", (F.col("s") / F.col("k").cast("double")).alias("mu"))
    dev = rr.crossJoin(F.broadcast(m)).select(
        "nation",
        "k",
        "mu",
        ((F.col("rate") - F.col("mu")) * (F.col("rate") - F.col("mu")))
        .alias("d2"),
    )
    v = dev.groupBy("k", "mu").agg(fold("d2").alias("sv")).select(
        "mu", (F.col("sv") / F.col("k").cast("double")).alias("vv")
    )
    c = F.col("mu") * (1 - F.col("mu")) / F.col("vv") - 1
    ab = v.select(
        (F.col("mu") * c).alias("alpha"),
        ((1 - F.col("mu")) * c).alias("beta"),
    )
    return rr.crossJoin(F.broadcast(ab)).select(
        "nation",
        "n",
        "pos",
        F.round("rate", 6).alias("raw_rate"),
        F.round(
            (F.col("pos").cast("double") + F.col("alpha"))
            / (
                F.col("n").cast("double")
                + F.col("alpha")
                + F.col("beta")
            ),
            6,
        ).alias("shrunk_rate"),
    )


@register(
    "agg_abc_analysis",
    # ABC / Pareto 80-20 analysis over parts by lineitem revenue (the
    # inventory-classification staple): parts ranked by revenue DESC,
    # classes cut at 70% / 90% of cumulative revenue share, per-class
    # part counts and revenue shares. Revenue rides the exact cents
    # lattice; the global running sum is operators/topk.py:block_cumsum
    # (block-prefix — no single-partition window over the parts table);
    # the class rule compares exact integer cumulative cents against
    # 70%/90% of the exact total via integer cross-multiplication
    # (cum*100 <= total*70), so no float enters until the final shares.
    """
    WITH pr AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    r AS (
      SELECT l_partkey, cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_cents,
             CAST(sum(cents) OVER () AS BIGINT) AS total
      FROM pr
    ),
    cls AS (
      SELECT CASE WHEN cum_cents * 100 <= total * 70 THEN 'A'
                  WHEN cum_cents * 100 <= total * 90 THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents, total
      FROM r
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           round(CAST(sum(cents) AS DOUBLE) / CAST(max(total) AS DOUBLE),
                 6) AS revenue_share
    FROM cls GROUP BY 1
    """,
)
def agg_abc_analysis(spark, sf_dir):
    from ..operators.topk import block_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).cast("long").alias("cents"),
    )
    # block_cumsum orders ASCENDING — feed negated cents so the walk is
    # revenue-DESC, then reuse the cumulative identity cum_desc = cum_neg
    pr2 = pr.select(
        "l_partkey", "cents", (-F.col("cents")).alias("neg")
    )
    cum = block_cumsum(pr2, "neg", ["cents"], tiebreak_col="l_partkey")
    tot = pr.agg(F.sum("cents").cast("long").alias("total"))
    cls = cum.crossJoin(F.broadcast(tot)).select(
        "cents",
        "total",
        F.when(
            F.col("cum_cents") * 100 <= F.col("total") * 70, "A"
        )
        .when(F.col("cum_cents") * 100 <= F.col("total") * 90, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").cast("long").alias("revenue_cents"),
        F.round(
            F.sum("cents").cast("double")
            / F.max("total").cast("double"),
            6,
        ).alias("revenue_share"),
    )


@register(
    "agg_mcnemar",
    # McNemar's paired test (the classifier-comparison companion to
    # agg_cohens_kappa: do raters A and B make DIFFERENT errors against
    # the label, not just agree with each other?): label = n_chars >=
    # 300, rater A = text length >= 290, rater B = word count >= 50.
    # The discordant cells b (A right, B wrong) and c (A wrong, B
    # right) come from one conditional-sum scan; the continuity-
    # corrected statistic (|b-c|-1)^2/(b+c) is exact integers + ONE
    # division.
    r"""
    WITH rated AS (
      SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y,
             CASE WHEN length(text) >= 290 THEN 1 ELSE 0 END AS a,
             CASE WHEN length(list_filter(string_split_regex(text,
                    '\s+'), x -> x <> '')) >= 50
                  THEN 1 ELSE 0 END AS b
      FROM documents
    ),
    cells AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                  AS BIGINT) AS b_cell,
             CAST(sum(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_cell
      FROM rated
    )
    SELECT n, b_cell, c_cell,
           round(CAST((abs(b_cell - c_cell) - 1)
                      * (abs(b_cell - c_cell) - 1) AS DOUBLE)
                 / CAST(b_cell + c_cell AS DOUBLE), 6) AS mcnemar_chi2
    FROM cells
    """,
)
def agg_mcnemar(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    rated = docs.select(
        (F.col("n_chars") >= 300).cast("int").alias("y"),
        (F.length("text") >= 290).cast("int").alias("a"),
        (F.size(words) >= 50).cast("int").alias("b"),
    )
    cells = rated.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            ((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")))
            .cast("int")
        ).cast("long").alias("b_cell"),
        F.sum(
            ((F.col("a") != F.col("y")) & (F.col("b") == F.col("y")))
            .cast("int")
        ).cast("long").alias("c_cell"),
    )
    d = F.abs(F.col("b_cell") - F.col("c_cell")) - 1
    return cells.select(
        "n",
        "b_cell",
        "c_cell",
        F.round(
            (d * d).cast("double")
            / (F.col("b_cell") + F.col("c_cell")).cast("double"),
            6,
        ).alias("mcnemar_chi2"),
    )


@register(
    "agg_log_log_elasticity",
    # Log-log demand curve (price elasticity, the econometrics staple):
    # per part, x = ln(retail price in cents), y = ln(total quantity
    # sold); elasticity = OLS slope of y on x across parts. ln() output
    # is engine-1-ulp territory AND the moments are cross-row float
    # sums — both killed by QUANTIZING each ln to the 1e-6 integer
    # lattice per row (floor(ln*1e6 + 0.5): identical input double ->
    # identical rounded integer on both engines, the ln-parity
    # convention one step safer), so the five OLS moments are exact
    # DECIMAL(38,0) sums of lattice integers and the slope/intercept
    # are single divisions.
    """
    WITH p AS (
      SELECT l.l_partkey,
             CAST(floor(ln(CAST(CAST(round(pt.p_retailprice * 100)
                                     AS BIGINT) AS DOUBLE)) * 1000000.0
                        + 0.5) AS BIGINT) AS lx,
             CAST(floor(ln(CAST(CAST(sum(l.l_quantity) AS BIGINT)
                                AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT) AS ly
      FROM lineitem l JOIN part pt ON l.l_partkey = pt.p_partkey
      GROUP BY l.l_partkey, pt.p_retailprice
    ),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(lx) AS DECIMAL(38,0)) AS sx,
             CAST(sum(ly) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(lx AS DECIMAL(19,0)) * CAST(lx AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(lx AS DECIMAL(19,0)) * CAST(ly AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS sxy
      FROM p
    )
    SELECT n,
           round(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
                 / CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
                        AS DOUBLE), 6) AS elasticity,
           round((CAST(sy AS DOUBLE)
                  - CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy
                         AS DOUBLE)
                    / CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
                           AS DOUBLE)
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) / 1000000.0, 6) AS intercept_ln
    FROM mo
    """,
)
def agg_log_log_elasticity(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice"
    )
    lat = lambda c: F.floor(  # noqa: E731
        F.log(c) * 1000000.0 + 0.5
    ).cast("long")
    p = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("l_partkey", "p_retailprice")
        .agg(F.sum("l_quantity").cast("long").alias("qty"))
        .select(
            lat(
                F.round(F.col("p_retailprice") * 100)
                .cast("long")
                .cast("double")
            ).alias("lx"),
            lat(F.col("qty").cast("double")).alias("ly"),
        )
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    mo = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").cast("decimal(38,0)").alias("sx"),
        F.sum("ly").cast("decimal(38,0)").alias("sy"),
        F.sum(d19("lx") * d19("lx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(d19("lx") * d19("ly")).cast("decimal(38,0)").alias("sxy"),
    )
    dn = F.col("n").cast("decimal(38,0)")
    slope = (dn * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (dn * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return mo.select(
        "n",
        F.round(slope, 6).alias("elasticity"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / 1000000.0,
            6,
        ).alias("intercept_ln"),
    )


_HILL_K = 100


@register(
    "agg_hill_tail_index",
    # Hill estimator of the Pareto tail index over order prices (Hill
    # 1975 — the heavy-tail diagnostic behind "is this distribution
    # power-law?"): with x_(1) >= ... >= x_(k) the top-k order
    # statistics, 1/alpha = mean of ln(x_(i)/x_(k+1)) over i <= k.
    # Top-(k+1) selection by exact integer cents (global_rank-free:
    # a fixed-k TakeOrdered shape via row_number over cents DESC,
    # orderkey tie-break — k+1 = 101 rows, never a global sort kept);
    # each ln is quantized to the 1e-6 lattice per row (the
    # agg_log_log_elasticity convention: kills ln 1-ulp drift AND makes
    # the k-term sum an exact integer), so 1/alpha and alpha are single
    # divisions.
    f"""
    WITH p AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             row_number() OVER (ORDER BY round(o_totalprice * 100) DESC,
                                o_orderkey) AS rk
      FROM orders
    ),
    top AS (SELECT cents, rk FROM p WHERE rk <= {_HILL_K} + 1),
    thr AS (SELECT cents AS x_k1 FROM top WHERE rk = {_HILL_K} + 1),
    lat AS (
      SELECT CAST(floor(ln(CAST(t.cents AS DOUBLE)
                           / CAST(thr.x_k1 AS DOUBLE)) * 1000000.0
                        + 0.5) AS BIGINT) AS lr
      FROM top t CROSS JOIN thr WHERE t.rk <= {_HILL_K}
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           CAST(sum(lr) AS BIGINT) AS sum_lr_u,
           round(CAST(sum(lr) AS DOUBLE) / {_HILL_K}.0 / 1000000.0, 6)
             AS inv_alpha,
           round({_HILL_K}.0 * 1000000.0 / CAST(sum(lr) AS DOUBLE), 6)
             AS alpha
    FROM lat
    """,
)
def agg_hill_tail_index(spark, sf_dir):
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    k = _HILL_K
    p = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    # TakeOrderedAndProject (distributed top-k heap) FIRST, then rank
    # within the 101-row result — a row_number over the raw table would
    # be the single-partition global window (the r3 #3 anti-pattern)
    top101 = p.orderBy(F.desc("cents"), F.asc("o_orderkey")).limit(k + 1)
    w = Window.orderBy(F.desc("cents"), F.asc("o_orderkey"))
    top = top101.withColumn("rk", F.row_number().over(w)).select(
        "cents", "rk"
    )
    thr = top.filter(F.col("rk") == k + 1).select(
        F.col("cents").alias("x_k1")
    )
    lat = (
        top.filter(F.col("rk") <= k)
        .crossJoin(F.broadcast(thr))
        .select(
            F.floor(
                F.log(
                    F.col("cents").cast("double")
                    / F.col("x_k1").cast("double")
                )
                * 1000000.0
                + 0.5
            ).cast("long").alias("lr")
        )
    )
    return lat.agg(
        F.lit(k).cast("long").alias("k"),
        F.sum("lr").cast("long").alias("sum_lr_u"),
        F.round(
            F.sum("lr").cast("double") / float(k) / 1000000.0, 6
        ).alias("inv_alpha"),
        F.round(
            float(k) * 1000000.0 / F.sum("lr").cast("double"), 6
        ).alias("alpha"),
    )
