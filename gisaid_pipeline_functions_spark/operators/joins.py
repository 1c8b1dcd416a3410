"""Join-family operators (SURVEY §2.5 J1–J9).

Strategy by shape, chosen for 100 TB:
- big×big equi-joins (J1) → let AQE pick sort-merge + skew splitting; we
  only guarantee the join keys are the shuffle keys and columns are pruned
  before the join.
- small dimensions (J2/J3/J4/J7) → explicit ``broadcast()`` hints.
- the range/interval join (J6) → broadcast non-equi join against the tiny
  region list + first-match-wins via ``row_number`` over region priority,
  ``Other`` fallback (reference Plotting_Functions.py:76–169 loops a Python
  list per row).
- the 2×2 contingency "join" (J9) → the reference runs four complementary
  containment filters over the whole table (Plotting_Functions.py:1243–1315);
  one ``groupBy(flagA, flagB)`` pass replaces all four.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def annotate_ranges(
    df: DataFrame,
    value_col: str,
    regions: DataFrame,
    name_col: str = "name",
    start_col: str = "start",
    end_col: str = "end",
    other: str = "Other",
) -> DataFrame:
    """J6 — closed-interval lookup, first match wins, unmatched → ``other``
    (reference check_position, Plotting_Functions.py:96–103: iterates the
    region list in order and returns on first hit).

    ``regions`` must carry a ``priority`` column defining "first". The join
    is a broadcast nested-loop (non-equi) against a dimension of a few
    rows — no shuffle of the fact side.
    """
    v = F.col(value_col)
    # unique row handle so overlapping regions dedupe per input row, not per
    # distinct value tuple
    tagged = df.withColumn("_row_id", F.monotonically_increasing_id())
    joined = tagged.join(
        F.broadcast(regions),
        (v >= F.col(start_col)) & (v <= F.col(end_col)),
        "left",
    )
    w = Window.partitionBy("_row_id").orderBy(F.col("priority").asc_nulls_last())
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .withColumn("region_name", F.coalesce(F.col(name_col), F.lit(other)))
        .drop("_rn", "_row_id", name_col, start_col, end_col, "priority")
    )


def contingency_2x2(
    df: DataFrame, flag_a, flag_b, weight_col: str | None = None
) -> DataFrame:
    """J9 — one grouped pass over (A, B) membership flags, summing the
    weight (reference sums Cluster_Size across four separate filters,
    Plotting_Functions.py:1279–1307; their grand-total reconciliation at
    :1307 is free here — the four groups partition the input)."""
    w = F.sum(weight_col) if weight_col else F.count(F.lit(1))
    return (
        df.select(flag_a.alias("has_a"), flag_b.alias("has_b"), *( [F.col(weight_col)] if weight_col else []))
        .groupBy("has_a", "has_b")
        .agg(w.alias("total"))
    )


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    bucket_cols: list[str],
    start_a: str = "start_a",
    end_a: str = "end_a",
    start_b: str = "start_b",
    end_b: str = "end_b",
) -> DataFrame:
    """Interval × interval OVERLAP join (beyond J6's point-in-interval
    first-match): rows pair when their [start, end) spans intersect.

    A naive non-equi overlap join plans as BroadcastNestedLoopJoin —
    O(|A|·|B|) and a driver-memory bomb at scale. Here the caller
    provides ``bucket_cols`` — a co-partitioning key both sides derive
    from their intervals (calendar date, coarse time bucket, tenant id)
    such that matching intervals share a bucket — and the join becomes a
    plain EQUI-join on the bucket with the overlap test as a residual
    filter: shuffle-partitionable, skew-handleable by AQE, no nested
    loop. Intervals spanning multiple buckets must be pre-exploded to one
    row per covered bucket by the caller (then de-duped downstream);
    single-bucket derivations (per-day spans) need no explode.

    Overlap is STRICT (max(start) < min(end)): half-open [s, e) spans
    that merely touch do not pair. Emits ``overlap_micros``."""
    ov_start = F.greatest(F.col(start_a), F.col(start_b))
    ov_end = F.least(F.col(end_a), F.col(end_b))
    return (
        a.join(b, bucket_cols)
        .filter(ov_start < ov_end)
        .withColumn(
            "overlap_micros", F.unix_micros(ov_end) - F.unix_micros(ov_start)
        )
    )


def edit_distance_one_pairs(df: DataFrame, col: str) -> DataFrame:
    """Fuzzy self-join: every distinct-value pair at Levenshtein distance
    ≤ 1, WITHOUT a cross join — the deletion-neighborhood trick
    (FastSS / SymSpell family, public algorithm).

    Key fact: ``ed(a, b) ≤ 1`` (a ≠ b) implies the variant sets
    ``D(s) = {s} ∪ {s with one character deleted}`` intersect —
    a substitution at position i gives ``del_i(a) = del_i(b)``; an
    insertion/deletion means one string IS a deletion variant of the
    other. So an equi-join on the exploded variants generates a complete
    candidate set, and a native ``levenshtein`` verify removes the
    overgenerated pairs (e.g. transposition-distance-2 strings that
    share a variant).

    Why it scales to 100 TB: the candidate generation is ``n·(L+1)``
    variant rows (L = string length) on a near-unique hash key, versus
    the ``n²`` cross join a naive fuzzy match needs; the verify is
    bounded by actual key collisions. The variants are generated
    map-side with a higher-order ``transform`` — no UDF, no shuffle
    until the bucket groupBy — and the bucket key is
    ``xxhash64(variant)``: the shuffle carries fixed 8-byte keys instead
    of length-(L−1) strings (SymSpell's hashing refinement), and a hash
    collision can only OVERgenerate a candidate, which the
    ``levenshtein`` verify then drops. The verify runs BEFORE the pair
    ``distinct`` — a native per-row expression is far cheaper than
    shuffling the overgenerated pairs (on sequential-ID data ~72% of
    variant collisions are ed=2 shift pairs; filtering first cut the
    dedup shuffle ~4×).

    r17 (guide §2.4/§3): pairs come from a per-variant bucket groupBy +
    in-row ordered pair generation (the ``lsh_candidate_pairs``
    pattern), NOT the former ``variants ⋈ variants`` self-join on ``v``.
    The self-join evaluated the name→distinct→explode pipeline once per
    side (r17 final-plan audit: 3 parquet scans, only 1 ReusedExchange)
    and let the static planner BROADCAST one side — a frame that grows
    with the corpus, the r4 anti-pattern. Bucket members are distinct
    strings (``array_union`` dedups each name's variant set, so a name
    contributes each ``v`` at most once), and ``array_sort`` uses the
    same binary string ordering as the old ``va.s < vb.s`` predicate, so
    (ss[i], ss[j]) for i < j is exactly the old pair multiset, verify
    included. Per-row memory is O(bucket): every exploded left row
    carries the bucket's whole sorted array for its tail slice. A
    degenerate hot variant is split across tasks by the r18
    ``bucket_pair_rows`` guard (see its docstring in operators/dedup.py),
    which bounds the left elements per task, not the row width.
    """
    names = df.select(F.col(col).cast("string").alias("s")).distinct()
    s = F.col("s")
    deletions = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            s.substr(F.lit(1), (i - 1).cast("int")),
            s.substr((i + 1).cast("int"), F.length(s)),
        ),
    )
    variants = names.select(
        "s",
        F.explode(
            F.transform(
                F.array_union(F.array(s), deletions), lambda v: F.xxhash64(v)
            )
        ).alias("v"),
    )
    from .dedup import bucket_pair_rows

    buckets = (
        variants.groupBy("v")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    return (
        bucket_pair_rows(buckets, "ss", "name_a", "name_b")
        # thresholded levenshtein runs the BANDED O(L·k) DP and
        # early-exits with -1 past the bound — measured 5.7s → ~0.6s on
        # ~1M candidate pairs vs the full O(L²) form
        .withColumn(
            "edit_distance",
            F.levenshtein("name_a", "name_b", threshold=1).cast("long"),
        )
        .filter(F.col("edit_distance") >= 0)
        .distinct()
    )
