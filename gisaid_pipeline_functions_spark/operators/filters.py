"""Filter-family operators (SURVEY §2.4 F1–F12, §2.6 A8/A12).

The reference's quality filter walks sequences one at a time, tallying
rejection reasons in Python counters (Sequence_Filter.py:92–156). Here the
classification is a single ``when``-chain column — one scan classifies AND
tallies, no second pass, and the funnel-conservation invariant
(Sequence_Filter.py:148–152: Σ reason counts == total) holds by
construction of the exhaustive CASE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.strings import count_occurrences


def classify_quality(
    text: Column,
    lang: Column,
    n_chars: Column,
    want_lang: str = "en",
    min_len: int = 100,
    max_len: int = 1500,
    ambiguity_ch: str = "x",
    ambiguity_cutoff: float = 0.05,
) -> Column:
    """Rejection-reason column — the analog of Sequence_Filter.py:122–146's
    host / length / ambiguity branches, evaluated in the reference's branch
    order (first failing test wins)."""
    ratio = count_occurrences(text, ambiguity_ch) / F.length(text)
    return (
        F.when(lang != want_lang, F.lit("wrong_lang"))
        .when(n_chars < min_len, F.lit("too_short"))
        .when(n_chars >= max_len, F.lit("too_long"))
        .when(ratio > ambiguity_cutoff, F.lit("too_ambiguous"))
        .otherwise(F.lit("pass"))
    )


def quality_filter_tally(docs: DataFrame) -> DataFrame:
    """F1 — one-pass rejection tally: groupBy(reason).count()."""
    return (
        docs.select(
            classify_quality(F.col("text"), F.col("lang"), F.col("n_chars")).alias(
                "reason"
            )
        )
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def bucket_histogram(df: DataFrame, col: str, edges: list[float]) -> DataFrame:
    """A8/F9 — counts per user-defined (uneven) bin edges plus overflow bin
    plus percentage (reference Seq_Tools.py:113–155; Pymol_Strings.py:60–65).

    A ``when``-chain bucket expression keeps it in whole-stage codegen; the
    percentage is a window aggregate over the grand total, not a second
    scan. Bucket completeness (Pymol_Strings.py:68) holds because the chain
    ends in ``otherwise``.
    """
    c = F.col(col)
    expr = F.when(c < edges[0], F.lit(f"<{edges[0]:g}"))
    for lo, hi in zip(edges, edges[1:]):
        expr = expr.when((c >= lo) & (c < hi), F.lit(f"[{lo:g},{hi:g})"))
    expr = expr.otherwise(F.lit(f">={edges[-1]:g}"))
    from pyspark.sql import Window

    counts = df.select(expr.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = F.sum("n").over(Window.partitionBy())
    return counts.withColumn("pct", F.round(F.col("n") / total, 6))
