"""Flagship query — the reference's signature analysis re-expressed
Spark-first (SURVEY §7 step 1, §3.2).

*Weekly prevalence of the top-n keys*: scan → filter → Sunday-anchored
tumbling week (W1) → group-count (W2) → window-normalized percentage (W4)
→ top-k by total frequency (O4) → ordered long-form result.

In the reference this is four nested Python loops (protein × continent ×
week × code, Time_Series.py + Plotting_Functions.py top-n). Here it's one
declarative plan: two shuffles total (groupBy(week,key); the top-k
aggregate reuses the first shuffle's output), the top-k set joins back
broadcast, and everything stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.timeseries import weekly_frequency, weekly_percentage
from ..sources.tables import load_table


def weekly_prevalence_top_n(
    spark: SparkSession,
    sf_dir: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    n: int = 10,
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    freq = weekly_frequency(events, ts_col, key_col)
    pct = weekly_percentage(freq)

    # Top-n keys by total frequency across all weeks — tiny, broadcast back.
    top = (
        freq.groupBy("key")
        .agg(F.sum("freq").alias("total_freq"))
        .orderBy(F.desc("total_freq"), F.asc("key"))
        .limit(n)
    )

    return (
        pct.join(F.broadcast(top), "key")
        .select(
            F.col("key").alias("event_type"),
            F.col("week_start"),
            F.col("freq"),
            F.round(F.col("pct"), 6).alias("pct"),
            F.col("total_freq"),
        )
    )
