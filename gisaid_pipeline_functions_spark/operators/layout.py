"""Data-layout operators for scan pruning at scale (beyond-reference;
the 100 TB lever behind Delta/Iceberg ``OPTIMIZE ZORDER``): multi-
dimensional clustering via Morton (Z-order) interleaving, so per-file
min/max statistics stay TIGHT in every clustered dimension and a
predicate on ANY of them can skip most of the data.

A linear sort clusters one column perfectly and leaves every other
column's per-file range at full width — a filter on the second column
reads everything. Interleaving the bits of both columns makes each
contiguous Z-range an axis-aligned block of the value space, so both
columns' ranges shrink like sqrt(files).

``spread`` is the one under-split guard: CPU-bound map stages (Python
kernels, md5 folds, bootstrap fan-outs) call it on their input so that a
single-file scan does not run the whole stage on one core.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_value(x: Column, y: Column, bits: int = 8) -> Column:
    """Morton code of two non-negative ints (bit interleaving, y in the
    odd positions): a pure 2·bits-term integer expression — well inside
    codegen and far below the generated-Add-chain regime (SCALING.md:
    that starts at hundreds of terms). Identical integer arithmetic
    exists in DuckDB, so oracles replay codes exactly."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(
            F.shiftright(x, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i
        )
        z = z + F.shiftleft(
            F.shiftright(y, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i + 1
        )
    return z


def bucket_stats(
    pts: DataFrame, bucket: Column, x: str = "x", y: str = "y"
) -> DataFrame:
    """Per-bucket min/max/count of both dimensions — exactly the footer
    statistics a parquet file written from that bucket would carry, so
    counting buckets whose [min, max] ranges intersect a predicate box
    IS the file-skipping computation a reader performs, minus the I/O."""
    return pts.groupBy(bucket.alias("b")).agg(
        F.min(x).alias("min_x"),
        F.max(x).alias("max_x"),
        F.min(y).alias("min_y"),
        F.max(y).alias("max_y"),
        F.count(F.lit(1)).alias("n"),
    )


def spread(df: DataFrame) -> DataFrame:
    """``df`` spread over at least ``defaultParallelism`` partitions,
    decided from its physical plan without running any of it.

    - A streaming frame keeps its source's partitioning.
    - A shuffle exchange feeding the final stage already sets its width:
      ``df`` is returned unchanged.
    - A broadcast exchange feeding it is a side input; counting the
      stage's partitions would run the broadcast, so ``df`` is
      repartitioned.
    - With no exchange, the partitions are the scans' splits; counting
      them only plans the scans. Fewer than the target are repartitioned.
    """
    if df.isStreaming:
        return df
    edges = _stage_edges(df._jdf.queryExecution().executedPlan())
    if "shuffle" in edges:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if "broadcast" in edges or df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _stage_edges(node) -> set[str]:
    """Kinds of exchange ("shuffle", "broadcast") at the inputs of the
    stage that computes ``node``, read from the JVM plan tree. Adaptive
    plans are read through their current plan and cached frames through
    the plan that fills the cache."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _stage_edges(node.executedPlan())
    if name == "InMemoryTableScanExec":
        return _stage_edges(node.relation().cachedPlan())
    if name.endswith("ExchangeExec"):
        return {"broadcast" if name.startswith("Broadcast") else "shuffle"}
    children = node.children()
    return set().union(*(_stage_edges(children.apply(i)) for i in range(children.size())))
