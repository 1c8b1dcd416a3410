"""operators/layout.py:spread — the one under-split guard. It must spread
a single-split scan, leave a well-split one and a stream alone, and decide
without running a Spark job, whatever exchange feeds the frame."""

from __future__ import annotations

import contextlib
import io
from pathlib import Path

from pyspark.sql import functions as F

from gisaid_pipeline_functions_spark.operators.layout import spread

PACKAGE = Path(__file__).resolve().parents[1] / "gisaid_pipeline_functions_spark"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _build_jobs(spark, group, build):
    """``build()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _parquet(spark, path, df, files):
    df.repartition(files).write.parquet(str(path))
    return spark.read.parquet(str(path))


def test_single_split_scan_gets_default_parallelism(spark, tmp_path):
    df = _parquet(spark, tmp_path / "one", spark.range(100), 1)
    assert df.rdd.getNumPartitions() == 1
    out = spread(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in out.collect()) == list(range(100))


def test_well_split_scan_gets_no_exchange(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    df = _parquet(spark, tmp_path / "many", spark.range(100), target)
    assert df.rdd.getNumPartitions() >= target
    assert spread(df) is df


def test_streaming_frame_is_returned_unchanged(spark):
    stream = spark.readStream.format("rate").load()
    assert spread(stream) is stream


def test_cached_shuffle_is_not_run(spark):
    # counting the partitions of a cached frame that is not filled yet
    # would fill it, shuffle included
    cached = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count().cache()
    frame = cached.select("k")
    try:
        out, jobs = _build_jobs(spark, "layout-cached", lambda: spread(frame))
        assert jobs == 0
        assert out is frame
    finally:
        cached.unpersist()


def test_render_then_decode_runs_no_job_while_built(spark, tmp_path):
    from gisaid_pipeline_functions_spark.operators.multimodal import (
        bmp_decode,
        documents_as_bmp,
    )

    docs = _parquet(
        spark,
        tmp_path / "docs",
        spark.range(8).select(
            F.col("id").alias("doc_id"), F.concat(F.lit("doc "), F.col("id")).alias("text")
        ),
        1,
    )
    out, jobs = _build_jobs(spark, "layout-bmp", lambda: bmp_decode(documents_as_bmp(docs)))
    assert jobs == 0
    assert out.count() == 8


def test_variant_kernel_on_broadcast_join_runs_no_job_while_built(spark, tmp_path):
    from gisaid_pipeline_functions_spark.operators.variant_caller import call_variants

    aligned = _parquet(
        spark,
        tmp_path / "aligned",
        spark.createDataFrame(
            [("S", "c1", "MKV"), ("S", "c2", "MRT")],
            "protein string, cluster_id string, aligned_seq string",
        ),
        1,
    )
    sizes = spark.createDataFrame([("c1", 3), ("c2", 5)], "cluster_id string, cluster_size long")
    inp = aligned.join(F.broadcast(sizes), "cluster_id")
    assert "BroadcastExchange" in _plan(inp)
    out, jobs = _build_jobs(spark, "layout-variants", lambda: call_variants(inp, {"S": "MKT"}))
    assert jobs == 0
    assert sorted((r.Cluster_ID, r.Code) for r in out.collect()) == [
        ("c1", "T3V"),
        ("c2", "K2R"),
    ]


def test_only_spread_counts_partitions():
    # counting a frame's partitions runs every exchange under it; spread
    # is the one place that decides when that is safe
    callers = sorted(
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if "getNumPartitions" in p.read_text()
    )
    assert callers == ["operators/layout.py"]
