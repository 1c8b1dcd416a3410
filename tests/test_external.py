"""External-tool orchestration (operators/external.py): the partition-
batched subprocess path must round-trip records, actually execute the
command, batch per-partition (not per-record), and fail fast with a
clear message when the binary is absent."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

from gisaid_pipeline_functions_spark.operators.external import (
    identity_tool_command,
    run_external_tool,
)


def _df(spark, n=20, parts=4):
    return (
        spark.range(n)
        .select(
            F.col("id").cast("string").alias("id"),
            F.concat(F.lit("seq"), F.col("id")).alias("sequence"),
        )
        .repartition(parts)
    )


def test_identity_roundtrip_across_partitions(spark):
    df = _df(spark)
    out = {r["id"]: r["sequence"] for r in run_external_tool(df, identity_tool_command()).collect()}
    assert out == {str(i): f"seq{i}" for i in range(20)}


def test_command_actually_transforms(spark):
    # an uppercasing stand-in proves the subprocess output (not the
    # input) is what comes back
    script = (
        "import sys\n"
        "lines = open(sys.argv[1]).read().splitlines()\n"
        "with open(sys.argv[2], 'w') as g:\n"
        "    for l in lines:\n"
        "        g.write(l if l.startswith('>') else l.upper())\n"
        "        g.write('\\n')\n"
    )
    cmd = [sys.executable, "-c", script, "{input}", "{output}"]
    out = {r["id"]: r["sequence"] for r in run_external_tool(_df(spark, n=6, parts=2), cmd).collect()}
    assert out == {str(i): f"SEQ{i}" for i in range(6)}


def test_per_partition_batching_not_per_record(spark, tmp_path):
    # the tool must run once per non-empty partition: count invocations
    # via an append-marker stand-in
    marker = tmp_path / "invocations"
    script = (
        "import sys\n"
        f"open({str(marker)!r}, 'a').write('x')\n"
        "open(sys.argv[2], 'w').write(open(sys.argv[1]).read())\n"
    )
    cmd = [sys.executable, "-c", script, "{input}", "{output}"]
    n_rows = 40
    n_parts = 4
    out = run_external_tool(_df(spark, n=n_rows, parts=n_parts), cmd).count()
    assert out == n_rows
    assert len(marker.read_text()) <= n_parts  # ≤: some partitions may be empty


def test_missing_binary_fails_fast(spark):
    cmd = ["definitely_not_a_real_aligner_xyz", "-i", "{input}", "-o", "{output}"]
    with pytest.raises(Exception, match="not found on this executor"):
        run_external_tool(_df(spark, n=4, parts=1), cmd).collect()


def test_placeholders_required(spark):
    with pytest.raises(ValueError, match="placeholders"):
        run_external_tool(_df(spark), ["tool", "-i", "in", "-o", "out"])


def test_align_clusters_api_keeps_cluster_tags(spark):
    from gisaid_pipeline_functions_spark.api import align_clusters

    df = (
        spark.range(12)
        .select(
            (F.col("id") % 3).alias("cluster"),
            F.col("id").cast("string").alias("id"),
            F.concat(F.lit("s"), F.col("id")).alias("sequence"),
        )
    )
    out = align_clusters(df, identity_tool_command()).collect()
    assert {(r["cluster"], r["id"], r["sequence"]) for r in out} == {
        (str(i % 3), str(i), f"s{i}") for i in range(12)
    }


def test_align_clusters_keeps_each_cluster_in_one_invocation(spark, tmp_path):
    # The stand-in tool records the clusters of each FASTA it is handed;
    # with num_partitions set, no cluster may reach two invocations.
    from gisaid_pipeline_functions_spark.api import align_clusters

    marks = tmp_path / "marks"
    marks.mkdir()
    script = (
        "import sys, tempfile\n"
        "text = open(sys.argv[1]).read()\n"
        "clusters = {l[1:].split('|')[0] for l in text.splitlines() if l.startswith('>')}\n"
        f"with tempfile.NamedTemporaryFile('w', dir={str(marks)!r}, delete=False) as m:\n"
        "    m.write(' '.join(sorted(clusters)))\n"
        "open(sys.argv[2], 'w').write(text)\n"
    )
    df = spark.range(60).select(
        (F.col("id") % 12).alias("cluster"),
        F.col("id").cast("string").alias("id"),
        F.concat(F.lit("s"), F.col("id")).alias("sequence"),
    )
    out = align_clusters(
        df, [sys.executable, "-c", script, "{input}", "{output}"], num_partitions=4
    ).collect()
    assert len(out) == 60
    runs = [p.read_text().split() for p in marks.iterdir()]
    seen = [c for run in runs for c in run]
    assert sorted(seen) == sorted(str(c) for c in range(12))
