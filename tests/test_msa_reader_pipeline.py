"""End-to-end MSA_Reader pipeline test (SURVEY §3.1) + catalog discovery
(S9) + headerless TSV scan (S4)."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gisaid_pipeline_functions_spark.plans.msa_reader import run_msa_reader
from gisaid_pipeline_functions_spark.sources.catalog import (
    discover_partitions,
    discover_protein_files,
)
from gisaid_pipeline_functions_spark.sources.tables import read_headerless_tsv


@pytest.fixture(scope="module")
def outputs(spark):
    aligned = spark.createDataFrame(
        [
            ("S", "Uniq1", 10, "MSKTPAQTLV"),  # sub L4T
            ("S", "Uniq2", 5, "MS---AQTLV"),  # multi del K3_P5del
            ("S", "Uniq3", 2, "MSKLPAQTLV"),  # no variants
        ],
        "protein string, cluster_id string, cluster_size long, aligned_seq string",
    )
    return run_msa_reader(aligned, {"S": "MSKLPAQTLV"}, total_seq=17, ref_length=10)


def test_all_parts_consistent(outputs):
    # Part 1 events feed every report without re-derivation
    assert outputs.variants_raw.count() == 2
    # Part 2: cluster report has one block per variant cluster
    blocks = [r["value"] for r in outputs.cluster_report.collect()]
    assert len(blocks) == 2
    # Part 3: mutation CSV frequencies = Σ cluster_size per code
    csv = {r["Code"]: r for r in outputs.all_by_code.collect()}
    assert csv["L4T"]["Frequency"] == 10
    assert csv["K3_P5del"]["Frequency"] == 5
    # Part 4: count table splits the multi-del across residues 3,4,5 and
    # the sub onto residue 4
    counts = {r["Residue_Number"]: r for r in outputs.variant_counts.collect()}
    assert counts[4]["Substitutions"] == 10
    assert counts[4]["Deletions"] == 5
    assert counts[3]["Deletions"] == 5
    assert counts[5]["Deletions"] == 5
    assert counts[10]["Total_Variants"] == 0


def test_reports_by_type_partition_events(outputs):
    # every event lands in exactly one of the four by-code reports
    n = sum(
        df.count()
        for df in (
            outputs.sub_report,
            outputs.ins_report,
            outputs.del_report,
            outputs.indel_report,
        )
    )
    distinct_codes = outputs.variants_raw.select("Code").distinct().count()
    assert n == distinct_codes


def test_catalog_discovery(tmp_path):
    (tmp_path / "Spike_msa.fasta").write_text(">a\nMM\n")
    (tmp_path / "NSP5_msa.fasta").write_text(">b\nKK\n")
    (tmp_path / "NSP5_extra.fasta").write_text(">c\nLL\n")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        found = discover_protein_files(str(tmp_path), ["Spike", "NSP5", "ORF3a"])
    assert found["Spike"].endswith("Spike_msa.fasta")
    assert found["NSP5"].endswith("NSP5_extra.fasta")  # first lexicographic
    assert "ORF3a" not in found
    msgs = "".join(str(x.message) for x in w)
    assert "no file found" in msgs and "2 files match" in msgs

    (tmp_path / "protein=Spike").mkdir()
    (tmp_path / "protein=NSP5").mkdir()
    parts = discover_partitions(str(tmp_path))
    assert set(parts) == {"Spike", "NSP5"}


def test_headerless_tsv_positional_schema(spark, tmp_path):
    p = tmp_path / "clusters.tsv"
    p.write_text("h1|x|y|EPI_1\tUniq1\t1\t1\t3\tt\nh2|x|y|EPI_2\tUniq2\t2\t1\t1\tt\n")
    schema = StructType(
        [
            StructField("Input_ID", StringType()),
            StructField("Cluster_Name", StringType()),
            StructField("Cluster_num", LongType()),
            StructField("Member_num", LongType()),
            StructField("Cluster_Size", LongType()),
            StructField("Target_Seq", StringType()),
        ]
    )
    df = read_headerless_tsv(spark, str(p), schema)
    rows = {r["Cluster_Name"]: r for r in df.collect()}
    assert rows["Uniq1"]["Cluster_Size"] == 3
    assert rows["Uniq2"]["Input_ID"] == "h2|x|y|EPI_2"


_BUILDERS = (
    "variants_by_cluster",
    "cluster_report_text",
    "code_report_text",
    "mutation_csv",
    "mutation_count_table",
)
_REPORTS = (
    "variants_raw",
    "by_cluster",
    "cluster_report",
    "sub_report",
    "ins_report",
    "del_report",
    "indel_report",
    "all_by_code",
    "variant_counts",
)


def test_report_suite_builds_only_what_is_read(spark, monkeypatch):
    # a caller reading the event table and the count table (the benchmark's
    # two outputs) must not pay for the other seven reports' analysis
    import dataclasses
    from collections import Counter

    from pyspark.sql import DataFrame

    from gisaid_pipeline_functions_spark.operators.variant_caller import call_variants
    from gisaid_pipeline_functions_spark.plans import msa_reader

    calls: Counter = Counter()
    for name in _BUILDERS:
        def counted(*args, _fn=getattr(msa_reader, name), _name=name, **kwargs):
            calls[_name] += 1
            return _fn(*args, **kwargs)

        monkeypatch.setattr(msa_reader, name, counted)
    aligned = spark.createDataFrame(
        [("S", "Uniq1", 10, "MSKTPAQTLV"), ("S", "Uniq2", 5, "MS---AQTLV")],
        "protein string, cluster_id string, cluster_size long, aligned_seq string",
    )
    variants = call_variants(aligned, {"S": "MSKLPAQTLV"}).cache()

    sc = spark.sparkContext
    group = "test-lazy-report-suite"
    sc.setJobGroup(group, "build a report suite, read two reports", False)
    try:
        suite = msa_reader.reports_from_variants(variants, total_seq=17, ref_length=10)
        read = (suite.variants_raw, suite.variant_counts)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert calls == {"mutation_count_table": 1}
    assert read[0] is variants

    assert dataclasses.is_dataclass(suite)
    for name in _REPORTS:
        assert isinstance(getattr(suite, name), DataFrame), name
    assert calls == {
        "variants_by_cluster": 1,
        "cluster_report_text": 1,
        "code_report_text": 4,
        "mutation_csv": 1,
        "mutation_count_table": 1,
    }
    # built once: a second read is the same object and calls no builder
    for name in _REPORTS:
        assert getattr(suite, name) is getattr(suite, name), name
    assert sum(calls.values()) == 8
    assert suite.variant_counts.count() == 10
