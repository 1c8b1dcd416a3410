"""Reference-shaped API wrappers: a user of the reference switches with
the same call shapes (SURVEY §3 entry points)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from gisaid_pipeline_functions_spark import api
from gisaid_pipeline_functions_spark.operators.variant_caller import call_variants


@pytest.fixture(scope="module")
def genomics(spark):
    clusters = spark.createDataFrame(
        [
            ("Spike|x|d|EPI_1|a|b|Human", "Uniq1", 1, 1, 3, "t"),
            ("Spike|x|d|EPI_2|a|b|Human", "Uniq1", 1, 2, 3, "t"),
            ("Spike|x|d|EPI_4|a|b|Human", "Uniq2", 2, 1, 2, "t"),
        ],
        "Input_ID string, Cluster_Name string, Cluster_num long, Member_num long, Cluster_Size long, Target_Seq string",
    )
    metadata = spark.createDataFrame(
        [
            ("EPI_1", "2020-03-01", "Europe"),
            ("EPI_2", "2020-03-02", "Asia"),
            ("EPI_4", "2020-03-08", "Europe"),
        ],
        "gisaid_epi_isl string, date string, region string",
    )
    aligned = spark.createDataFrame(
        [
            ("Spike", "Uniq1", 3, "MSKTPAQTLV"),
            ("Spike", "Uniq2", 2, "MSK-PAQTLV"),
        ],
        "protein string, cluster_id string, cluster_size long, aligned_seq string",
    )
    variants = call_variants(aligned, {"Spike": "MSKLPAQTLV"})
    return clusters, metadata, aligned, variants


def test_read_msa_all(genomics):
    _, _, aligned, _ = genomics
    outs = api.read_msa_all(
        aligned, {"Spike": "MSKLPAQTLV"}, totals={"Spike": 5}, ref_lengths={"Spike": 10}
    )
    assert set(outs) == {"Spike"}
    assert outs["Spike"].variants_raw.count() == 2
    assert outs["Spike"].variant_counts.count() == 10


def test_ts_all_proteins(genomics):
    clusters, metadata, _, variants = genomics
    tables = api.ts_all_proteins(clusters, metadata, variants, ref_cluster="UniqRef")
    freq = {
        (r["week_start"], r["key"]): r["freq"] for r in tables["ts_freq"].collect()
    }
    assert freq[(datetime.date(2020, 3, 1), "L4T")] == 2
    assert freq[(datetime.date(2020, 3, 8), "L4del")] == 1
    assert tables["n_by_continent"].filter("region = 'Worldwide'").count() == 2
    assert tables["top_combinations"].first()["Combination"] in ("L4T", "L4del")


def test_pipeline_seq_counts(genomics, spark):
    _, _, aligned, _ = genomics
    stage1 = aligned
    stage2 = aligned.filter(F.col("cluster_size") >= 3)
    funnel = api.pipeline_seq_counts({"raw": stage1, "filtered": stage2})
    row = funnel.first()
    assert row["raw"] == 2 and row["filtered"] == 1


def test_pipeline_seq_counts_rejects_no_stages():
    # a ValueError, not an assert: `python -O` would strip the check and
    # fail later on `None.na`
    with pytest.raises(ValueError, match="no stages"):
        api.pipeline_seq_counts({})


def test_filter_sequences(spark):
    records = spark.createDataFrame(
        [
            ("Spike|a|b|E1|c|d|Human", "MFVFLVLLPL", "Human"),
            ("Spike|a|b|E2|c|d|Bat", "MFVFLVLLPL", "Bat"),
            ("Spike|a|b|E3|c|d|Human", "MXXXXXXXPL", "Human"),
            # short header: parse_headers gives a NULL host
            ("Spike|a|b|E4", "MFVFLVLLPL", None),
        ],
        "header string, seq string, host string",
    )
    passing, tally = api.filter_sequences(records, lower_bound=5, upper_bound=100)
    t = {r["_reason"]: r["n"] for r in tally.collect()}
    assert t == {"pass": 1, "non_human": 2, "too_ambiguous": 1}
    assert passing.count() == 1
    assert t["pass"] + t["non_human"] + t["too_ambiguous"] == records.count()


def _fasta_pairs(path) -> set[tuple[str, str]]:
    """(header line, sequence line) of every record in the part files: a
    FASTA written by write_fasta has one line per header and sequence."""
    import glob

    lines = [ln for part in glob.glob(f"{path}/part-*") for ln in open(part).read().splitlines()]
    return set(zip(lines[::2], lines[1::2]))


def test_filter_sequences_observed_tally(spark, tmp_path):
    # with out_path the write is the only scan: the tally is observed on it
    # and must hold the rows the groupBy tally holds (no row for a reason
    # with no records), without running a job of its own
    from pyspark.errors import AnalysisException

    records = spark.createDataFrame(
        [
            ("Spike|a|b|E1|c|d|Human", "MFVFLVLLPL", "Human"),
            ("Spike|a|b|E2|c|d|Bat", "MFVFLVLLPL", "Bat"),
            ("Spike|a|b|E3|c|d|Human", "MXXXXXXXPL", "Human"),
            ("Spike|a|b|E4", "MFVFLVLLPL", None),  # NULL host
            ("Spike|a|b|E5|c|d|Human", "MF", "Human"),
            ("NSP5|a|b|E6|c|d|Human", "KKLLMMNNPP", "Human"),
        ],
        "header string, seq string, host string",
    )
    bounds = {"lower_bound": 5, "upper_bound": 100}
    _, grouped = api.filter_sequences(records, **bounds)
    out = tmp_path / "filtered"
    passing, tally = api.filter_sequences(records, out_path=str(out), **bounds)

    sc = spark.sparkContext
    group = "test-observed-tally"
    sc.setJobGroup(group, "collect the observed tally", False)
    try:
        rows = tally.collect()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    want = {r["_reason"]: r["n"] for r in grouped.collect()}
    assert want == {"pass": 2, "non_human": 2, "too_ambiguous": 1, "too_short": 1}
    assert {r["_reason"]: r["n"] for r in rows} == want
    assert len(rows) == len(want)  # too_long has no records and no row
    assert tally.schema.simpleString() == "struct<_reason:string,n:bigint>"

    assert _fasta_pairs(out) == {
        (">Spike|a|b|E1|c|d|Human", "MFVFLVLLPL"),
        (">NSP5|a|b|E6|c|d|Human", "KKLLMMNNPP"),
    }
    assert {r["header"] for r in passing.collect()} == {
        "Spike|a|b|E1|c|d|Human",
        "NSP5|a|b|E6|c|d|Human",
    }
    with pytest.raises(AnalysisException, match="already exists"):
        api.filter_sequences(records, out_path=str(out), **bounds)


def test_split_by_protein(spark, tmp_path):
    f = tmp_path / "in.fasta"
    f.write_text(">Spike|i|d|E1|a|b|Human\nMF\n>NSP5|i|d|E2|a|b|Human\nKK\n")
    out = str(tmp_path / "split")
    api.split_by_protein(spark, str(f), out)
    import glob

    assert {p.split("=")[-1] for p in glob.glob(f"{out}/protein=*")} == {"Spike", "NSP5"}


def test_sort_fasta(spark, tmp_path):
    f = tmp_path / "unsorted.fasta"
    f.write_text(">Uniq10;size=2;\nAA\n>Uniq2;size=5;\nCC\n>Uniq1;size=9;\nGG\n")
    out = str(tmp_path / "sorted")
    api.sort_fasta(spark, str(f), out)
    import glob

    text = "".join(open(p).read() for p in sorted(glob.glob(f"{out}/part-*.txt")))
    headers = [l for l in text.splitlines() if l.startswith(">")]
    assert headers == [">Uniq1;size=9;", ">Uniq2;size=5;", ">Uniq10;size=2;"]


def test_read_msa_all_single_kernel_pass(spark):
    # the multi-protein wrapper must run ONE kernel over the whole table —
    # every per-protein report plan contains exactly one MapInPandas stage
    # (a per-protein kernel loop would rescan P times)
    import contextlib
    import io

    aligned = spark.createDataFrame(
        [
            ("Spike", "Uniq1", 3, "MSKTPAQTLV"),
            ("NSP5", "Uniq1", 2, "AAKTPAQTLV"),
        ],
        "protein string, cluster_id string, cluster_size long, aligned_seq string",
    )
    refs = {"Spike": "MSKLPAQTLV", "NSP5": "AAKLPAQTLV"}
    outs = api.read_msa_all(
        aligned,
        refs,
        totals={"Spike": 3, "NSP5": 2},
        ref_lengths={"Spike": 10, "NSP5": 10},
    )
    assert set(outs) == set(refs)
    assert outs["Spike"].variants_raw.count() == 1
    assert outs["NSP5"].variants_raw.count() == 1
    for p in refs:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            outs[p].variants_raw.explain()  # simple mode: one tree line per node
        plan = buf.getvalue()
        assert plan.count("MapInPandas") == 1, p
        assert "InMemoryTableScan" in plan, p  # slice of the ONE cached pass


def test_sort_fasta_single_file_concat(spark, tmp_path):
    f = tmp_path / "unsorted.fasta"
    f.write_text(">Uniq10;size=2;\nAA\n>Uniq2;size=5;\nCC\n>Uniq1;size=9;\nGG\n")
    out = str(tmp_path / "sorted")
    single = str(tmp_path / "sorted.fasta")
    api.sort_fasta(spark, str(f), out, single_file=single)
    headers = [
        l for l in open(single).read().splitlines() if l.startswith(">")
    ]
    assert headers == [">Uniq1;size=9;", ">Uniq2;size=5;", ">Uniq10;size=2;"]
