"""FASTA source/sink round-trip tests (SURVEY §2.1 S1/S3, §2.2 K3/K4)."""

from __future__ import annotations

import glob
import os
import tempfile
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gisaid_pipeline_functions_spark.sources.fasta import (
    parse_headers,
    read_fasta,
    write_fasta,
    write_fasta_partitioned,
)

FASTA = """>Spike|hCoV-19/x/2020|2020-03-01|EPI_ISL_1|a|b|Human
MFVFLVLLPLVSS
QCVNL
>NSP5|hCoV-19/y/2020|2020-03-02|EPI_ISL_2|a|b|Human
SGFRKMAFPS
>Spike|hCoV-19/z/2020|2020-03|EPI_ISL_3|a|b|Bat
MFVFLXXLPLVSS
"""


@pytest.fixture(scope="module")
def fasta_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("fasta")
    p = d / "seqs.fasta"
    p.write_text(FASTA)
    return str(p)


def test_read_fasta_records(spark, fasta_path):
    recs = {r["header"]: r["seq"] for r in read_fasta(spark, fasta_path).collect()}
    assert len(recs) == 3
    # multi-line sequence is concatenated in order
    assert recs["Spike|hCoV-19/x/2020|2020-03-01|EPI_ISL_1|a|b|Human"] == "MFVFLVLLPLVSSQCVNL"
    assert recs["NSP5|hCoV-19/y/2020|2020-03-02|EPI_ISL_2|a|b|Human"] == "SGFRKMAFPS"


def test_parse_headers(spark, fasta_path):
    parsed = parse_headers(read_fasta(spark, fasta_path))
    rows = {r["gisaid_epi_isl"]: r for r in parsed.collect()}
    assert rows["EPI_ISL_1"]["protein"] == "Spike"
    assert rows["EPI_ISL_1"]["host"] == "Human"
    assert rows["EPI_ISL_3"]["host"] == "Bat"
    assert rows["EPI_ISL_2"]["collection_date_raw"] == "2020-03-02"


def test_partitioned_write(spark, fasta_path, tmp_path):
    out = str(tmp_path / "by_protein")
    parsed = parse_headers(read_fasta(spark, fasta_path))
    write_fasta_partitioned(parsed, out)
    dirs = {os.path.basename(p) for p in glob.glob(f"{out}/protein=*")}
    assert dirs == {"protein=Spike", "protein=NSP5"}
    spike_lines = []
    for f in glob.glob(f"{out}/protein=Spike/*.txt"):
        spike_lines += open(f).read().splitlines()
    assert ">Spike|hCoV-19/x/2020|2020-03-01|EPI_ISL_1|a|b|Human" in spike_lines
    assert "MFVFLVLLPLVSSQCVNL" in spike_lines


def test_write_refuses_overwrite(spark, fasta_path, tmp_path):
    out = str(tmp_path / "filtered")
    recs = read_fasta(spark, fasta_path)
    write_fasta(recs, out)
    with pytest.raises(Exception):  # AnalysisException: path already exists
        write_fasta(recs, out)
    write_fasta(recs, out, overwrite=True)  # explicit overwrite OK


def test_quality_filter_on_fasta(spark, fasta_path):
    # the reference's Sequence_Filter flow end-to-end: parse → classify →
    # funnel conservation (Sequence_Filter.py:148–152)
    from pyspark.sql import functions as F

    from gisaid_pipeline_functions_spark.functions.strings import x_content

    parsed = parse_headers(read_fasta(spark, fasta_path))
    reason = (
        F.when(F.col("host") != "Human", "non_human")
        .when(F.length("seq") < 12, "too_short")
        .when(F.length("seq") >= 100, "too_long")
        .when(x_content(F.col("seq"), "X") > 0.05, "too_ambiguous")
        .otherwise("pass")
    )
    tally = {
        r["reason"]: r["n"]
        for r in parsed.select(reason.alias("reason")).groupBy("reason").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert tally == {"pass": 1, "too_short": 1, "non_human": 1}
    assert sum(tally.values()) == parsed.count()  # funnel conservation


def test_read_fasta_across_block_splits(spark, tmp_path):
    # force tiny file splits so records straddle split boundaries — the
    # reader must still return every record whole
    import random

    random.seed(3)
    path = tmp_path / "big.fasta"
    expected = {}
    with open(path, "w") as f:
        for i in range(500):
            header = f"P{i % 7}|iso{i}|d|EPI_{i}|a|b|Human"
            seq = "".join(random.choice("ACDEFGHIKLMNPQRSTVWY") for _ in range(120))
            # write the sequence over multiple lines
            f.write(f">{header}\n{seq[:50]}\n{seq[50:90]}\n{seq[90:]}\n")
            expected[header] = seq
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        recs = {r["header"]: r["seq"] for r in read_fasta(spark, str(path)).collect()}
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert recs == expected


def test_read_fasta_same_basename_across_dirs(spark, tmp_path):
    # regression: two distinct files sharing a basename (the shape
    # write_fasta_partitioned emits: protein=X/part-00000) must keep their
    # records apart
    for sub, recs in [
        ("protein=A", ">A1|x\nMMMM\n>A2|x\nKKKK\n"),
        ("protein=B", ">B1|y\nFFFF\n"),
    ]:
        d = tmp_path / sub
        d.mkdir()
        (d / "part-00000.txt").write_text(recs)
    out = read_fasta(spark, str(tmp_path / "*" / "part-00000.txt"))
    got = {r["header"]: r["seq"] for r in out.collect()}
    assert got == {"A1|x": "MMMM", "A2|x": "KKKK", "B1|y": "FFFF"}


def test_read_fasta_crlf(spark, tmp_path):
    f = tmp_path / "crlf.fasta"
    f.write_bytes(b">H1|x\r\nMMK\r\nKKL\r\n>H2|y\r\nFF\r\n")
    out = read_fasta(spark, str(f))
    got = {r["header"]: r["seq"] for r in out.collect()}
    assert got == {"H1|x": "MMKKKL", "H2|y": "FF"}


def test_read_fasta_plan_is_map_only(spark, fasta_path):
    # one scan, one row per record: records must not be rebuilt from lines
    # through a shuffle, a window or a join
    recs = read_fasta(spark, fasta_path)
    recs.collect()
    plan = recs._jdf.queryExecution().executedPlan().toString()
    for op in ("Exchange", "Window", "Join"):
        assert op not in plan, f"{op} in read_fasta's plan:\n{plan}"


def _parse_fasta(text):
    """Line-by-line reference parser: a ``>`` line opens a record, other
    lines (trailing ``\\r`` and surrounding spaces removed) extend its
    sequence, blank lines are skipped."""
    recs = []
    for line in text.split("\n"):
        line = line[:-1] if line.endswith("\r") else line
        if not line.strip(" "):
            continue
        if line.startswith(">"):
            recs.append([line[1:], ""])
        elif recs:
            recs[-1][1] += line.strip(" ")
    return [tuple(r) for r in recs]


_BLANK = st.sampled_from(["", "  "])


@st.composite
def _fasta_text(draw):
    """Well-formed FASTA text: random line ending, wrap width, space
    padding, blank lines before, between and inside records, final newline
    present or absent."""
    records = draw(
        st.lists(
            st.tuples(
                st.text(alphabet="ACxyz019|_-.", min_size=1, max_size=10),
                st.text(alphabet="ACDEFGHIKLMNPQRSTVWYX", max_size=30),
            ),
            max_size=5,
        )
    )
    width = draw(st.integers(min_value=1, max_value=12))
    lines = draw(st.lists(_BLANK, max_size=2))
    for header, seq in records:
        lines.append(">" + header)
        for i in range(0, len(seq), width):
            pad = draw(st.sampled_from(["", " "]))
            lines.append(pad + seq[i : i + width] + pad)
            lines += draw(st.lists(_BLANK, max_size=1))
        lines += draw(st.lists(_BLANK, max_size=1))
    eol = draw(st.sampled_from(["\n", "\r\n"]))
    return eol.join(lines) + (eol if draw(st.booleans()) else "")


@given(texts=st.lists(_fasta_text(), min_size=1, max_size=3), split=st.integers(2, 16))
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_read_fasta_matches_line_parser_at_every_split(spark, texts, split):
    # every text is written `split` times under one glob, copy k behind k
    # blank lines: with `split`-byte file splits, some copy has a split
    # boundary before each byte of the text, "\n" | ">" included
    conf = {"spark.sql.files.maxPartitionBytes": str(split), "spark.sql.files.openCostInBytes": "1"}
    old = {k: spark.conf.get(k) for k in conf}
    expected = Counter()
    with tempfile.TemporaryDirectory() as d:
        for i, text in enumerate(texts):
            for k in range(split):
                with open(os.path.join(d, f"f{i}_{k}.fa"), "wb") as f:
                    f.write(("\n" * k + text).encode())
            for rec in _parse_fasta(text):
                expected[rec] += split
        try:
            for key, value in conf.items():
                spark.conf.set(key, value)
            got = Counter(tuple(r) for r in read_fasta(spark, os.path.join(d, "*.fa")).collect())
        finally:
            for key, value in old.items():
                spark.conf.set(key, value)
    assert got == expected
