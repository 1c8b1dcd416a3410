"""The workloads: one pass each, through the package's
public entry points, and the checks of a pass's outputs against the
generator's expected values.

A pass builds and executes every output the workload produces. Outputs go
to ``sink(name, df)``: the noop sink in timed passes, a collect in the
check pass. Files are written only where writing them is the workload's
job (the FASTA half of ``sequences``).
"""

from __future__ import annotations

import glob
import json
import os

from gisaid_pipeline_functions_spark import api
from gisaid_pipeline_functions_spark.operators import timeseries
from gisaid_pipeline_functions_spark.plans import plotting_prep
from gisaid_pipeline_functions_spark.sources import fasta, tables

from gen import FASTA_FILTER, TOP_N, record_digest
from spans import Patch

# The weekly tables behind the prevalence plots: joins, shuffles and a cube.
TS_OUTPUTS = ("ts_freq", "ts_totals", "n_by_continent")
# Per protein, the event table and the position x type count table; the
# other seven reports are built but not executed, to keep a run within its
# time budget.
MSA_OUTPUTS = ("variants_raw", "variant_counts")


def _fasta_ingest(spark, inp: str, out_dir: str, sink) -> None:
    path = os.path.join(inp, "drop.fasta")
    records = fasta.parse_headers(fasta.read_fasta(spark, path))
    _, tally = api.filter_sequences(records, out_path=os.path.join(out_dir, "filtered"), **FASTA_FILTER)
    sink("tally", tally)
    api.split_by_protein(spark, path, os.path.join(out_dir, "split"))


def _msa_reports(spark, inp: str, sink) -> None:
    with open(os.path.join(inp, "references.json")) as fh:
        ref = json.load(fh)
    aligned = tables.load_table(spark, inp, "aligned")
    outs = api.read_msa_all(aligned, ref["references"], ref["totals"], ref["ref_lengths"])
    for protein, reports in outs.items():
        for name in MSA_OUTPUTS:
            sink(f"{protein}.{name}", getattr(reports, name))


def sequences(spark, inp: str, out_dir: str, sink) -> None:
    """The sequence half of the pipeline: filter a FASTA drop and split it
    by protein, then call variants from the protein MSAs."""
    _fasta_ingest(spark, inp, out_dir, sink)
    _msa_reports(spark, inp, sink)


def weekly_timeseries(spark, inp: str, out_dir: str, sink) -> None:
    clusters = tables.load_table(spark, inp, "clusters")
    metadata = tables.load_table(spark, inp, "metadata")
    variants = tables.load_table(spark, inp, "variants")
    out = api.ts_all_proteins(clusters, metadata, variants, top_n_combinations=TOP_N)
    for name in TS_OUTPUTS:
        sink(name, out[name])
    top = plotting_prep.prepare_top_n(out["ts_freq"], n=TOP_N)
    sink("pivot_top_n", timeseries.pivot_wide(plotting_prep.subset_to_top_n(out["ts_freq"], top)))


PASSES = {"sequences": sequences, "weekly_timeseries": weekly_timeseries}

# Every binding a public function is looked up through, wrapped in a span
# of its layer (see ``spans.Patch``). Functions whose results no pass output
# depends on stay unwrapped or unforced, and a report suite is forced only
# on the reports the pass executes, so that forcing adds no work the
# untraced pass never does.
LAYER_PATCHES = [
    Patch(fasta, "read_fasta", "sources.fasta.read_fasta", force="noop"),
    Patch(api, "read_fasta", "sources.fasta.read_fasta", force="noop"),
    Patch(api, "write_fasta", "sources.fasta.write", out_arg=1),
    Patch(api, "write_fasta_partitioned", "sources.fasta.write", out_arg=1),
    Patch(api, "filter_sequences", "api.filter_sequences", force="noop"),
    Patch(api, "split_by_protein", "api.split_by_protein"),
    Patch(tables, "load_table", "sources.tables.load_table", force="noop"),
    Patch(api, "read_msa_all", "api.read_msa_all"),
    Patch(api, "call_variants", "operators.variant_caller.call_variants", force="cache"),
    Patch(api, "reports_from_variants", "plans.msa_reader.reports_from_variants", force="noop", fields=MSA_OUTPUTS),
    Patch(api, "ts_all_proteins", "api.ts_all_proteins"),
    Patch(api, "prepare_metadata", "plans.time_series", force="noop"),
    Patch(api, "variant_list_by_cluster", "plans.time_series", force="noop"),
    Patch(api, "link_and_clean", "plans.time_series", force="noop"),
    Patch(api, "weekly_frequency", "operators.timeseries", force="noop"),
    Patch(api, "weekly_totals", "operators.timeseries", force="noop"),
    Patch(api, "counts_by_region_rollup", "operators.timeseries", force="noop"),
    Patch(timeseries, "pivot_wide", "operators.timeseries", force="noop"),
    Patch(plotting_prep, "prepare_top_n", "plans.plotting_prep", force="noop"),
    Patch(plotting_prep, "subset_to_top_n", "plans.plotting_prep", force="noop"),
]


# --------------------------------------------------------------- checks


def _fasta_records(path: str) -> list[tuple[str, str]]:
    """(header, sequence) of every record in the part files under path;
    a sequence is the concatenation of its lines."""
    records: list[tuple[str, list[str]]] = []
    for part in glob.glob(os.path.join(path, "**", "part-*"), recursive=True):
        with open(part) as fh:
            for line in fh:
                line = line.rstrip("\n")
                if line.startswith(">"):
                    records.append((line[1:], []))
                elif records:
                    records[-1][1].append(line)
    return [(h, "".join(s)) for h, s in records]


def _digest(records: list[tuple[str, str]]) -> str:
    return str(sum(record_digest(h, s) for h, s in records) % 2**64)


def _check_fasta(got: dict, expected: dict, out_dir: str) -> list[str]:
    errs = []
    tally = {r["_reason"]: r["n"] for r in got["tally"]}
    if tally != expected["tally"]:
        errs.append(f"tally {tally} != {expected['tally']}")
    filtered = _fasta_records(os.path.join(out_dir, "filtered"))
    by_protein: dict[str, int] = {}
    for h, _ in filtered:
        p = h.split("|", 1)[0]
        by_protein[p] = by_protein.get(p, 0) + 1
    want = {p: n for p, n in expected["passed_by_protein"].items() if n}
    if by_protein != want:
        errs.append(f"filtered FASTA records by protein {by_protein} != {want}")
    if (n := sum(len(s) for _, s in filtered)) != expected["passed_residues"]:
        errs.append(f"filtered FASTA holds {n} residues, expected {expected['passed_residues']}")
    if _digest(filtered) != expected["passed_digest"]:
        errs.append("filtered FASTA records differ from the passing records")
    for p, want_n in expected["raw_by_protein"].items():
        split = _fasta_records(os.path.join(out_dir, "split", f"protein={p}"))
        if len(split) != want_n:
            errs.append(f"split {p}: {len(split)} records, expected {want_n}")
        elif _digest(split) != expected["raw_digest"][p]:
            errs.append(f"split {p}: records differ from the input's {p} records")
    return errs


def _check_msa(got: dict, expected: dict) -> list[str]:
    errs = []
    for p, by_type in expected["events_by_type"].items():
        ev: dict[str, list[int]] = {}
        for r in got[f"{p}.variants_raw"]:
            c = ev.setdefault(r["Type"], [0, 0])
            c[0] += 1
            c[1] += r["Cluster_Size"]
        if ev != by_type:
            errs.append(f"{p} events by type {ev} != {by_type}")
        counts = sorted((r["Residue_Number"], r["Total_Variants"]) for r in got[f"{p}.variant_counts"])
        if [t for _, t in counts] != expected["per_position"][p]:
            errs.append(f"{p} per-position totals differ")
    return errs


def check_sequences(got: dict, expected: dict, out_dir: str) -> list[str]:
    return _check_fasta(got, expected["fasta"], out_dir) + _check_msa(got, expected["msa"])


def check_weekly_timeseries(got: dict, expected: dict, out_dir: str) -> list[str]:
    expected = expected["timeseries"]
    errs = []

    def same(name, value, want):
        if value != want:
            errs.append(f"{name}: {str(value)[:200]} != {str(want)[:200]}")

    same("linked rows", sum(r["total"] for r in got["ts_totals"]), expected["linked_rows"])
    same("ts_totals", {str(r["week_start"]): r["total"] for r in got["ts_totals"]}, expected["ts_totals"])
    same("n_by_continent", {f"{r['region']}|{r['week_start']}": r["n"] for r in got["n_by_continent"]},
         expected["n_by_continent"])
    same("ts_freq rows", len(got["ts_freq"]), expected["ts_freq_rows"])
    same("ts_freq sum", sum(r["freq"] for r in got["ts_freq"]), expected["ts_freq_sum"])
    same("pivot keys", sorted(r["key"] for r in got["pivot_top_n"]), sorted(expected["top_codes"]))
    return errs


CHECKS = {"sequences": check_sequences, "weekly_timeseries": check_weekly_timeseries}
