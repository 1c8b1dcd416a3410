"""The MSA_Reader `main` pipeline (SURVEY §3.1) — one call runs what the
reference does in four disk-materialized parts (MSA_Reader.py:1164–1247):

  Part 1  variant calling          → `call_variants` kernel (cached once)
  Part 2  cluster + code reports   → plans.reports (grouped aggregations)
  Part 3  mutation CSV             → plans.reports.mutation_csv
  Part 4  per-position count table → operators.variant_caller.mutation_count_table

The reference writes `_variants_raw.tsv` then re-reads it into objects
between Parts 1→2; here the event table is a cached DataFrame feeding all
downstream reports in one DAG, and each report is built the first time it
is read, so a caller pays only for the reports it uses.
`read_msa_all`'s sequential per-protein loop (MSA_Reader.py:1292–1329) is
the `protein` column.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame

from ..operators.variant_caller import call_variants, mutation_count_table
from .reports import (
    cluster_report_text,
    code_report_text,
    mutation_csv,
    variants_by_cluster,
)


@dataclass
class MsaReaderOutputs:
    """One protein's report suite. ``variants_raw`` is the event table
    (Part 1); every other report is built from it on first access and
    kept, so a second read returns the same DataFrame."""

    variants_raw: DataFrame          # the 10-column event table (Part 1)
    total_seq: int
    ref_length: int

    @cached_property
    def by_cluster(self) -> DataFrame:       # Part 2a grouped lists
        return variants_by_cluster(self.variants_raw)

    @cached_property
    def cluster_report(self) -> DataFrame:   # Part 2a text blocks
        return cluster_report_text(self.variants_raw)

    @cached_property
    def sub_report(self) -> DataFrame:       # Part 2b per type
        return code_report_text(self.variants_raw, "sub")

    @cached_property
    def ins_report(self) -> DataFrame:
        return code_report_text(self.variants_raw, "ins")

    @cached_property
    def del_report(self) -> DataFrame:
        return code_report_text(self.variants_raw, "del")

    @cached_property
    def indel_report(self) -> DataFrame:
        return code_report_text(self.variants_raw, "indel")

    @cached_property
    def all_by_code(self) -> DataFrame:      # Part 3 mutation CSV
        return mutation_csv(self.variants_raw, self.total_seq)

    @cached_property
    def variant_counts(self) -> DataFrame:   # Part 4 position × type table
        return mutation_count_table(self.variants_raw, self.ref_length, self.total_seq)


def reports_from_variants(
    variants: DataFrame, total_seq: int, ref_length: int
) -> MsaReaderOutputs:
    """The report suite over an already-computed event table — lets
    multi-protein callers (``api.read_msa_all``) run the kernel ONCE and
    slice the cached events per protein. Nothing is built here: each
    report is built when the caller first reads it."""
    return MsaReaderOutputs(variants, total_seq, ref_length)


def run_msa_reader(
    aligned: DataFrame,
    references: dict[str, str],
    total_seq: int,
    ref_length: int,
) -> MsaReaderOutputs:
    """The report suite over one protein's alignment (pass a pre-filtered
    ``aligned`` and that protein's reference; multi-protein callers keep
    `protein` as a column and group the reports by it)."""
    variants = call_variants(aligned, references).cache()
    return reports_from_variants(variants, total_seq, ref_length)
