"""FASTA source & sinks (SURVEY §2.1 S1/S3, §2.2 K3/K4).

The reference streams multi-GB FASTA files line by line in one process
(Protein_File_Splitter.py:49–120) and writes one output file per protein by
keeping a dict of open file handles. Here:

- **read**: ``spark.read.text`` with ``"\\n>"`` as the record delimiter
  gives one row per FASTA record, whole even where it crosses a file
  split, and the header/sequence split is a per-row projection. One
  map-only scan; a multi-TB file parallelizes across all its splits.
- **split-by-protein write** (K3): ``df.write.partitionBy('protein')`` —
  the engine-native replacement for the hand-rolled file-handle dict; at
  100 TB this is a single shuffle-free pass (scan partitions map straight
  to output partitions).
- **filtered write** (K4): ``mode('error')`` preserves the reference's
  refuse-to-overwrite behavior (Sequence_Filter.py:104–105).

Header layout (FIXTURES.md §1): ``>protein|isolate|date|accession|...|host``
— fields split on ``|``; positions per Sequence_Filter.py:124,
Time_Series.py:375–385, Protein_File_Splitter.py:134–138.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_fasta(spark: SparkSession, path: str) -> DataFrame:
    """Distributed FASTA scan → one row per record:
    ``(header string, seq string)``.

    The text source splits on ``"\\n>"`` instead of on newlines, so each
    row is one whole record: Hadoop's ``LineRecordReader`` reads on past
    its split's end to finish the record it is in and skips the partial
    record its split starts in, whatever the split size. The scan is
    map-only: no exchange, window or join.

    ``header`` is the record's first line without its leading ``>`` (only
    a file's first record still has it) or a trailing ``\\r``. ``seq``
    joins the remaining lines, each without its trailing ``\\r`` and
    surrounding spaces; blank lines add nothing. Records without a
    non-whitespace character (blank lines before a file's first header)
    are dropped.

    On well-formed FASTA this is the rowset of a line-by-line parser. On
    malformed input it differs from one in three ways:

    (a) non-blank text before a file's first header becomes a record
        headed by its first line instead of being dropped;
    (b) a ``>>x`` header line that is not the file's first gives header
        ``x``, not ``>x``;
    (c) a bare ``>`` line with no sequence lines after it, following
        another record, is dropped instead of giving ``("", "")``.
    """
    lines = F.split(F.col("value"), "\n")
    seq_lines = F.transform(
        F.slice(lines, 2, F.size(lines)), lambda line: F.trim(F.regexp_replace(line, "\r$", ""))
    )
    return (
        spark.read.text(path, lineSep="\n>")
        .filter(F.col("value").rlike("\\S"))
        .select(
            F.regexp_replace(lines[0], "^>|\r$", "").alias("header"),
            F.concat_ws("", seq_lines).alias("seq"),
        )
    )


def parse_headers(records: DataFrame) -> DataFrame:
    """Split the ``|``-delimited header into the reference's positional
    fields (FIXTURES.md §1): protein[0], isolate[1], date[2], accession[3],
    host[6]."""
    h = F.split(F.col("header"), "\\|")
    return records.select(
        h.getItem(0).alias("protein"),
        h.getItem(1).alias("isolate"),
        h.getItem(2).alias("collection_date_raw"),
        h.getItem(3).alias("gisaid_epi_isl"),
        F.element_at(h, 7).alias("host"),  # null-safe when header is short
        F.col("header"),
        F.col("seq"),
    )


def write_fasta_partitioned(records: DataFrame, out_dir: str, partition_col: str = "protein") -> None:
    """K3 — split one logical FASTA into one directory per protein
    (Protein_File_Splitter.py:66–112's per-protein files). Text format:
    each row is rendered ``>header\\nseq``."""
    records.select(
        F.col(partition_col),
        F.concat(F.lit(">"), F.col("header"), F.lit("\n"), F.col("seq")).alias("value"),
    ).write.partitionBy(partition_col).mode("overwrite").text(out_dir)


def write_fasta(records: DataFrame, out_dir: str, overwrite: bool = False) -> None:
    """K4 — write records as FASTA text; refuses to overwrite unless asked
    (Sequence_Filter.py:104–105 raises FileExistsError)."""
    records.select(
        F.concat(F.lit(">"), F.col("header"), F.lit("\n"), F.col("seq")).alias("value")
    ).write.mode("overwrite" if overwrite else "error").text(out_dir)
