"""Report generation over variant events (SURVEY §3.1 Parts 2–4, §2.2 K6).

The reference re-scans its whole record list once per cluster and once per
code (list-comprehension subqueries, MSA_Reader.py:862, 894, 1010 — the F8
anti-pattern). Every report here is ONE grouped aggregation; the
human-readable text blocks are built with native string functions and can
be written distributed (``df.write.text``) or collected for small outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.strings import natural_sort_key


def variants_by_cluster(variants: DataFrame) -> DataFrame:
    """Part 2a — codes per cluster, natural-sorted by cluster id
    (MSA_Reader.py:784–816). One groupBy; codes ordered by MSA position
    within each cluster (the reference's scan order)."""
    return (
        variants.groupBy("Cluster_ID", "Cluster_Size")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("AA_Start_MSA", "Code"))),
                lambda s: s["Code"],
            ).alias("codes")
        )
        .withColumn("nat_key", natural_sort_key(F.col("Cluster_ID")))
    )


def cluster_report_text(variants: DataFrame) -> DataFrame:
    """K6 — the ``>cluster, N sequences`` + one-code-per-line text blocks
    (MSA_Reader.py:816's print), as a one-column DataFrame in report
    order."""
    per_cluster = variants_by_cluster(variants)
    block = F.concat(
        F.lit(">"),
        F.col("Cluster_ID"),
        F.lit(", "),
        F.col("Cluster_Size"),
        F.lit(" sequences\n"),
        F.array_join("codes", "\n"),
        F.lit("\n"),
    )
    return per_cluster.orderBy("nat_key", "Cluster_ID").select(block.alias("value"))


# reference report grouping: "ins" report contains ins AND ext records
# (MSA_Reader.py:875)
_TYPE_SETS = {
    "sub": ("sub",),
    "ins": ("ins", "ext"),
    "del": ("del",),
    "indel": ("delins",),
}


def clusters_by_code(variants: DataFrame, var_type: str) -> DataFrame:
    """Part 2b — per unique code: total sequences (Σ cluster_size) and the
    member clusters, ordered by first-seen MSA start (MSA_Reader.py:818–966;
    first-seen ⇒ min(msa_start) for distributed determinism, SURVEY O2)."""
    types = _TYPE_SETS[var_type]
    subset = variants.filter(F.col("Type").isin(*types))
    return (
        subset.groupBy("Code")
        .agg(
            F.sum("Cluster_Size").alias("total_seq"),
            F.min("AA_Start_MSA").alias("first_msa_start"),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "AA_Start_MSA",
                            "Cluster_ID",
                            F.format_string(
                                "%s; %d sequences", "Cluster_ID", "Cluster_Size"
                            ).alias("line"),
                        )
                    )
                ),
                lambda s: s["line"],
            ).alias("members"),
        )
        .orderBy("first_msa_start", "Code")
    )


def mutation_csv(
    variants: DataFrame, total_prot_seq: int, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Part 3 — the ``_all_by_code.csv`` table (MSA_Reader.py:968–1036):
    one row per unique code with reference position (N-terminal extensions
    default to position 1, :1014–1019), type, Σ cluster_size frequency and
    a formatted percentage string. ``group_cols`` (e.g. ``("protein",)``)
    replaces the reference's sequential per-protein loop."""
    pos = F.coalesce(F.col("AA_Start_Ref"), F.lit(1))
    per_code = (
        variants.select(
            *group_cols, "Code", "Type", "Cluster_Size", pos.alias("Position")
        )
        .groupBy(*group_cols, "Code")
        .agg(
            F.first("Type").alias("Type"),
            F.min("Position").alias("Position"),
            F.sum("Cluster_Size").alias("Frequency"),
        )
    )
    return per_code.select(
        *group_cols,
        "Position",
        "Type",
        "Code",
        "Frequency",
        F.format_string(
            "%.4f%%",
            F.round(F.col("Frequency") * 100.0 / F.lit(float(total_prot_seq)), 4),
        ).alias("Percentage"),
    ).orderBy(*group_cols, "Position", "Code")


def code_report_text(variants: DataFrame, var_type: str) -> DataFrame:
    """K6 — ``>code, N sequences`` + member lines text blocks
    (MSA_Reader.py:871)."""
    per_code = clusters_by_code(variants, var_type)
    block = F.concat(
        F.lit(">"),
        F.col("Code"),
        F.lit(", "),
        F.col("total_seq"),
        F.lit(" sequences\n"),
        F.array_join("members", "\n"),
        F.lit("\n"),
    )
    return per_code.select(block.alias("value"))


def write_report(report: DataFrame, path: str, title: str, rule: str = "-" * 40) -> None:
    """Assemble a report file like the reference's (title banner + blocks).
    Small outputs collect to the driver; the blocks themselves were built
    distributed."""
    blocks = [r["value"] for r in report.collect()]
    with open(path, "w") as f:
        f.write(f"{rule}\n{title}\n{rule}\n")
        f.write("\n".join(blocks) + "\n")
