"""File-format round-trip query registrations — driver evidence for the
source/sink layer (SURVEY §2.1 S1/S3/S5, §2.2 K1/K3).

The reference's real contract is its file formats: '-'-sentinel TSVs
(reference MSA_Reader.py:65–97, Time_Series.py:478–481) and per-protein
FASTA files (Protein_File_Splitter.py:96–109). Until round 3 those paths
had only pytest coverage; these queries put driver hashes on them by
writing the format INSIDE the plan to a scratch dir, reading it back with
the matching source, and returning the read-back data — while the oracle
computes the same result from the original parquet, so any corruption in
the write → read cycle (sentinel handling, record assembly, partition
layout) hash-fails.

Scratch output goes to a per-invocation temp dir: the queries are
re-runnable and never touch the repo or the testdata; dirs are removed
at interpreter exit (a lazy plan may read the files any time before
that, so eager cleanup is not safe).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import functions as F

from ..registry import register
from ..sources.fasta import (
    parse_headers,
    read_fasta,
    write_fasta_partitioned,
)
from ..sources.tables import (
    load_table,
    read_tsv_all_string,
    write_tsv_with_sentinel,
)


def _scratch_dir(prefix: str) -> str:
    tmp = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    return tmp


@register(
    "sink_tsv_roundtrip",
    # Oracle computes the aggregate straight from parquet — the Spark side
    # must survive double → text → double and NULL → '-' → NULL round
    # trips to match. The NULL group row IS the sentinel evidence: it only
    # hashes equal if '-' came back as a real NULL. The '' fold mirrors
    # the format's documented semantics (read_tsv_all_string): empty
    # fields read back as NULL on both engines' readers.
    """
    SELECT CASE WHEN event_id % 7 = 0 OR event_type = '' THEN NULL
                ELSE event_type END AS event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1
    """,
)
def sink_tsv_roundtrip(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    # punch deterministic NULLs so the sentinel path is actually exercised
    out = ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        "value",
    )
    tmp = _scratch_dir("gisaid_tsv_roundtrip_")
    write_tsv_with_sentinel(out, tmp)  # K1: NULL -> '-' on disk
    back = read_tsv_all_string(spark, tmp)  # S5: '-' -> NULL on read
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("double")), 6).alias("sum_value"),
    )


@register(
    "source_fasta_roundtrip",
    # FASTA records assembled from documents, written one-directory-per-
    # protein (K3, the engine-native Protein_File_Splitter), re-read with
    # the distributed record scan (S1/S3) and header parse. The
    # oracle builds the same tuples directly from parquet — every record
    # must survive assembly, the partitioned write, and re-parsing intact.
    """
    SELECT 'P' || CAST(doc_id % 5 AS VARCHAR) AS protein,
           'iso' || CAST(doc_id AS VARCHAR) AS isolate,
           'EPI' || CAST(doc_id AS VARCHAR) AS accession,
           upper(substr(md5(text), 1, 32)) AS seq
    FROM documents
    """,
)
def source_fasta_roundtrip(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # 7-field reference header layout (FIXTURES.md §1):
    # protein|isolate|date|accession|_|_|host
    header = F.concat_ws(
        "|",
        F.concat(F.lit("P"), (F.col("doc_id") % 5).cast("string")),
        F.concat(F.lit("iso"), F.col("doc_id").cast("string")),
        F.lit("2021-01-01"),
        F.concat(F.lit("EPI"), F.col("doc_id").cast("string")),
        F.lit("x"),
        F.lit("x"),
        F.lit("Human"),
    )
    recs = docs.select(
        header.alias("header"),
        F.upper(F.substring(F.md5("text"), 1, 32)).alias("seq"),
    )
    tmp = _scratch_dir("gisaid_fasta_roundtrip_")
    write_fasta_partitioned(parse_headers(recs), tmp)
    back = parse_headers(read_fasta(spark, f"{tmp}/protein=*"))
    return back.select(
        "protein",
        "isolate",
        F.col("gisaid_epi_isl").alias("accession"),
        "seq",
    )


@register(
    "source_headerless_tsv_roundtrip",
    # S4 — headerless TSV with positional schema (reference
    # Time_Series.py:473-478 assigns names by position): written with no
    # header inside the plan, read back by POSITION — a column-order slip
    # on either side hash-fails against the parquet-derived oracle.
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           round(sum(o_totalprice), 6) AS total
    FROM orders GROUP BY o_orderpriority
    """,
)
def source_headerless_tsv_roundtrip(spark, sf_dir):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..sources.tables import read_headerless_tsv

    orders = load_table(spark, sf_dir, "orders")
    tmp = _scratch_dir("gisaid_headerless_tsv_")
    orders.select("o_orderkey", "o_orderpriority", "o_totalprice").write.csv(
        tmp, sep="\t", header=False, mode="overwrite"
    )
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_orderpriority", StringType()),
            StructField("o_totalprice", DoubleType()),
        ]
    )
    back = read_headerless_tsv(spark, tmp, schema)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.round(F.sum("o_totalprice"), 6).alias("total"),
    )


@register(
    "config_broadcast_roundtrip",
    # S7 + J7 — the two-column headerless where_reference.tsv written
    # inside the plan, read back via read_where_reference (literal 'NA'
    # entries dropped, reference MSA_Reader.py:1249-1290), and applied as
    # a broadcast literal-map lookup — the engine's shape for the
    # reference's protein -> cluster dict. The oracle replays the config
    # derivation and the NA rule with a LEFT JOIN, so a lost dict entry,
    # a kept 'NA', or a key-type slip hash-fails.
    """
    WITH cfg AS (
      SELECT CAST(r_regionkey AS VARCHAR) AS k,
             CASE WHEN r_regionkey % 2 = 0
                  THEN 'C' || CAST(r_regionkey AS VARCHAR) END AS cluster
      FROM region
    )
    SELECT c.cluster, CAST(count(*) AS BIGINT) AS n
    FROM nation n LEFT JOIN cfg c ON CAST(n.n_regionkey AS VARCHAR) = c.k
    GROUP BY c.cluster
    """,
)
def config_broadcast_roundtrip(spark, sf_dir):
    from ..plans.reference_clusters import read_where_reference

    region = load_table(spark, sf_dir, "region")
    cfg = region.select(
        F.col("r_regionkey").cast("string").alias("k"),
        F.when(
            F.col("r_regionkey") % 2 == 0,
            F.concat(F.lit("C"), F.col("r_regionkey").cast("string")),
        )
        .otherwise(F.lit("NA"))  # the R script's literal NA sentinel
        .alias("cluster"),
    )
    tmp = _scratch_dir("gisaid_where_reference_")
    cfg.write.csv(tmp, sep="\t", header=False, mode="overwrite")
    lookup = read_where_reference(spark, tmp)  # S7: dict, NA entries absent
    mapping = (
        F.create_map(
            *[F.lit(x) for kv in sorted(lookup.items()) for x in kv]
        )
        if lookup
        else F.create_map()
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.select(
            F.element_at(
                mapping, F.col("n_regionkey").cast("string")
            ).alias("cluster")
        )
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "source_jsonl_roundtrip",
    # JSONL — the training-corpus interchange format (beyond-reference,
    # S-layer): documents written as one-object-per-line JSON inside the
    # plan, read back with an EXPLICIT schema (no inference pass), and
    # re-aggregated. total_chars is recomputed from the round-tripped text
    # (not carried through), so any JSON escaping loss — quotes,
    # backslashes, unicode — hash-fails against the parquet oracle.
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           min(md5(text)) AS min_text_md5
    FROM documents GROUP BY source
    """,
)
def source_jsonl_roundtrip(spark, sf_dir):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..sources.tables import read_jsonl, write_jsonl

    docs = load_table(spark, sf_dir, "documents")
    tmp = _scratch_dir("gisaid_jsonl_roundtrip_")
    write_jsonl(docs.select("doc_id", "source", "text"), tmp)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("text", StringType()),
        ]
    )
    back = read_jsonl(spark, tmp, schema)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min(F.md5("text")).alias("min_text_md5"),
    )


@register(
    "source_orc_roundtrip",
    # ORC — the other columnar format Spark ships natively (S-layer,
    # beyond-reference): lineitem columns written as ORC inside the plan,
    # re-read, re-aggregated; the oracle aggregates the original parquet,
    # so any type mangling across the columnar round-trip hash-fails.
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           round(sum(l_extendedprice), 6) AS sum_price
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def source_orc_roundtrip(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    tmp = _scratch_dir("gisaid_orc_roundtrip_")
    li.select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    ).write.orc(tmp, mode="overwrite")
    back = spark.read.orc(tmp)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 6).alias("sum_price"),
    )


@register(
    "catalog_discovery",
    # S9/F11 — the glob catalog's 0/1/>1-match semantics
    # (Sequence_Counter.py:243–271: warn + skip on zero matches, warn +
    # take lexicographically-first on multiple), driver-gated the roundtrip
    # way: a scratch file tree is materialized with a DATA-DERIVED shape —
    # the i-th distinct documents.source (sorted) gets i mod 3 candidate
    # files, so the zero-, one- and multi-match branches ALL fire on any
    # dataset with ≥3 sources — then
    # sources/catalog.py:discover_protein_files runs over it for real
    # (warnings captured and encoded in the `warned` column). The oracle
    # replays the same listing rule arithmetically; the catalog itself is a
    # driver-side operation by nature (it lists a directory, like the
    # reference), so the per-source collect is small-by-construction (one
    # row per distinct source).
    """
    WITH srcs AS (
      SELECT source,
             (row_number() OVER (ORDER BY source) - 1) % 3 AS n
      FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT source AS protein,
           CAST(n AS BIGINT) AS n_matches,
           CASE WHEN n > 0 THEN source || '_0.fasta' ELSE NULL END AS chosen,
           (n <> 1) AS warned
    FROM srcs
    """,
)
def catalog_discovery(spark, sf_dir):
    import os
    import warnings as _warnings

    from ..sources.catalog import discover_protein_files

    docs = load_table(spark, sf_dir, "documents")
    srcs = sorted(
        r["source"] for r in docs.select("source").distinct().collect()
    )
    n_files = {s: i % 3 for i, s in enumerate(srcs)}
    tmp = _scratch_dir("gisaid_catalog_")
    for s, n in n_files.items():
        for j in range(n):
            with open(os.path.join(tmp, f"{s}_{j}.fasta"), "w") as f:
                f.write(">stub\nAA\n")
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        found = discover_protein_files(tmp, srcs, pattern="{protein}_*")
    warned = {s for s in srcs for w in caught if repr(s) in str(w.message)}
    rows = [
        (
            s,
            n_files[s],
            os.path.basename(found[s]) if s in found else None,
            s in warned,
        )
        for s in srcs
    ]
    return spark.createDataFrame(
        rows, "protein string, n_matches long, chosen string, warned boolean"
    )


@register(
    "sink_filtered_write_refusal",
    # K4 — filtered write + refuse-overwrite semantics
    # (Sequence_Filter.py:104–105 raises on an existing output), driver-
    # gated end-to-end: (1) write the QUALITY-FILTERED record set (docs
    # with ≥ 40 letter chars — an F1-style subset) as FASTA; (2) attempt a
    # SECOND write of a poisoned payload without overwrite=True — the sink
    # must refuse; (3) re-read the directory. The returned aggregate
    # hashes over the re-read data + the refusal flag, so the row only
    # matches the oracle if the second write was refused AND the first
    # payload survived untouched.
    """
    SELECT count(*) AS n_kept,
           CAST(sum(length(seq)) AS BIGINT) AS total_len,
           TRUE AS second_write_refused
    FROM (
      SELECT upper(substr(md5(text), 1, 32)) AS seq
      FROM documents
      WHERE length(regexp_replace(text, '[^a-z]', '', 'g')) >= 40
    )
    """,
)
def sink_filtered_write_refusal(spark, sf_dir):
    from ..sources.fasta import write_fasta

    docs = load_table(spark, sf_dir, "documents")
    letters = F.regexp_replace("text", "[^a-z]", "")
    kept = docs.filter(F.length(letters) >= 40).select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("header"),
        F.upper(F.substring(F.md5("text"), 1, 32)).alias("seq"),
    )
    tmp = _scratch_dir("gisaid_fasta_refusal_") + "/out"
    write_fasta(kept, tmp)
    poison = kept.limit(1).select(
        F.lit("poison").alias("header"), F.lit("XXXX").alias("seq")
    )
    try:
        write_fasta(poison, tmp)  # no overwrite flag → must refuse
        refused = False
    except Exception:
        refused = True
    back = read_fasta(spark, tmp)
    return back.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.length("seq")).cast("long").alias("total_len"),
    ).withColumn("second_write_refused", F.lit(refused))


@register(
    "sink_partitioned_prune_roundtrip",
    # Partition-layout write + PRUNED re-read, driver-gated: events are
    # written partitioned by event_type to scratch (the engine-native
    # layout the FASTA sink uses for proteins), read back with an
    # event_type filter, and aggregated. The plan is ASSERTED inside the
    # query to carry non-empty PartitionFilters (the filter must prune
    # directories at planning, not scan-and-discard 100 TB) — the
    # `pruned` column hashes FALSE against the oracle's TRUE if pruning
    # ever stops engaging.
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 6) AS sum_value,
           TRUE AS pruned
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY event_type
    """,
)
def sink_partitioned_prune_roundtrip(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    tmp = _scratch_dir("gisaid_prune_roundtrip_") + "/out"
    ev.select("event_id", "event_type", "value").write.partitionBy(
        "event_type"
    ).parquet(tmp)
    back = spark.read.parquet(tmp).filter(
        F.col("event_type").isin("click", "view")
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    pruned = "PartitionFilters: [" in plan and not (
        "PartitionFilters: []" in plan
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .withColumn("pruned", F.lit(pruned))
    )


@register(
    "external_tool_roundtrip",
    # External-tool orchestration under a driver hash (reference
    # Clustal_All.sh:25 shells clustalo per cluster file;
    # operators/external.py re-expresses it as one subprocess per
    # PARTITION over executor-local temp FASTA). The aligner binary
    # isn't in this container, so the stand-in identity tool proves the
    # full path — partition batching, FASTA temp write, argv placeholder
    # substitution, subprocess exec, output FASTA parse — and the
    # round-tripped corpus must hash-match the raw table. A quoting,
    # parsing, or record-boundary bug anywhere in the plumbing flips
    # this row.
    """
    SELECT CAST(doc_id AS VARCHAR) AS id, text AS sequence FROM documents
    """,
)
def external_tool_roundtrip(spark, sf_dir):
    from ..operators.external import identity_tool_command, run_external_tool

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("text").alias("sequence"),
    )
    return run_external_tool(docs, identity_tool_command())


@register(
    "sink_bucketed_join_roundtrip",
    # Bucketed-table write + SHUFFLE-FREE co-located join, driver-gated
    # (the ingest-time layout the big metadata⋈clusters join gets at
    # 100 TB — shuffle the fact tables once at write, join forever
    # free): orders and lineitem are written bucketBy(8)+sortBy on the
    # join key to scratch-backed tables, re-read, and merge-joined. The
    # join plan is ASSERTED inside the query to carry NO Exchange and no
    # Sort node (co-sorted buckets stream straight into the merge). The
    # sort-free half needs BOTH write-side discipline — repartition(8,
    # key) before bucketBy so each bucket is ONE file (multi-file
    # buckets can't guarantee scan order and force a Sort back in) —
    # and the sorted-bucket-scan conf, which Spark 3+ gates off by
    # default (spark.sql.legacy.bucketedTableScan.outputOrdering; set
    # around the plan probe, restored after). r6 shipped only the
    # Exchange check while the docstring claimed both (ADVICE r6) — at
    # r6's default confs the Sorts were in fact still present. The
    # check is INTENTIONALLY on the static pre-AQE plan — bucketed-scan
    # Exchange/Sort elision is decided by the planner before any
    # adaptive re-plan, so executedPlan() before an action is the right
    # artifact here (the one sanctioned exception to the repo's
    # collect-first plan-audit rule); the
    # `shuffle_free` column hashes FALSE against the oracle's TRUE if
    # bucketed co-location ever stops engaging. Values must match the
    # plain-join oracle, so the bucketed files also round-trip exactly.
    """
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(sum(l.l_quantity), 6) AS sum_qty,
           TRUE AS shuffle_free
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def sink_bucketed_join_roundtrip(spark, sf_dir):
    import uuid

    sfx = uuid.uuid4().hex[:8]
    to, tl = f"rt_borders_{sfx}", f"rt_blineitem_{sfx}"
    scratch = _scratch_dir("gisaid_bucketed_roundtrip_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    # repartition on the bucket key first: task↔bucket alignment makes
    # each bucket exactly one file, the precondition for a sorted scan
    (
        orders.repartition(8, "o_orderkey")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", scratch + "/o").mode("overwrite").saveAsTable(to)
    )
    (
        li.repartition(8, "o_orderkey")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", scratch + "/l").mode("overwrite").saveAsTable(tl)
    )
    import atexit

    for t in (to, tl):
        atexit.register(
            lambda t=t: spark.sql(f"DROP TABLE IF EXISTS {t}")
        )
    # 'merge' hint pins SortMergeJoin: at driver scale the dim side would
    # auto-broadcast, which hides exactly the property under test
    ordering_conf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    prev_conf = spark.conf.get(ordering_conf)
    spark.conf.set(ordering_conf, "true")
    try:
        joined = spark.table(to).hint("merge").join(
            spark.table(tl), "o_orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(ordering_conf, prev_conf)
    # "Sort [" matches only standalone Sort nodes — "SortMergeJoin ["
    # continues with 'M', so the merge join itself never trips it. A
    # multi-file-per-bucket regression (or losing the sorted-scan conf)
    # reintroduces "Sort [" and flips shuffle_free even with Exchange
    # still elided (ADVICE r6).
    shuffle_free = (
        "Exchange" not in plan
        and "Sort [" not in plan
        and "SortMergeJoin" in plan
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        )
        .withColumn("shuffle_free", F.lit(shuffle_free))
    )


@register(
    "source_permissive_csv_tally",
    # Dirty-ingest surface: a CSV with deliberately malformed rows
    # (non-numeric value on doc_id % 10 == 3, derived deterministically
    # from documents) is written to scratch and read back with an
    # explicit schema in PERMISSIVE mode + columnNameOfCorruptRecord —
    # the bad-records path every 100 TB ingest needs (fail-fast dies on
    # row one; silent DROPMALFORMED loses data unaudited). The tally
    # splits good/corrupt and sums only the good values; the oracle
    # derives the same split straight from documents, so a parser-mode
    # or corrupt-capture regression flips the hash.
    """
    SELECT
      CAST(sum(CASE WHEN doc_id % 10 = 3 THEN 0 ELSE 1 END) AS BIGINT)
        AS n_good,
      CAST(sum(CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_corrupt,
      CAST(sum(CASE WHEN doc_id % 10 = 3 THEN 0 ELSE n_chars END) AS BIGINT)
        AS sum_value
    FROM documents
    """,
)
def source_permissive_csv_tally(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    line = F.concat_ws(
        ",",
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 10 == 3,
            F.concat(F.lit("bad"), F.col("doc_id").cast("string")),
        ).otherwise(F.col("n_chars").cast("string")),
    )
    tmp = _scratch_dir("gisaid_permissive_csv_") + "/out"
    docs.select(line.alias("value")).write.text(tmp)
    back = (
        spark.read.schema("doc_id LONG, value LONG, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(tmp)
    )
    return back.agg(
        F.sum(F.col("_corrupt").isNull().cast("long")).alias("n_good"),
        F.sum(F.col("_corrupt").isNotNull().cast("long")).alias("n_corrupt"),
        F.sum(F.coalesce(F.col("value"), F.lit(0))).cast("long").alias(
            "sum_value"
        ),
    )


@register(
    "layout_zorder_pruning",
    # Z-order layout math, fully value-hashed (operators/layout.py —
    # the Delta/Iceberg OPTIMIZE ZORDER lever): 8-bit Morton codes over
    # (l_partkey%256, l_suppkey%256), 16 Z-range buckets (= 64×64
    # axis-aligned blocks) vs 16 linear x-range buckets, then the
    # file-skipping computation a stats-pruning reader performs for the
    # band predicate y ∈ [16, 31]: a bucket must be read iff its
    # [min_y, max_y] intersects the band. The linear-by-x layout keeps
    # every bucket's y-range at full width (reads all 16); the Z layout
    # confines the band to the y-block row (reads 4) — the oracle
    # replays codes, bucket stats, both hit counts, and the
    # layout-independent band aggregate, so the geometry claim itself
    # is value-hashed, not narrated.
    """
    WITH pts AS (
      SELECT CAST(l_partkey % 256 AS BIGINT) AS x,
             CAST(l_suppkey % 256 AS BIGINT) AS y
      FROM lineitem
    ),
    z AS (
      SELECT x, y,
             CAST(list_sum([((x >> i) & 1) * (1 << (2*i))
                            + ((y >> i) & 1) * (1 << (2*i + 1))
                            FOR i IN range(0, 8)]) AS BIGINT) AS z
      FROM pts
    ),
    zs AS (
      SELECT z // 4096 AS b, min(y) AS min_y, max(y) AS max_y
      FROM z GROUP BY 1
    ),
    xs AS (
      SELECT x // 16 AS b, min(y) AS min_y, max(y) AS max_y
      FROM pts GROUP BY 1
    ),
    hits AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM zs
          WHERE min_y <= 31 AND max_y >= 16) AS z_buckets_read,
        (SELECT CAST(count(*) AS BIGINT) FROM xs
          WHERE min_y <= 31 AND max_y >= 16) AS x_buckets_read,
        (SELECT CAST(count(*) AS BIGINT) FROM zs) AS z_buckets_total,
        (SELECT CAST(count(*) AS BIGINT) FROM xs) AS x_buckets_total
    )
    SELECT z_buckets_read, x_buckets_read, z_buckets_total,
           x_buckets_total,
           z_buckets_read < x_buckets_read AS zorder_skips_more,
           (SELECT CAST(count(*) AS BIGINT) FROM pts
             WHERE y BETWEEN 16 AND 31) AS band_rows,
           (SELECT CAST(sum(x) AS BIGINT) FROM pts
             WHERE y BETWEEN 16 AND 31) AS band_sum_x
    FROM hits
    """,
)
def layout_zorder_pruning(spark, sf_dir):
    from ..operators.layout import bucket_stats, zorder_value

    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        (F.col("l_partkey") % 256).cast("long").alias("x"),
        (F.col("l_suppkey") % 256).cast("long").alias("y"),
    )
    z = pts.withColumn("z", zorder_value(F.col("x"), F.col("y"), bits=8))
    zs = bucket_stats(z, F.floor(F.col("z") / 4096))
    xs = bucket_stats(pts, F.floor(F.col("x") / 16))
    band_hit = (F.col("min_y") <= 31) & (F.col("max_y") >= 16)
    z_read = zs.agg(
        F.sum(band_hit.cast("long")).alias("z_buckets_read"),
        F.count(F.lit(1)).alias("z_buckets_total"),
    )
    x_read = xs.agg(
        F.sum(band_hit.cast("long")).alias("x_buckets_read"),
        F.count(F.lit(1)).alias("x_buckets_total"),
    )
    band = pts.filter(F.col("y").between(16, 31)).agg(
        F.count(F.lit(1)).alias("band_rows"),
        F.sum("x").alias("band_sum_x"),
    )
    return (
        z_read.crossJoin(F.broadcast(x_read))
        .crossJoin(F.broadcast(band))
        .select(
            "z_buckets_read",
            "x_buckets_read",
            "z_buckets_total",
            "x_buckets_total",
            (F.col("z_buckets_read") < F.col("x_buckets_read")).alias(
                "zorder_skips_more"
            ),
            "band_rows",
            "band_sum_x",
        )
    )


@register(
    "layout_compaction_plan",
    # Small-file compaction planning (r9 — the OPTIMIZE bin-packing
    # pass every lakehouse table needs): treat each document as a file
    # of n_chars bytes, order files largest-first per source (the
    # standard packing heuristic), and assign output bins by cumulative
    # size over a 2000-byte target — bin = floor((cumsum - size) /
    # target), i.e. a file opens in the bin where its predecessor run
    # left off. Pure integer window arithmetic, deterministic
    # (size desc, doc_id) total order. Scale note: the input is FILE
    # METADATA (one row per file — millions, not the data itself), so
    # the per-source running-sum window is over catalog-listing-sized
    # partitions; the plan ships to the rewriter, the data never
    # shuffles here.
    """
    WITH f AS (
      SELECT source, doc_id, n_chars AS size,
             sum(n_chars) OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    ),
    b AS (
      SELECT source, doc_id, size,
             CAST(floor((cum - size) / 2000.0) AS BIGINT) AS bin_id
      FROM f
    )
    SELECT source, bin_id, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(size) AS BIGINT) AS total_bytes,
           min(doc_id) AS first_doc
    FROM b GROUP BY source, bin_id
    """,
)
def layout_compaction_plan(spark, sf_dir):
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").alias("size")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("size"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.withColumn("cum", F.sum("size").over(w))
        .select(
            "source",
            "doc_id",
            "size",
            F.floor((F.col("cum") - F.col("size")) / 2000.0)
            .cast("long")
            .alias("bin_id"),
        )
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size").alias("total_bytes"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "source_schema_merge",
    # Schema-evolution scan (S-layer, beyond-reference): two parquet
    # batches of the SAME logical table written with DIFFERENT schemas —
    # batch 1 (even event_ids) predates the ``props`` column, batch 2
    # (odd) carries it — then one mergeSchema=true read reconstructs the
    # union schema with NULL back-fill, exactly the situation a 100 TB
    # lake hits every time a column lands mid-history. The oracle
    # computes the post-evolution aggregate straight from the source
    # view (evens contribute NULL props), so a dropped column, a
    # mis-backfilled NULL, or a batch lost by the merged scan
    # hash-fails.
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(CASE WHEN event_id % 2 = 1 THEN props END)
                AS BIGINT) AS n_props,
           round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1
    """,
)
def source_schema_merge(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    tmp = _scratch_dir("gisaid_schema_merge_")
    ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", "value"
    ).write.mode("overwrite").parquet(tmp + "/batch=1")
    ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", "value", "props"
    ).write.mode("overwrite").parquet(tmp + "/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(tmp)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("props").alias("n_props"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


@register(
    "sink_dynamic_overwrite",
    # Dynamic partition overwrite (S-layer): write events partitioned
    # by event_type, then overwrite ONLY the 'click' partition with a
    # corrected batch (values doubled on the cents lattice) under
    # partitionOverwriteMode=dynamic — the everyday lakehouse backfill,
    # where a static overwrite would silently DROP every untouched
    # partition. The read-back aggregate must show exactly one
    # partition's rows rewritten and all others byte-identical; the
    # oracle computes the post-backfill expectation straight from the
    # source view, so a clobbered sibling partition, a missed replace,
    # or a double-write all hash-fail.
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN event_type = 'click'
                    THEN 2 * CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
                    ELSE CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
                    END) AS BIGINT) AS sum_vu
    FROM events GROUP BY 1
    """,
)
def sink_dynamic_overwrite(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("long").alias("vu"),
    )
    tmp = _scratch_dir("gisaid_dyn_overwrite_")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    corrected = ev.filter(F.col("event_type") == "click").withColumn(
        "vu", F.col("vu") * 2
    )
    corrected.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("event_type").parquet(tmp)
    back = spark.read.parquet(tmp)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vu").cast("long").alias("sum_vu"),
    )
