"""The variant-calling kernel (SURVEY §2.11) — the reference's core.

Re-implements the *semantics* of the reference's per-sequence MSA scan
(`msa_iterator` + case handlers, /root/reference/MSA_Reader.py:116–622):
diff each aligned sequence against the reference row and emit 0..n variant
events with HGVS-style codes. The control flow here is a fresh
region-classification design (one forward scan; a gap region's event kinds
decide del/ins/delins), NOT a port of the reference's mutually-recursive
case functions — but it is behavior-equivalent, including these observable
quirks kept for output parity:

- An insertion whose N-flank is the FIRST reference residue (index 0) is
  reported as an N-terminal extension ``ext`` — the reference tests flank
  presence with Python truthiness (``if i_Cflank and i_Nflank``,
  MSA_Reader.py:367), so index 0 counts as "no flank".
- ``delins`` Ref/Var residue fields keep the raw aligned slice INCLUDING
  gap dashes (MSA_Reader.py:614–616), while del/ins strip gaps.
- Code formats (MSA_Reader.py:195, 495, 519, 558–572, 601–609):
  sub ``D614G``; del ``T6del`` / ``L4_P7del``; ins ``K3_L4insFP``;
  N-ext ``M1extGG`` (``{Cflank}1ext{var}``); C-ext ``{Nflank}{pos}ext{var}``;
  delins ``C2_H4delinsW`` / ``C2delinsW``.

Spark shape: one ``mapInPandas`` over the aligned-sequence table with the
per-protein reference rows broadcast — embarrassingly parallel across
sequences, Arrow-batched; the only exchange is the round-robin spread
(operators/layout.py) that an under-split input gets. Everything downstream
of the kernel (reports, counts, pivots) is declarative DataFrame ops.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .layout import spread

GAP = "-"

VARIANT_SCHEMA = StructType(
    [
        StructField("protein", StringType()),
        StructField("Cluster_ID", StringType()),
        StructField("Cluster_Size", LongType()),
        StructField("Type", StringType()),
        StructField("Code", StringType()),
        StructField("Ref_Residues", StringType()),
        StructField("Var_Residues", StringType()),
        StructField("AA_Start_MSA", LongType()),
        StructField("AA_End_MSA", LongType()),
        StructField("AA_Start_Ref", LongType()),
        StructField("AA_End_Ref", LongType()),
    ]
)


def reference_positions(ref: str) -> list[int | None]:
    """MSA column → reference residue number, gaps → None
    (semantics of MSA_Reader.py:99–114)."""
    out: list[int | None] = []
    pos = 1
    for ch in ref:
        if ch != GAP:
            out.append(pos)
            pos += 1
        else:
            out.append(None)
    return out


def _diff_indices(ref: str, var: str):
    """Columns where ref and var disagree — vectorized byte compare for
    ASCII alignments (the real alphabet), per-char fallback otherwise
    (multi-byte chars would misalign byte indices with char indices)."""
    try:
        rb = ref.encode("ascii")
        vb = var.encode("ascii")
    except UnicodeEncodeError:
        return [i for i in range(len(ref)) if ref[i] != var[i]]
    import numpy as np

    return np.nonzero(
        np.frombuffer(rb, dtype=np.uint8) != np.frombuffer(vb, dtype=np.uint8)
    )[0]


def call_variants_row(
    ref: str, ref_pos: list[int | None], var: str
) -> Iterator[tuple]:
    """Yield variant events for one aligned sequence vs the reference.

    Each event: (Type, Code, Ref_Residues, Var_Residues,
    AA_Start_MSA, AA_End_MSA, AA_Start_Ref, AA_End_Ref).

    The scan is DIFF-DRIVEN: numpy locates the mismatch columns in one
    vectorized compare and the classifier only runs there, so per-row
    cost is O(events + gap-region lengths), not O(alignment length) —
    events ≪ length on real MSAs (~10 subs across 1273 AA). Match and
    shared-gap columns never reach Python. The event classification and
    all parity quirks are untouched: a gap region is scanned forward
    from its first mismatch column exactly as before.
    """
    L = len(ref)
    if len(var) != L:
        raise ValueError(
            f"aligned sequence length {len(var)} != reference length {L}"
        )
    resume = 0
    for i in _diff_indices(ref, var):
        i = int(i)
        if i < resume:  # inside a region already consumed
            continue
        r, v = ref[i], var[i]
        if r != GAP and v != GAP:  # substitution
            pos = ref_pos[i]
            yield ("sub", f"{r}{pos}{v}", r, v, i + 1, None, pos, None)
            resume = i + 1
            continue

        # A gap region: scan forward until both strands have a residue
        # (the C-flank) or the alignment ends. Classify by which event
        # kinds appear inside (del / ins / both→delins).
        i_start = i
        has_del = has_ins = False
        i_cflank: int | None = None
        k = i
        while True:
            rk, vk = ref[k], var[k]
            if rk != GAP and vk != GAP:
                i_cflank = k
                break
            if rk != GAP and vk == GAP:
                has_del = True
            elif rk == GAP and vk != GAP:
                has_ins = True
            if k == L - 1:
                break
            k += 1

        region_end = (i_cflank - 1) if i_cflank is not None else (L - 1)
        # last position in the region that isn't a shared-gap column
        i_end = region_end
        while i_end > i_start and (ref[i_end] == GAP and var[i_end] == GAP):
            i_end -= 1

        if has_del and has_ins:
            yield _delins_event(ref, ref_pos, var, i_start, i_end)
        elif has_del:
            yield _deletion_event(ref, ref_pos, var, i_start, i_end)
        else:
            yield _insertion_event(ref, ref_pos, var, i_start, i_end, i_cflank)

        # the C-flank column itself is a match or substitution; it is the
        # next diff index processed when the loop resumes past the region
        resume = i_cflank if i_cflank is not None else L


def _strip_gaps(s: str) -> str:
    return s.replace(GAP, "")


def _deletion_event(ref, ref_pos, var, i_start, i_end):
    if i_start == i_end:
        r = ref[i_end]
        pos = ref_pos[i_end]
        return ("del", f"{r}{pos}del", r, None, i_end + 1, None, pos, None)
    ref_aa = _strip_gaps(ref[i_start : i_end + 1])
    code = f"{ref[i_start]}{ref_pos[i_start]}_{ref[i_end]}{ref_pos[i_end]}del"
    return (
        "del",
        code,
        ref_aa,
        None,
        i_start + 1,
        i_end + 1,
        ref_pos[i_start],
        ref_pos[i_end],
    )


def _insertion_event(ref, ref_pos, var, i_start, i_end, i_cflank):
    # N-flank: nearest reference residue strictly before the region.
    # Index 0 counts as "no flank" — reference truthiness quirk
    # (MSA_Reader.py:367) kept for parity — EXCEPT when there is also no
    # C-flank: there the reference crashes outright (instype never set →
    # UnboundLocalError); we deviate and emit the C-terminal extension
    # the index-0 flank implies.
    i_nflank = None
    for idx in range(i_start - 1, -1, -1):
        if ref[idx] != GAP:
            i_nflank = idx
            break
    if i_nflank == 0 and i_cflank is not None:
        i_nflank = None  # the parity quirk

    var_aa = (
        var[i_start]
        if i_start == i_end
        else _strip_gaps(var[i_start : i_end + 1])
    )
    msa_end = None if i_start == i_end else i_end + 1
    ref_start = ref_pos[i_nflank] if i_nflank is not None else None
    ref_end = ref_pos[i_cflank] if i_cflank is not None else None

    if i_cflank is not None and i_nflank is not None:
        code = f"{ref[i_nflank]}{ref_start}_{ref[i_cflank]}{ref_end}ins{var_aa}"
        return ("ins", code, None, var_aa, i_start + 1, msa_end, ref_start, ref_end)
    if i_cflank is not None:  # N-terminal extension
        code = f"{ref[i_cflank]}1ext{var_aa}"
        return ("ext", code, None, var_aa, i_start + 1, msa_end, None, ref_end)
    if i_nflank is not None:  # C-terminal extension
        code = f"{ref[i_nflank]}{ref_start}ext{var_aa}"
        return ("ext", code, None, var_aa, i_start + 1, msa_end, ref_start, None)
    raise ValueError("insertion with no flanking reference residue on either side")


def _delins_event(ref, ref_pos, var, i_start, i_end):
    # first/last deleted reference residues inside the region
    i_first = next(
        idx for idx in range(i_start, i_end + 1) if ref[idx] != GAP
    )
    i_last = next(
        idx for idx in range(i_end, i_start - 1, -1) if ref[idx] != GAP
    )
    inserted = _strip_gaps(var[i_start : i_end + 1])
    ref_start = ref_pos[i_first]
    if i_first != i_last:
        code = f"{ref[i_first]}{ref_start}_{ref[i_last]}{ref_pos[i_last]}delins{inserted}"
        ref_end = ref_pos[i_last]
    else:
        code = f"{ref[i_first]}{ref_start}delins{inserted}"
        ref_end = None
    # raw aligned slices INCLUDING gap dashes (parity: MSA_Reader.py:614–616)
    return (
        "delins",
        code,
        ref[i_start : i_end + 1],
        var[i_start : i_end + 1],
        i_start + 1,
        i_end + 1,
        ref_start,
        ref_end,
    )


def call_variants(aligned: DataFrame, references: dict[str, str]) -> DataFrame:
    """Run the kernel over an aligned-sequence table.

    ``aligned``: (protein, cluster_id, cluster_size, aligned_seq) — one row
    per cluster representative (SURVEY §1.1.2: no distributed 2-D matrix;
    each row is independent).
    ``references``: protein → aligned reference row. Small; shipped to
    executors via the mapInPandas closure (Spark broadcasts the serialized
    function once per executor).
    """
    ref_pos = {p: reference_positions(r) for p, r in references.items()}
    # the row kernel is diff-driven (one vectorized numpy compare locates
    # the mismatch columns; Python runs only at events), so EVERY row —
    # gapped or not — costs O(events + gap-region lengths), not
    # O(alignment length); no per-shape special casing needed here

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in VARIANT_SCHEMA.fields}

            def emit(protein, cid, csize, ev):
                out["protein"].append(protein)
                out["Cluster_ID"].append(cid)
                out["Cluster_Size"].append(int(csize))
                for name, val in zip(
                    [
                        "Type",
                        "Code",
                        "Ref_Residues",
                        "Var_Residues",
                        "AA_Start_MSA",
                        "AA_End_MSA",
                        "AA_Start_Ref",
                        "AA_End_Ref",
                    ],
                    ev,
                ):
                    out[name].append(val)

            for protein, cid, csize, seq in zip(
                pdf["protein"], pdf["cluster_id"], pdf["cluster_size"], pdf["aligned_seq"]
            ):
                ref = references.get(protein)
                if ref is None:
                    continue
                for ev in call_variants_row(ref, ref_pos[protein], seq):
                    emit(protein, cid, csize, ev)
            yield pd.DataFrame(out)

    cols = ["protein", "cluster_id", "cluster_size", "aligned_seq"]
    return spread(aligned.select(*cols)).mapInPandas(run, VARIANT_SCHEMA)


def _multi_residue_del() -> Column:
    """An event deleting more than one reference residue."""
    return (F.col("Type") == "del") & F.col("AA_End_Ref").isNotNull()


def break_up_deletions(variants: DataFrame) -> DataFrame:
    """Explode multi-residue deletions into one row per deleted residue
    (semantics of MSA_Reader.py:1038–1077), natively: the first residue
    keeps the original row shape with a single-del code; the rest are
    generated with ``explode(sequence(start+1, end))``.

    Positions of residues 2..n come from the reference numbering
    (contiguous in ref space); their residue letters come from
    ``Ref_Residues`` (gap-stripped, so index = offset)."""
    is_multi = _multi_residue_del()

    # first record: ONLY the code is rewritten to single-del form — end
    # fields stay (the reference mutates just .code, MSA_Reader.py:1071)
    rewritten = variants.withColumn(
        "Code",
        F.when(
            is_multi,
            F.concat(
                F.substring("Ref_Residues", 1, 1),
                F.col("AA_Start_Ref"),
                F.lit("del"),
            ),
        ).otherwise(F.col("Code")),
    )

    # extra records for residues 2..n; msa_start reproduces the reference's
    # ref_index.index(i) — a 0-BASED msa index (quirk, MSA_Reader.py:1065),
    # computed here as start_msa-1+offset (exact when the deletion region
    # has no internal reference-gap columns)
    letter = F.substring(
        F.col("Ref_Residues"),
        (F.col("pos") - F.col("AA_Start_Ref") + 1).cast("int"),
        1,
    )
    rest = (
        variants.filter(is_multi)
        .select(
            "protein",
            "Cluster_ID",
            "Cluster_Size",
            "Ref_Residues",
            "AA_Start_MSA",
            "AA_Start_Ref",
            F.explode(
                F.sequence(F.col("AA_Start_Ref") + 1, F.col("AA_End_Ref"))
            ).alias("pos"),
        )
        .select(
            "protein",
            "Cluster_ID",
            "Cluster_Size",
            F.lit("del").alias("Type"),
            F.concat(letter, F.col("pos"), F.lit("del")).alias("Code"),
            letter.alias("Ref_Residues"),
            F.lit(None).cast("string").alias("Var_Residues"),
            (F.col("AA_Start_MSA") - 1 + F.col("pos") - F.col("AA_Start_Ref")).alias(
                "AA_Start_MSA"
            ),
            F.lit(None).cast("long").alias("AA_End_MSA"),
            F.col("pos").alias("AA_Start_Ref"),
            F.lit(None).cast("long").alias("AA_End_Ref"),
        )
    )

    return rewritten.unionByName(rest)


def mutation_count_table(
    variants: DataFrame, ref_length: int, total_seq: int
) -> DataFrame:
    """A7 — per-position × type Σ(cluster_size) with a full 1..L position
    spine so zero-variant positions appear (MSA_Reader.py:1107–1162).

    One scan of the events: each event covers the residues
    ``AA_Start_Ref..last`` — ``last`` is ``AA_End_Ref`` for a multi-residue
    deletion (the positions ``break_up_deletions`` gives it, one row per
    deleted residue) and ``AA_Start_Ref`` otherwise — exploded with
    ``sequence``, then one ``groupBy`` sums ``Cluster_Size`` per type and
    the spine left-joins the sums.

    Parity details: grouping is strictly by non-null ``AA_Start_Ref``
    (N-terminal extensions have none — ``sequence`` of NULL explodes to no
    rows — and silently drop out of this table, as in the reference's
    ``record.get_ref_start()==j`` subsetting); ``Percent_Variants`` is the
    reference's formatted string ``"x.xxxx%"`` (MSA_Reader.py:1138–1160).
    """
    spark = variants.sparkSession
    types = ["sub", "ins", "del", "ext", "delins"]
    last = F.when(_multi_residue_del(), F.col("AA_End_Ref")).otherwise(F.col("AA_Start_Ref"))
    counts = (
        variants.select(
            F.explode(F.sequence("AA_Start_Ref", last)).alias("Residue_Number"),
            "Type",
            "Cluster_Size",
        )
        .groupBy("Residue_Number")
        .agg(
            *(
                F.sum(F.when(F.col("Type") == t, F.col("Cluster_Size")).otherwise(0)).alias(t)
                for t in types
            )
        )
    )
    spine = spark.range(1, ref_length + 1).select(
        F.col("id").alias("Residue_Number")
    )
    out = spine.join(counts, "Residue_Number", "left").select(
        "Residue_Number", *(F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types)
    )
    total = (
        F.col("sub") + F.col("ins") + F.col("del") + F.col("ext") + F.col("delins")
    )
    return out.select(
        "Residue_Number",
        total.alias("Total_Variants"),
        F.format_string(
            "%.4f%%", total * 100.0 / F.lit(float(total_seq))
        ).alias("Percent_Variants"),
        F.col("sub").alias("Substitutions"),
        F.col("ins").alias("Insertions"),
        F.col("del").alias("Deletions"),
        F.col("ext").alias("Extensions"),
        F.col("delins").alias("Indels"),
    )
