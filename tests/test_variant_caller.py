"""Golden-fixture tests for the variant-calling kernel (FIXTURES.md §4).

Each fixture exercises one branch of the reference's case analysis
(/root/reference/MSA_Reader.py:116–622); expected tuples are the exact
rows the reference's TSV writer would produce (modulo '-'→NULL).
"""

from __future__ import annotations

import pytest

from gisaid_pipeline_functions_spark.operators.variant_caller import (
    break_up_deletions,
    call_variants,
    call_variants_row,
    mutation_count_table,
    reference_positions,
)


def events(ref: str, var: str) -> list[tuple]:
    return list(call_variants_row(ref, reference_positions(ref), var))


def test_reference_positions_with_gaps():
    assert reference_positions("M-SK") == [1, None, 2, 3]


def test_no_variants_identical():
    assert events("MSKLP", "MSKLP") == []


def test_shared_gap_columns_skipped():
    assert events("M-SK", "M-SK") == []


def test_single_substitution():
    assert events("MSKLPAQTLV", "MSKTPAQTLV") == [
        ("sub", "L4T", "L", "T", 4, None, 4, None)
    ]


def test_single_deletion():
    assert events("MSKLPAQTLV", "MSK-PAQTLV") == [
        ("del", "L4del", "L", None, 4, None, 4, None)
    ]


def test_multi_residue_deletion():
    assert events("MSKLPAQTLV", "MS---AQTLV") == [
        ("del", "K3_P5del", "KLP", None, 3, 5, 3, 5)
    ]


def test_deletion_at_end_no_cflank():
    assert events("MSKLPAQTLV", "MSKLPAQ---") == [
        ("del", "T8_V10del", "TLV", None, 8, 10, 8, 10)
    ]


def test_insertion_both_flanks():
    # ref has gap columns; positions map through reference_positions
    assert events("MSK--LP", "MSKFALP") == [
        ("ins", "K3_L4insFA", None, "FA", 4, 5, 3, 4)
    ]


def test_single_residue_insertion():
    assert events("MSK-LP", "MSKFLP") == [
        ("ins", "K3_L4insF", None, "F", 4, None, 3, 4)
    ]


def test_n_terminal_extension():
    assert events("--MSK", "GGMSK") == [
        ("ext", "M1extGG", None, "GG", 1, 2, None, 1)
    ]


def test_c_terminal_extension():
    assert events("MSK--", "MSKGG") == [
        ("ext", "K3extGG", None, "GG", 4, 5, 3, None)
    ]


def test_insertion_after_first_residue_is_ext_quirk():
    # Reference quirk (MSA_Reader.py:367 truthiness): an insertion whose
    # N-flank is reference index 0 is reported as an N-terminal extension.
    assert events("M--SK", "MGGSK") == [
        ("ext", "S1extGG", None, "GG", 2, 3, None, 2)
    ]


def test_delins_entered_from_deletion():
    # del, del, ins inside one gap region → delins; residue fields keep the
    # raw aligned slices INCLUDING dashes (MSA_Reader.py:614–616)
    assert events("MCH-K", "M--WK") == [
        ("delins", "C2_H3delinsW", "CH-", "--W", 2, 4, 2, 3)
    ]


def test_delins_entered_from_insertion_single_del():
    assert events("MC-HK", "MCW-K") == [
        ("delins", "H3delinsW", "-H", "W-", 3, 4, 3, None)
    ]


def test_substitution_at_cflank_after_region():
    # resume at the C-flank: a substitution there must still be called
    assert events("MSKLP", "M--TP") == [
        ("del", "S2_K3del", "SK", None, 2, 3, 2, 3),
        ("sub", "L4T", "L", "T", 4, None, 4, None),
    ]


def test_length_mismatch_raises():
    with pytest.raises(ValueError):
        events("MSKLP", "MSKL")


# --- Spark integration: mapInPandas kernel + post-ops ---


@pytest.fixture(scope="module")
def variants_df(spark):
    aligned = spark.createDataFrame(
        [
            ("S", "Uniq1", 10, "MSKTPAQTLV"),   # sub L4T
            ("S", "Uniq2", 5, "MS---AQTLV"),   # multi del K3_P5del
            ("S", "Uniq3", 2, "MSKLPAQTLV"),   # identical → no events
            ("N", "Uniq1", 7, "GGMSK"),        # N-ext on protein N
        ],
        "protein string, cluster_id string, cluster_size long, aligned_seq string",
    )
    refs = {"S": "MSKLPAQTLV", "N": "--MSK"}
    return call_variants(aligned, refs)


def test_kernel_spark(variants_df):
    rows = {
        (r["protein"], r["Cluster_ID"]): r for r in variants_df.collect()
    }
    assert len(rows) == 3
    assert rows[("S", "Uniq1")]["Code"] == "L4T"
    assert rows[("S", "Uniq2")]["Code"] == "K3_P5del"
    assert rows[("S", "Uniq2")]["Cluster_Size"] == 5
    assert rows[("N", "Uniq1")]["Code"] == "M1extGG"
    assert rows[("N", "Uniq1")]["AA_Start_Ref"] is None


def test_break_up_deletions(variants_df):
    out = break_up_deletions(variants_df)
    dels = sorted(
        (r["Code"], r["AA_Start_Ref"], r["AA_Start_MSA"], r["AA_End_Ref"])
        for r in out.filter("Type = 'del'").collect()
    )
    # first record keeps its span, code rewritten to K3del; extras are
    # L4del/P5del with the 0-based msa_start quirk (3-1+1=3, 3-1+2=4)
    assert dels == [
        ("K3del", 3, 3, 5),
        ("L4del", 4, 3, None),
        ("P5del", 5, 4, None),
    ]


def test_mutation_count_table(variants_df):
    out = mutation_count_table(
        variants_df.filter("protein = 'S'"), ref_length=10, total_seq=17
    )
    rows = {r["Residue_Number"]: r for r in out.collect()}
    assert len(rows) == 10  # full spine incl. zero positions
    assert rows[4]["Substitutions"] == 10
    assert rows[4]["Deletions"] == 5
    assert rows[4]["Total_Variants"] == 15
    assert rows[4]["Percent_Variants"] == f"{15/17:.4%}"
    assert rows[3]["Deletions"] == 5
    assert rows[5]["Deletions"] == 5
    assert rows[1]["Total_Variants"] == 0
    assert rows[1]["Percent_Variants"] == "0.0000%"


def test_n_ext_excluded_from_count_table(variants_df):
    # N-ext has NULL AA_Start_Ref → silently absent (reference parity)
    out = mutation_count_table(
        variants_df.filter("protein = 'N'"), ref_length=3, total_seq=7
    )
    assert [r["Total_Variants"] for r in out.orderBy("Residue_Number").collect()] == [0, 0, 0]


def test_fast_path_matches_scan_path(spark):
    # the numpy fast path (gap-free ref + gap-free row) must emit exactly
    # what the region-scan path emits for the same rows
    import random

    from gisaid_pipeline_functions_spark.operators.variant_caller import (
        call_variants_row,
        reference_positions,
    )

    rng = random.Random(11)
    alpha = "ACDEFGHIKLMNPQRSTVWY"
    ref = "".join(rng.choice(alpha) for _ in range(200))
    rows = []
    for _ in range(20):
        s = list(ref)
        for _ in range(rng.randint(0, 12)):
            i = rng.randrange(len(s))
            s[i] = rng.choice(alpha)
        rows.append(("P", f"c{len(rows)}", 1, "".join(s)))
    aligned = spark.createDataFrame(
        rows, "protein string, cluster_id string, cluster_size long, aligned_seq string"
    )
    got = {
        (r["Cluster_ID"], r["Code"], r["AA_Start_MSA"], r["AA_Start_Ref"])
        for r in call_variants(aligned, {"P": ref}).collect()
    }
    rp = reference_positions(ref)
    want = set()
    for _, cid, _, seq in rows:
        for ev in call_variants_row(ref, rp, seq):
            want.add((cid, ev[1], ev[4], ev[6]))
    assert got == want


def test_kernel_realistic_msa_length(spark):
    # realistic MSA scale per row (Spike ≈ 1273 AA; here 5000 columns with
    # sparse events incl. a gap region) — pins that both the numpy fast
    # path and the region-scan path handle long sequences, where the
    # event count stays decoupled from the sequence length
    import random

    rng = random.Random(3)
    alpha = "ACDEFGHIKLMNPQRSTVWY"
    L = 5000
    ref = "".join(rng.choice(alpha) for _ in range(L))
    subs_only = list(ref)
    for i in (10, 999, 4998):
        subs_only[i] = "W" if ref[i] != "W" else "Y"
    gapped = list(ref)
    gapped[100:103] = "---"  # 3-residue deletion
    rows = [
        ("P", "fast", 1, "".join(subs_only)),
        ("P", "scan", 1, "".join(gapped)),
    ]
    aligned = spark.createDataFrame(
        rows, "protein string, cluster_id string, cluster_size long, aligned_seq string"
    )
    out = call_variants(aligned, {"P": ref}).collect()
    by_cid = {}
    for r in out:
        by_cid.setdefault(r["Cluster_ID"], []).append(r)
    assert len(by_cid["fast"]) == 3
    assert all(r["Type"] == "sub" for r in by_cid["fast"])
    assert {r["AA_Start_Ref"] for r in by_cid["fast"]} == {11, 1000, 4999}
    assert len(by_cid["scan"]) == 1
    dele = by_cid["scan"][0]
    assert dele["Type"] == "del" and dele["AA_Start_Ref"] == 101 and dele["AA_End_Ref"] == 103


def test_mutation_count_table_matches_two_step_reference(spark):
    # the reference's Part 4 shape: break multi-residue deletions into one
    # row per residue, then count Σ cluster_size per (position, type) for
    # the rows with a reference start; the count table must equal that
    #   ref columns:  - - M S K L P - A Q T  L  V  C  H  -  K
    #   positions:        1 2 3 4 5   6 7 8  9 10 11 12    13
    ref = "--MSKLP-AQTLVCH-K"
    aligned = spark.createDataFrame(
        [
            ("P", "next", 3, "GGMSKLP-AQTLVCH-K"),    # N-ext M1extGG, NULL start
            ("P", "mdel", 5, "--MS----AQTLVCH-K"),    # multi del K3_P5del
            ("P", "ins", 7, "--MSKLPFAQTLVCH-K"),     # ins P5_A6insF
            ("P", "delins", 11, "--MSKLP-AQTLV--WK"),  # delins C11_H12delinsW
            ("P", "sub", 13, "--MSKTP-AQTLVCH-K"),    # sub L4T on a deleted residue
            ("P", "del1", 2, "--MSKLP-AQT-VCH-K"),    # single del L9del
        ],
        "protein string, cluster_id string, cluster_size long, aligned_seq string",
    )
    variants = call_variants(aligned, {"P": ref}).cache()
    codes = {r["Code"]: r["AA_Start_Ref"] for r in variants.collect()}
    assert codes == {
        "M1extGG": None, "K3_P5del": 3, "P5_A6insF": 5,
        "C11_H12delinsW": 11, "L4T": 4, "L9del": 9,
    }

    ref_length, total_seq = 13, 40
    types = ("sub", "ins", "del", "ext", "delins")
    want = {pos: dict.fromkeys(types, 0) for pos in range(1, ref_length + 1)}
    for r in break_up_deletions(variants).collect():
        if r["AA_Start_Ref"] is not None:
            want[r["AA_Start_Ref"]][r["Type"]] += r["Cluster_Size"]
    expected = {
        pos: (
            sum(c.values()),
            f"{sum(c.values()) * 100 / total_seq:.4f}%",
            c["sub"], c["ins"], c["del"], c["ext"], c["delins"],
        )
        for pos, c in want.items()
    }

    out = mutation_count_table(variants, ref_length, total_seq)
    assert out.columns == [
        "Residue_Number", "Total_Variants", "Percent_Variants", "Substitutions",
        "Insertions", "Deletions", "Extensions", "Indels",
    ]
    got = {r[0]: tuple(r[1:]) for r in out.collect()}
    assert got == expected
    assert got[4][0] == 18 and got[5] == (12, "30.0000%", 0, 7, 5, 0, 0)
