"""Seeded input generators for the benchmark workloads, with expected outputs.

Every generator takes a seed, an item count and a directory, writes the
files the package reads there (a FASTA file, or parquet tables read
through ``load_table``) and returns the expected outputs, computed here
with numpy/pandas from what was planted -- never by running the package.
The same seed and count give byte-identical inputs; ``materialize``
caches them on disk by workload, size and seed so generation stays
outside all timing.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

# bump when a generator changes, so cached inputs are rebuilt
VERSION = 3

AA = np.frombuffer(b"ACDEFGHIKLMNPQRSTVWY", dtype=np.uint8)
# (protein, reference length): Spike, N, NSP5, E
PROTEINS = (("Spike", 1273), ("N", 419), ("NSP5", 306), ("E", 75))
# The MSA holds the longest and the shortest of them, with the share of
# rows each gets: two per-protein report suites keep a pass short.
MSA_PROTEINS = (("Spike", 1273, 0.6), ("E", 75, 0.4))

# The inputs of each workload, by size: input kind -> item count. "full"
# keeps a warm pass at a few seconds on a 4-core box, so that a whole run
# -- fresh JVM, cold pass and the timed passes -- stays near a minute;
# "tiny" is for the smoke test.
SIZES = {
    "sequences": {"tiny": {"fasta": 400, "msa": 300}, "full": {"fasta": 3_000, "msa": 4_000}},
    "weekly_timeseries": {"tiny": {"timeseries": 2_000}, "full": {"timeseries": 10_000}},
}

FASTA_FILTER = {"lower_bound": 70, "upper_bound": 1280, "cutoff": 0.05, "host": "Human"}
FASTA_WIDTH = 60
TOP_N = 10


def record_digest(header: str, seq: str) -> int:
    """Order-free digest term of one FASTA record; a set of records
    digests to the sum of its terms modulo 2**64."""
    return int(hashlib.md5(f"{header}\n{seq}".encode()).hexdigest()[:16], 16)


def _residues(rng: np.random.Generator, n: int) -> np.ndarray:
    return AA[rng.integers(0, len(AA), n)]


def _other_residue(rng: np.random.Generator, r: int) -> int:
    while True:
        v = int(AA[rng.integers(0, len(AA))])
        if v != r:
            return v


# --------------------------------------------------------------- FASTA


def gen_fasta(seed: int, n: int, out_dir: str) -> dict:
    """Multi-protein FASTA, 60-column wrapped. Hosts are mixed, lengths
    straddle the filter bounds (short E records, long Spike records) and
    X-content straddles the cutoff. Returns the expected filter tally and
    per-protein counts."""
    rng = np.random.default_rng([seed, 1])
    refs = {p: _residues(rng, length) for p, length in PROTEINS}
    names = [p for p, _ in PROTEINS]
    protein = rng.choice(len(names), n, p=[0.4, 0.25, 0.2, 0.15])
    hosts = np.array(["Human", "Bat", "Pangolin", "Mink", "Environment"])
    host = hosts[rng.choice(len(hosts), n, p=[0.85, 0.05, 0.04, 0.03, 0.03])]
    f = FASTA_FILTER
    tally = {"pass": 0, "non_human": 0, "too_short": 0, "too_long": 0, "too_ambiguous": 0}
    raw = {p: 0 for p in names}
    passed = {p: 0 for p in names}
    raw_digest = {p: 0 for p in names}
    passed_digest = passed_residues = 0
    lines: list[str] = []
    for i in range(n):
        pname = names[protein[i]]
        seq = refs[pname].copy()
        # a few substitutions per record
        k = int(rng.integers(0, 6))
        if k:
            seq[rng.integers(0, len(seq), k)] = _residues(rng, k)
        # length jitter: E records dip under the lower bound, Spike
        # records cross the upper bound
        jitter = int(rng.integers(-8, 5)) if pname == "E" else int(rng.integers(-6, 14))
        if jitter < 0:
            seq = seq[:jitter]
        elif jitter > 0:
            seq = np.concatenate([seq, _residues(rng, jitter)])
        # X-content on ~15% of records, spread across the cutoff
        if rng.random() < 0.15:
            frac = rng.choice([0.01, 0.03, 0.07, 0.12])
            nx = max(1, int(round(frac * len(seq))))
            seq[rng.choice(len(seq), nx, replace=False)] = ord("X")
        s = seq.tobytes().decode()
        date = (datetime.date(2020, 1, 1) + datetime.timedelta(days=int(rng.integers(0, 900)))).isoformat()
        header = f"{pname}|hCoV-19/X/{i}/2021|{date}|EPI_ISL_{i}|Original|hCoV|{host[i]}"
        lines.append(">" + header)
        lines.extend(s[j : j + FASTA_WIDTH] for j in range(0, len(s), FASTA_WIDTH))
        raw[pname] += 1
        term = record_digest(header, s)
        raw_digest[pname] = (raw_digest[pname] + term) % 2**64
        if host[i] != f["host"]:
            reason = "non_human"
        elif len(s) < f["lower_bound"]:
            reason = "too_short"
        elif len(s) >= f["upper_bound"]:
            reason = "too_long"
        elif s.count("X") / len(s) > f["cutoff"]:
            reason = "too_ambiguous"
        else:
            reason = "pass"
            passed[pname] += 1
            passed_digest = (passed_digest + term) % 2**64
            passed_residues += len(s)
        tally[reason] += 1
    with open(os.path.join(out_dir, "drop.fasta"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return {
        "tally": {k: v for k, v in tally.items() if v},
        "raw_by_protein": raw,
        "passed_by_protein": passed,
        "passed_residues": passed_residues,
        # digests as strings: JSON numbers lose precision past 2**53
        "passed_digest": str(passed_digest),
        "raw_digest": {p: str(d) for p, d in raw_digest.items()},
    }


# ----------------------------------------------------------------- MSA


def _aligned_reference(rng: np.random.Generator, length: int):
    """Reference MSA row: residues with 2 leading and 2 trailing gap
    columns (room for N/C extensions) and internal insertion sites.
    Returns (columns as uint8, residue number per column or 0 for gaps,
    list of internal insertion sites as (first column, width))."""
    res = _residues(rng, length)
    n_sites = max(2, length // 60)
    # site after residue index a (0-based), spaced at least 8 apart and
    # at least 6 residues from either end
    slots = np.arange(6, length - 6, 8)
    after = np.sort(rng.choice(slots, min(n_sites, len(slots)), replace=False))
    widths = rng.integers(1, 4, len(after))
    cols: list[int] = [ord("-")] * 2
    pos: list[int] = [0, 0]
    sites = []
    j = 0
    for r in range(length):
        cols.append(int(res[r]))
        pos.append(r + 1)
        if j < len(after) and after[j] == r:
            sites.append((len(cols), int(widths[j])))
            cols.extend([ord("-")] * int(widths[j]))
            pos.extend([0] * int(widths[j]))
            j += 1
    cols.extend([ord("-")] * 2)
    pos.extend([0, 0])
    return np.array(cols, dtype=np.uint8), np.array(pos), sites


def gen_msa(seed: int, n: int, out_dir: str) -> dict:
    """Aligned cluster representatives over two proteins of very
    different lengths, with planted substitutions, single and multi
    deletions, insertions, N/C extensions and delins. Every planted event
    is separated from the next by matching columns, so the expected event
    table follows from the plan alone."""
    rng = np.random.default_rng([seed, 2])
    gap = ord("-")
    names = [p for p, _, _ in MSA_PROTEINS]
    share = [w for _, _, w in MSA_PROTEINS]
    refs, counts_by_type, per_pos, totals, ref_lengths, rows = {}, {}, {}, {}, {}, []
    n_by_protein = dict(zip(names, np.bincount(rng.choice(len(names), n, p=share), minlength=len(names))))
    kinds = ["sub", "del1", "delm", "ins", "next", "cext", "delins"]
    kind_p = [0.5, 0.12, 0.1, 0.1, 0.06, 0.06, 0.06]
    for pname, length, _ in MSA_PROTEINS:
        cols, pos, sites = _aligned_reference(rng, length)
        ncol = len(cols)
        is_res = pos > 0
        near_gap = np.zeros(ncol, dtype=bool)  # residue columns next to a gap column
        for c in np.nonzero(~is_res)[0]:
            near_gap[max(0, c - 2) : c + 3] = True
        free_res = np.nonzero(is_res & ~near_gap)[0]
        refs[pname] = cols.tobytes().decode()
        ref_lengths[pname] = length
        ctype = {"sub": [0, 0], "del": [0, 0], "ins": [0, 0], "ext": [0, 0], "delins": [0, 0]}
        ppos = np.zeros(length + 1, dtype=np.int64)
        total = 0
        for i in range(int(n_by_protein[pname])):
            var = cols.copy()
            var[~is_res] = gap
            size = int(min(rng.zipf(1.8), 500))
            total += size
            taken = np.zeros(ncol, dtype=bool)

            def claim(a: int, b: int) -> bool:
                """Reserve columns a..b plus a 2-column margin."""
                lo, hi = max(0, a - 2), min(ncol, b + 3)
                if taken[lo:hi].any():
                    return False
                taken[lo:hi] = True
                return True

            for _ in range(int(rng.integers(0, 6))):
                kind = kinds[rng.choice(len(kinds), p=kind_p)]
                if kind == "sub":
                    c = int(rng.choice(free_res))
                    if claim(c, c):
                        var[c] = _other_residue(rng, int(cols[c]))
                        ctype["sub"][0] += 1; ctype["sub"][1] += size
                        ppos[pos[c]] += size
                elif kind in ("del1", "delm"):
                    k = 1 if kind == "del1" else int(rng.integers(2, 6))
                    c = int(rng.choice(free_res))
                    span = np.arange(c, c + k)
                    if span[-1] < ncol and is_res[span].all() and not near_gap[span].any() and claim(c, c + k - 1):
                        var[span] = gap
                        ctype["del"][0] += 1; ctype["del"][1] += size
                        ppos[pos[span]] += size
                elif kind in ("ins", "delins"):
                    s, w = sites[int(rng.integers(0, len(sites)))]
                    lo = s - 1 if kind == "delins" else s
                    if claim(lo, s + w - 1):
                        m = int(rng.integers(1, w + 1))
                        var[s : s + m] = _residues(rng, m)
                        if kind == "delins":
                            var[s - 1] = gap
                            ppos[pos[s - 1]] += size
                        else:
                            ppos[pos[s - 1]] += size  # N-flank residue
                        key = "delins" if kind == "delins" else "ins"
                        ctype[key][0] += 1; ctype[key][1] += size
                elif kind == "next":
                    if claim(0, 2):
                        m = int(rng.integers(1, 3))
                        var[2 - m : 2] = _residues(rng, m)
                        ctype["ext"][0] += 1; ctype["ext"][1] += size
                else:  # C-terminal extension, reported at the last residue
                    if claim(ncol - 3, ncol - 1):
                        m = int(rng.integers(1, 3))
                        var[ncol - 2 : ncol - 2 + m] = _residues(rng, m)
                        ctype["ext"][0] += 1; ctype["ext"][1] += size
                        ppos[length] += size
            rows.append((pname, f"Uniq{i + 1}", size, var.tobytes().decode()))
        counts_by_type[pname] = {k: v for k, v in ctype.items() if v[0]}
        per_pos[pname] = ppos[1:].tolist()
        totals[pname] = total
    order = rng.permutation(len(rows))
    df = pd.DataFrame([rows[i] for i in order], columns=["protein", "cluster_id", "cluster_size", "aligned_seq"])
    df["cluster_size"] = df["cluster_size"].astype("int64")
    df.to_parquet(os.path.join(out_dir, "aligned.parquet"), index=False)
    # the reader's other inputs: aligned reference rows, sequences per
    # protein (sum of cluster sizes) and reference lengths
    with open(os.path.join(out_dir, "references.json"), "w") as fh:
        json.dump({"references": refs, "totals": totals, "ref_lengths": ref_lengths}, fh)
    return {
        "events_by_type": counts_by_type,
        "per_position": per_pos,
    }


# ---------------------------------------------------------- time series

REGIONS = ("Africa", "Asia", "Europe", "North America", "Oceania", "South America")
FIRST_SUNDAY = datetime.date(2020, 1, 5)
N_WEEKS = 150


def _code_pool(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Spike variant codes in the 10-column event schema (no protein)."""
    ref = _residues(rng, 1273)
    out = []
    for j, p in enumerate(np.sort(rng.choice(np.arange(2, 1270), n, replace=False))):
        p = int(p)
        r = chr(ref[p - 1])
        kind = rng.choice(["sub", "del", "ins"], p=[0.8, 0.12, 0.08])
        if kind == "sub":
            v = chr(_other_residue(rng, ref[p - 1]))
            out.append(("sub", f"{r}{p}{v}", r, v, p, None, p, None))
        elif kind == "del" and j % 2:
            e = p + 2
            rr = ref[p - 1 : e].tobytes().decode()
            out.append(("del", f"{r}{p}_{rr[-1]}{e}del", rr, None, p, e, p, e))
        elif kind == "del":
            out.append(("del", f"{r}{p}del", r, None, p, None, p, None))
        else:
            v = _residues(rng, 2).tobytes().decode()
            out.append(("ins", f"{r}{p}_{chr(ref[p])}{p + 1}ins{v}", None, v, p + 1, p + 2, p, p + 1))
    return pd.DataFrame(
        out,
        columns=["Type", "Code", "Ref_Residues", "Var_Residues", "AA_Start_MSA", "AA_End_MSA", "AA_Start_Ref", "AA_End_Ref"],
    )


def gen_timeseries(seed: int, n: int, out_dir: str) -> dict:
    """GISAID-shaped metadata over ~150 Sunday weeks (about 3% partial
    dates, some outside the main range), six regions, Zipf-sized clusters
    including singletons, and a precomputed Spike event table."""
    rng = np.random.default_rng([seed, 3])
    # cluster sizes: Zipf, capped, singletons included
    sizes: list[int] = []
    while sum(sizes) < n:
        sizes.append(int(min(rng.zipf(1.7), 2_000)))
    sizes[-1] -= sum(sizes) - n
    sizes = [s for s in sizes if s > 0]
    cluster_of = np.repeat(np.arange(1, len(sizes) + 1), sizes)[rng.permutation(n)]
    size_of = np.array([0] + sizes)[cluster_of]
    acc = np.array([f"EPI_ISL_{i}" for i in range(n)])
    # dates: weekly volume rises and falls; ~3% partial; ~0.5% outside
    weights = np.sin(np.linspace(0.2, 3.0, N_WEEKS)) + 0.2
    week = rng.choice(N_WEEKS, n, p=weights / weights.sum())
    day = pd.Timestamp(FIRST_SUNDAY) + pd.to_timedelta(week * 7 + rng.integers(0, 7, n), unit="D")
    outside = rng.random(n) < 0.005
    early = pd.Timestamp("2019-06-02") + pd.to_timedelta(rng.integers(0, 60, n), unit="D")
    day = day.where(~outside, early)
    date = pd.Series(day.strftime("%Y-%m-%d"))
    partial = rng.random(n) < 0.03
    date[partial] = np.where(rng.random(partial.sum()) < 0.5, date[partial].str[:7], date[partial].str[:4])
    region = np.array(REGIONS)[rng.choice(len(REGIONS), n, p=[0.05, 0.2, 0.4, 0.25, 0.04, 0.06])]
    metadata = pd.DataFrame({"gisaid_epi_isl": acc, "date": date.values, "region": region, "country": "C"})
    clusters = pd.DataFrame(
        {
            "Input_ID": [f"Spike|hCoV-19/X/{i}/2021|d|EPI_ISL_{i}|Original|hCoV|Human" for i in range(n)],
            "Cluster_Name": [f"Uniq{c}" for c in cluster_of],
            "Cluster_num": cluster_of.astype("int64"),
            "Member_num": np.arange(n, dtype="int64"),
            "Cluster_Size": size_of.astype("int64"),
            "Target_Seq": "*",
        }
    )
    # event lists for the non-singleton clusters: Zipf-popular codes
    pool = _code_pool(rng, 300)
    pop = 1.0 / np.arange(1, len(pool) + 1) ** 0.9
    pop = pop[rng.permutation(len(pool))]
    ev_rows, lists = [], {}
    for c, s in enumerate(sizes, start=1):
        if s < 2:
            continue
        k = int(rng.integers(0, 7))
        if k == 0:
            continue
        picks = np.sort(rng.choice(len(pool), k, replace=False, p=pop / pop.sum()))
        lists[c] = pool["Code"].values[picks].tolist()
        for j in picks:
            ev_rows.append((f"Uniq{c}", s, *pool.iloc[j]))
    variants = pd.DataFrame(ev_rows, columns=["Cluster_ID", "Cluster_Size", *pool.columns])
    for col in ("Cluster_Size", "AA_Start_MSA", "AA_End_MSA", "AA_Start_Ref", "AA_End_Ref"):
        variants[col] = variants[col].astype("Int64")
    metadata.to_parquet(os.path.join(out_dir, "metadata.parquet"), index=False)
    clusters.to_parquet(os.path.join(out_dir, "clusters.parquet"), index=False)
    variants.to_parquet(os.path.join(out_dir, "variants.parquet"), index=False)

    # expected outputs
    keep = (size_of >= 2) & date.str.fullmatch(r"\d{4}-\d{2}-\d{2}").values
    linked = metadata[keep].copy()
    d = pd.to_datetime(linked["date"])
    linked["week_start"] = (d - pd.to_timedelta((d.dt.dayofweek + 1) % 7, unit="D")).dt.strftime("%Y-%m-%d")
    totals = linked.groupby("week_start").size()
    by_region = linked.groupby(["region", "week_start"]).size()
    linked["code"] = [lists.get(int(c), []) for c in cluster_of[keep]]
    freq = linked.explode("code").dropna(subset=["code"]).groupby(["week_start", "code"]).size()
    score = freq.groupby("code").sum().reset_index(name="score")
    top = score.sort_values(["score", "code"], ascending=[False, True]).head(TOP_N)["code"].tolist()
    return {
        "linked_rows": int(len(linked)),
        "ts_totals": {k: int(v) for k, v in totals.items()},
        "n_by_continent": {f"{r}|{w}": int(v) for (r, w), v in by_region.items()}
        | {f"Worldwide|{w}": int(v) for w, v in totals.items()},
        "ts_freq_rows": int(len(freq)),
        "ts_freq_sum": int(freq.sum()),
        "top_codes": top,
    }


GENERATORS = {"fasta": gen_fasta, "msa": gen_msa, "timeseries": gen_timeseries}


def materialize(work_dir: str, workload: str, size: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the inputs for one workload, every kind it reads
    into one directory; returns the directory and the expected outputs,
    keyed by input kind, plus ``items``, the input items of all kinds."""
    key = f"{workload}-{size}-s{seed}-v{VERSION}"
    path = os.path.join(work_dir, "data", key)
    done = os.path.join(path, "expected.json")
    if not os.path.exists(done):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        counts = SIZES[workload][size]
        expected = {kind: GENERATORS[kind](seed, n, tmp) for kind, n in counts.items()}
        expected["items"] = sum(counts.values())
        with open(os.path.join(tmp, "expected.json"), "w") as fh:
            json.dump(expected, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(done) as fh:
        return path, json.load(fh)
