"""Targeted sf0.01 oracle check for named queries — the same compare the
driver and tools/fulldrive.py run, but only for the names given on the
command line. The fast inner loop while building a new operator (the
full drive takes ~8 min; one query takes seconds).

``--sample N`` (VERDICT r9 #5) replaces the name list with a
deterministic stratified sample — N queries spread across
(registering module, last-driver-green round) strata, stalest driver
evidence first within each stratum — and persists the results as
``SPOTCHECK_r<round>.json`` in the exact CORRECTNESS_r*.json schema, so
a judge (or the builder) has a one-command independent audit whose
artifact is machine-comparable with the driver's own.

Usage:  python tools/check_queries.py name [name ...] [--sf=DIR]
        python tools/check_queries.py --sample 20 [--sf=DIR]

Round stamping: the SPOTCHECK artifact's round is max(existing
CORRECTNESS rounds)+1 — correct for the builder's pre-driver flow.
When running AFTER the driver in the same round (a judge's audit),
set SPARK_GRAFT_ROUND explicitly or the artifact gets the NEXT
round's number; the window-disjointness exclusion itself is
order-safe either way (it excludes the latest CORRECTNESS file's
names — ADVICE r12).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from gisaid_pipeline_functions_spark import registry  # noqa: E402
from tools.harness import (  # noqa: E402
    correctness_rounds,
    drive,
    is_green,
    write_rows,
)


def _stratified_sample(registry, n: int) -> list[str]:
    """Deterministic round-robin over (module, last-driver-green) strata.

    Strata are ordered stalest-driver-evidence first (never-driven = 0),
    then module name; within a stratum, registration order. Round-robin
    across strata guarantees every module×staleness combination is
    represented before any stratum contributes twice.

    Names in the CURRENT round's driver window are excluded (VERDICT r10
    #4): the spotcheck's value is independent coverage, so it must be
    disjoint from what the driver checks this round — the first 50 names
    in rotation order (the window the driver will consume), PLUS the
    names in the latest EXISTING CORRECTNESS artifact. The latter covers
    the driver-ran-first case (ADVICE r12): harness.round_number() derives the
    round as max(existing)+1, so "this round's" file can never exist by
    that name — but when the driver has already run, its output IS the
    latest existing file and its names have rotated out of the first-50
    (their evidence is now fresh). Excluding the latest file's names is
    correct in both orderings: driver-first, it restores the documented
    disjointness; builder-first, it only skips last round's freshest
    names, which the spotcheck (stalest-first) values least anyway."""
    driver, _ = registry._evidence()
    qs = registry.queries()
    excluded = set(list(qs)[:50])
    rounds = correctness_rounds()
    if rounds:
        try:
            excluded |= set(json.loads(rounds[max(rounds)].read_text()))
        except ValueError:
            pass
    strata: dict[tuple[int, str], list[str]] = {}
    for name in qs:  # registration-staleness order from registry._ordered
        if name in excluded:
            continue
        mod = qs[name].__module__.rsplit(".", 1)[-1]
        strata.setdefault((driver.get(name, 0), mod), []).append(name)
    ordered_strata = [strata[k] for k in sorted(strata)]
    picked: list[str] = []
    i = 0
    while len(picked) < n and any(ordered_strata):
        for bucket in ordered_strata:
            if i < len(bucket) and len(picked) < n:
                picked.append(bucket[i])
        i += 1
        if i > max(len(b) for b in ordered_strata):
            break
    return picked


def main() -> int:
    args = []
    sf_dir = "/root/testdata/sf0.01"
    sample_n = 0
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a == "--sample":
            sample_n = int(argv[i + 1])
            i += 1
        elif a.startswith("--sample="):
            sample_n = int(a.split("=", 1)[1])
        else:
            args.append(a)
        i += 1

    if sample_n:
        args = _stratified_sample(registry, sample_n)
        print(f"stratified sample ({sample_n}): {' '.join(args)}")

    out = drive(args, sf_dir, cpus=16)
    if sample_n:
        write_rows("SPOTCHECK", out)
    return 0 if all(map(is_green, out.values())) else 1


if __name__ == "__main__":
    sys.exit(main())
