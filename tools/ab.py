"""Interleaved A/B timing of registered queries in two source trees.

Usage:  python tools/ab.py TREE_A TREE_B name [name ...] [--pairs N] [--sf DIR]
        (defaults: 6 pairs, the sf dir in $SPARK_GRAFT_SF_DIR as bench.py)

TREE_A is the baseline (e.g. a ``git archive`` of the parent commit),
TREE_B the change. Each pair runs both trees, each in a fresh process
(a fresh JVM), and alternates which tree runs first: pair 1 runs A then
B, pair 2 runs B then A, and so on, so a box that slows down or warms
up over the run loads both sides alike. Before pair 1, one warm-up
process per tree runs and is discarded: the first processes on a box
run 1.3-2x slower on both trees, which would otherwise widen the
parent's spread. Inside a process every query is
timed min-of-3 build+write by ``harness.time_noop`` on the tree's own
``session.get_spark`` (cpus from $SPARK_GRAFT_CPUS, as bench.py),
clearing caches after the three reps.

Per query it prints every pair's A and B seconds, the median of the
per-pair B/A ratios, how many pairs B won, and the parent's spread
(IQR/median of A's runs). A median ratio above 1.05 whose parent spread
is wider than 5% is reported as unresolved, not as a regression. The
1-minute load average is printed before each process.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
REPS = 3
BOUND = 1.05
_MARK = "AB_RESULT "


def _child(tree: str, sf_dir: str, names: list[str]) -> None:
    """Time ``names`` with the package imported from ``tree``."""
    sys.path.insert(0, str(ROOT))
    from tools.harness import time_noop

    sys.path.insert(0, tree)
    import gisaid_pipeline_functions_spark as pkg
    from gisaid_pipeline_functions_spark import registry
    from gisaid_pipeline_functions_spark.session import get_spark

    if not Path(pkg.__file__).resolve().is_relative_to(Path(tree).resolve()):
        raise SystemExit(f"imported {pkg.__file__}, not the package in {tree}")
    spark = get_spark("ab", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    out = {}
    for name in names:
        out[name] = round(time_noop(lambda: qs[name](spark, sf_dir), REPS).total_s, 3)
        spark.catalog.clearCache()
    spark.stop()
    print(_MARK + json.dumps(out), flush=True)


def _run(tree: str, sf_dir: str, names: list[str]) -> dict[str, float]:
    load = os.getloadavg()[0]
    proc = subprocess.run(
        [sys.executable, __file__, "--child", tree, sf_dir, *names],
        cwd=tree, capture_output=True, text=True, check=False,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith(_MARK)]
    if proc.returncode or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{tree}: child failed (exit {proc.returncode})")
    print(f"  {tree}: loadavg {load:.2f}", flush=True)
    return json.loads(lines[-1][len(_MARK):])


def _iqr_rel(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return (q3 - q1) / statistics.median(xs)


def main() -> None:
    if sys.argv[1:2] == ["--child"]:
        _child(sys.argv[2], sys.argv[3], sys.argv[4:])
        return
    args, pairs, sf_dir = [], 6, os.environ.get("SPARK_GRAFT_SF_DIR")
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--pairs":
            pairs = int(next(it))
        elif a == "--sf":
            sf_dir = next(it)
        else:
            args.append(a)
    if len(args) < 3 or not sf_dir:
        raise SystemExit(__doc__)
    trees = {"A": str(Path(args[0]).resolve()), "B": str(Path(args[1]).resolve())}
    names = args[2:]

    # a box's first Spark processes run 1.3-2x slower than later ones, on
    # either tree: one discarded process per tree takes that hit
    print("warm-up (discarded): A then B", flush=True)
    for side in ("A", "B"):
        _run(trees[side], sf_dir, names)

    times = {"A": [], "B": []}
    for p in range(pairs):
        order = ("A", "B") if p % 2 == 0 else ("B", "A")
        print(f"pair {p + 1}/{pairs}: {' then '.join(order)}", flush=True)
        for side in order:
            times[side].append(_run(trees[side], sf_dir, names))

    print(f"\nA={trees['A']}\nB={trees['B']}\n"
          f"{pairs} pairs, min-of-{REPS} per process, sf={sf_dir}")
    for name in names:
        a = [t[name] for t in times["A"]]
        b = [t[name] for t in times["B"]]
        med = statistics.median(y / x for x, y in zip(a, b))
        spread = _iqr_rel(a)
        wins = sum(y < x for x, y in zip(a, b))
        if med <= BOUND:
            verdict = "ok"
        else:
            verdict = "unresolved" if spread > BOUND - 1 else "SLOWER"
        print(f"{name:26s} median B/A {med:.3f}  B won {wins}/{pairs}  "
              f"parent IQR/median {spread:.3f}  {verdict}")
        print(f"{'':26s} A " + " ".join(f"{x:.2f}" for x in a))
        print(f"{'':26s} B " + " ".join(f"{y:.2f}" for y in b))


if __name__ == "__main__":
    main()
