"""Synthetic hot-bucket probe for the r18 pair-generator guard
(operators/dedup.py:bucket_pair_rows; VERDICT r17 #1).

A bucket of n members emits n(n-1)/2 pairs, so the VERDICT's literal
scenario (one key carrying 1e6 members) implies 5e11 output rows — not
completable by ANY generator; what the guard changes is the SHAPE:
ungated, the whole quadratic expansion runs in ONE task holding one
O(n) array row; guarded, it is chunked into ceil(n/cap) round-robin-
scattered tasks with O(cap) left slices. This probe builds a
completable instance, checks the pair COUNT matches the closed form
(identity at full scale), and times ungated vs guarded generation.

Measured at first commit (local[16], 4g heap):
  n=8000   guarded  4.1 s   ungated 11.4 s   (2.8x)
  n=12000  guarded  9.9 s   ungated java.lang.OutOfMemoryError after
           162 s — the single quadratic-expansion task kills the JVM
           even at 4 GiB, i.e. the r17 ungated shape did not merely
           straggle on a hot bucket, it FAILED. The guard turns that
           into a ~10 s distributed run.

Usage: python tools/hot_bucket_probe.py [n_hot] [cap] [cpus]
       (defaults: 12000, 800, 16)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gisaid_pipeline_functions_spark.session import get_spark  # noqa: E402


def main() -> None:
    n_hot = int(sys.argv[1]) if len(sys.argv) > 1 else 12_000
    cap = int(sys.argv[2]) if len(sys.argv) > 2 else 800
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 16

    from pyspark.sql import functions as F

    # the bench session (8 GiB heap). At Spark's 1 GiB default the
    # UNGATED arm died with a heap OOM at n=12000 (one task materializing
    # the quadratic expansion of a single bucket row) while the guarded
    # arm completed — the failure mode the guard exists for.
    spark = get_spark("gisaid-pipeline-hot-bucket-probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    from gisaid_pipeline_functions_spark.operators.dedup import bucket_pair_rows

    # one hot bucket of n_hot members + 1000 background buckets of 3
    hot = spark.range(n_hot).select(
        F.lit("hot").alias("k"), F.col("id").alias("m")
    )
    bg = spark.range(3000).select(
        F.concat(F.lit("b"), (F.col("id") % 1000)).alias("k"),
        (F.col("id") + 1_000_000).alias("m"),
    )
    buckets = (
        hot.unionByName(bg)
        .groupBy("k")
        .agg(F.array_sort(F.collect_list("m")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .localCheckpoint(eager=True)  # time the GENERATOR, not the synth
    )
    expected = n_hot * (n_hot - 1) // 2 + 1000 * 3

    def run(label: str, use_cap: int) -> float:
        t = time.perf_counter()
        try:
            got = (
                bucket_pair_rows(buckets, "ids", "a", "b", cap=use_cap)
                .groupBy()
                .count()
                .collect()[0][0]
            )
        except Exception as ex:  # noqa: BLE001 — the ungated arm OOMs
            print(f"{label:28s} FAILED after {time.perf_counter() - t:.1f} s: "
                  f"{str(ex)[:120]}")
            return float("inf")
        dt = time.perf_counter() - t
        ok = "OK" if got == expected else f"MISMATCH got={got}"
        print(f"{label:28s} {dt:8.1f} s   pairs={got} ({ok})", flush=True)
        return dt

    print(f"hot bucket n={n_hot}, cap={cap}, cpus={cpus}, "
          f"expected pairs={expected}")
    # guarded first: the ungated arm can kill the JVM with an OOM
    t_new = run(f"guarded (cap={cap})", cap)
    t_old = run("ungated (cap=inf)", n_hot + 1)  # cap above n => old path
    print(f"speedup: {t_old / t_new:.2f}x (ideal ~min(cpus, n/cap) = "
          f"{min(cpus, (n_hot + cap - 1) // cap)})")
    spark.stop()


if __name__ == "__main__":
    main()
