"""Shared measurement and oracle-drive core for bench.py and tools/.

One home for what every timing or correctness script needs, so each
obeys the CLAUDE.md measurement traps by construction instead of by hand:

- ``driver_session``: the vanilla session the round driver compares
  CORRECTNESS rows in (``local[cpus]``, shuffle partitions = cpus, UTC,
  UI and console progress bar off). Timing scripts do NOT use it: they
  take the bench config from
  ``gisaid_pipeline_functions_spark.session.get_spark``.
- ``round_number``: the round an artifact is stamped with.
- ``calibrate``: the pure-CPU shuffle+aggregate calibration op.
- ``time_noop``: min-of-k noop-write timer, build and write separately
  (never ``count()``: it column-prunes computed columns).
- ``time_queries``: the per-query loop of tools/sweep.py and
  tools/scale_probe.py — ``time_noop`` plus a row count per registered
  query, errors recorded instead of raised.
- ``drive``/``write_rows``: the CORRECTNESS-row drive loop and its
  artifact, shared by tools/fulldrive.py and tools/check_queries.py.
"""

from __future__ import annotations

import json
import os
import re
import time
from pathlib import Path
from typing import Callable, NamedTuple

ROOT = Path(__file__).resolve().parents[1]


def driver_session(cpus: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # no [Stage N:...] bars on stderr: they bury the drive's result lines
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def correctness_rounds(root: Path = ROOT) -> dict[int, Path]:
    """CORRECTNESS_r<N>.json files keyed by their NUMERIC round N (a
    lexicographic max would rank r9 above r18)."""
    return {
        int(m.group(1)): p
        for p in root.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)", p.stem))
    }


def round_number(root: Path = ROOT) -> int:
    """$SPARK_GRAFT_ROUND, else the latest CORRECTNESS round + 1.

    CORRECTNESS_r<N> lands at the START of round N's judging, so work run
    during round N+1's build stamps N+1; a re-run in the same round
    overwrites its own artifact, and an artifact for a PAST round (or a
    judge's audit after the driver ran) needs the env var.
    """
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env and env.isdigit():
        return int(env)
    return max(correctness_rounds(root), default=0) + 1


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def calibrate(spark, rows: int, parts: int) -> float:
    """Seconds for a fixed pure-CPU shuffle+aggregate (no Python): an
    inflated value on a fixed (rows, parts) means a loaded or slower box,
    so timings normalize against it across rounds."""
    t0 = time.perf_counter()
    noop_write(
        spark.range(0, rows, 1, parts)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k")
        .sum("v")
    )
    return round(time.perf_counter() - t0, 3)


class NoopTiming(NamedTuple):
    build_s: float  # min over reps of building the DataFrame
    write_s: float  # min over reps of its noop write
    total_s: float  # min over reps of build + write
    df: object  # the last rep's DataFrame


def time_noop(build: Callable[[], object], reps: int = 2) -> NoopTiming:
    """Min-of-``reps`` timing of ``build()`` and a noop write of its
    result. Caches are left alone: a caller that clears them does so
    after all reps, so later reps see the first rep's internal persists
    warm, as the bench does."""
    best_b = best_w = best_t = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        noop_write(df)
        t2 = time.perf_counter()
        best_b = min(best_b, t1 - t0)
        best_w = min(best_w, t2 - t1)
        best_t = min(best_t, t2 - t0)
    return NoopTiming(best_b, best_w, best_t, df)


class QueryRun(NamedTuple):
    sec: float  # min-of-reps build + write, or the wall until the error
    rows: int | None  # rows of the result; None on error
    err: str | None  # "ERR <message>" when the query raised


def time_queries(spark, names, sf_dir: str, reps: int = 2) -> dict[str, QueryRun]:
    """``time_noop`` of each registered query in ``names`` on ``sf_dir``,
    then its row count (cheap: the plan is warm and pruned). An exception
    is recorded as the query's ``err``, never raised. Caches are cleared
    after each query's reps: several operators persist() intermediates
    they cannot safely unpersist (lazy returns), and across hundreds of
    queries in one session those would pile up in block storage."""
    from gisaid_pipeline_functions_spark import registry

    qs = registry.queries()
    out: dict[str, QueryRun] = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            tm = time_noop(lambda: qs[name](spark, sf_dir), reps)
            out[name] = QueryRun(round(tm.total_s, 3), tm.df.count(), None)
        except Exception as ex:  # noqa: BLE001 — a sweep reports, never dies
            out[name] = QueryRun(
                round(time.perf_counter() - t0, 3), None, f"ERR {str(ex)[:120]}"
            )
        spark.catalog.clearCache()
    return out


def is_green(row: dict) -> bool:
    return bool(row["hash_match"]) or row["err"] == "no_oracle"


def drive(names: list[str], sf_dir: str, cpus: int) -> dict[str, dict]:
    """CORRECTNESS row per name against its DuckDB oracle, one driver
    session, caches cleared between queries; prints one line per query."""
    from gisaid_pipeline_functions_spark import registry
    from tests.oracle import ROW_FIELDS, correctness_row, duckdb_conn

    spark = driver_session(cpus)
    qs, oracles = registry.queries(), registry.oracle_sql()
    con = duckdb_conn(sf_dir)
    out: dict[str, dict] = {}
    for i, name in enumerate(names, 1):
        t0 = time.perf_counter()
        if name in qs:
            row = correctness_row(spark, con, sf_dir, qs[name], oracles.get(name))
        else:
            row = dict.fromkeys(ROW_FIELDS) | {"err": "not_registered"}
        out[name] = row
        if row["hash_match"]:
            status = "hash-green"
        elif row["err"] == "no_oracle":
            status = f"rows-only ({row['spark_rows']} rows)"
        else:
            status = f"FAIL {row['err'] or 'hash'}"
        print(f"[{i}/{len(names)}] {name}: {status} "
              f"[{time.perf_counter() - t0:.1f}s]", flush=True)
        spark.catalog.clearCache()
    con.close()
    spark.stop()
    return out


def write_rows(prefix: str, rows: dict[str, dict]) -> None:
    """Persist rows as <prefix>_r<round>.json in the CORRECTNESS schema."""
    path = ROOT / f"{prefix}_r{round_number():02d}.json"
    path.write_text(json.dumps(rows, indent=1))
    greens = sum(map(is_green, rows.values()))
    print(f"wrote {path}: {greens}/{len(rows)} green")
