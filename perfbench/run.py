"""Surveillance-pipeline benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload sequences --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
(cached under ``perfbench/.work``), then the workload runs through the
package's public entry points on ``local[<cpus>]`` with sessions from
``session.get_spark``.

Set-up is timed once per run, in a fresh JVM: from the ``get_spark`` call
to the end of the session's first, cold pass. That pass collects its
outputs and checks them against the generator's expected values. The
timed load is a closed loop: one client runs passes back to back for
``--seconds`` and for at least five passes; a pass is build plus execute
of every output the workload produces, sent to the noop sink. The JVM
keeps getting faster over its first passes, so a median over however many
passes fit in the window would move with the host's speed: ``pass_s`` is
the median of the third to fifth pass after the cold one, in every run,
the first two being left out as warm-up. Later passes, if the window holds
any, are only recorded. The run record
also keeps each pass's CPU seconds and the host's steal time over it: on
a shared host, steal is what makes runs disagree most.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics plus the
tracing overhead. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``;
the run record, spans included, goes to ``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import gen
from spans import (Tracer, group_counters, host_steal_s, layer_metrics, process_tree, tree_cpu_s,
                   tree_peak_rss_mb)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = len(os.sched_getaffinity(0))
# After the cold pass, WARMUP_PASSES passes that are left out while the JIT
# settles, then the TIMED_PASSES passes pass_s is the median of: the same
# passes in every run, so that each run reads the JVM at the same stage of
# its warm-up.
WARMUP_PASSES = 2
TIMED_PASSES = 3

# per-layer metrics reported with --trace 1: layer -> fields
LAYER_FIELDS = {
    "session.get_spark": ("wall_s",),
    "sources.tables.load_table": ("wall_s", "build_s", "build_jobs", "jobs"),
    "sources.fasta.read_fasta": ("wall_s", "self_s", "jobs", "cpu_s", "util", "shuffle_write_mb", "spill_mb", "rows_out"),
    "sources.fasta.write": ("wall_s", "jobs", "cpu_s", "util", "bytes_written", "files_written"),
    "api.filter_sequences": ("wall_s", "self_s", "jobs", "cpu_s", "util", "shuffle_write_mb", "spill_mb", "rows_out"),
    "api.read_msa_all": ("wall_s", "self_s"),
    "operators.variant_caller.call_variants": (
        "wall_s", "self_s", "jobs", "cpu_s", "util", "shuffle_write_mb", "spill_mb", "rows_out"),
    "plans.msa_reader.reports_from_variants": (
        "wall_s", "self_s", "build_s", "jobs", "cpu_s", "util", "shuffle_write_mb", "spill_mb", "rows_out"),
    "api.split_by_protein": ("wall_s", "self_s", "jobs"),
    "api.ts_all_proteins": ("wall_s", "self_s"),
    "plans.time_series": ("wall_s", "self_s", "jobs", "cpu_s", "util", "shuffle_write_mb", "spill_mb", "rows_out"),
    "operators.timeseries": ("wall_s", "self_s", "jobs", "cpu_s", "util", "shuffle_write_mb", "spill_mb", "rows_out"),
    "plans.plotting_prep": ("wall_s", "self_s", "jobs", "cpu_s", "util", "shuffle_write_mb", "spill_mb", "rows_out"),
    "pass": ("untraced_s", "traced_s", "jobs", "stages", "cpu_s", "util", "shuffle_write_mb", "peak_rss_mb"),
    "trace": ("overhead_s",),
}
UNITS = {"jobs": "count", "build_jobs": "count", "stages": "count", "rows_out": "count",
         "files_written": "count", "bytes_written": "bytes", "util": "ratio",
         "shuffle_write_mb": "MB", "spill_mb": "MB", "peak_rss_mb": "MB"}


def per_layer_names() -> list[tuple[str, str]]:
    return [(f"{layer}.{f}", UNITS.get(f, "s")) for layer, fields in LAYER_FIELDS.items() for f in fields]


def set_up_environment() -> None:
    """Everything a run needs before the first ``get_spark``: the repo root
    importable by the Python workers too, and every scratch file Spark or
    the JVM writes kept inside the work directory."""
    for sub in ("spark-local", "tmp", "out", "results"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    os.chdir(WORK)  # spark-warehouse and derby.log, if Spark makes them


class Session:
    """One JVM: ``get_spark`` as users call it, and a stop that waits for
    the JVM and its Python workers to exit."""

    def __init__(self):
        from pyspark import SparkContext

        from gisaid_pipeline_functions_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=CPUS)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = SparkContext._gateway.proc

    def tree(self) -> list[int]:
        return process_tree(self.proc.pid)

    def stop(self) -> None:
        from pyspark import SparkContext

        pids = self.tree()
        self.spark.stop()
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.proc.stdin.close()  # the gateway JVM exits on EOF
        self.proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        for pid in pids[1:]:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)


def noop(name, df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    """One workload's passes, with the attempted / failed tally."""

    def __init__(self, workload: str, inp: str, expected: dict):
        self.workload, self.inp, self.expected = workload, inp, expected
        self.attempted = self.failed = 0

    def run_pass(self, spark, tag: str, check: bool = False) -> float | None:
        """One pass into a fresh output directory, deleted afterwards.
        Returns its seconds, or None if it raised. With ``check`` the
        outputs are collected instead of sent to noop, and compared with
        the expected values after the clock stops."""
        from workloads import CHECKS, PASSES

        self.attempted += 1
        got: dict[str, list] = {}

        def collect(name, df) -> None:
            got[name] = df.collect()

        out = os.path.join(WORK, "out", tag)
        shutil.rmtree(out, ignore_errors=True)
        try:
            t0 = time.perf_counter()
            PASSES[self.workload](spark, self.inp, out, collect if check else noop)
            dt = time.perf_counter() - t0
            errs = CHECKS[self.workload](got, self.expected, out) if check else []
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)
        for e in errs:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        self.failed += bool(errs)
        return dt

    def setup(self) -> tuple[Session, float, float | None]:
        """A fresh JVM and its first, cold pass, which is a checked pass.
        Returns the session, the ``get_spark`` seconds and the set-up
        seconds (None if the pass raised)."""
        t0 = time.perf_counter()
        sess = Session()
        start = time.perf_counter() - t0
        dt = self.run_pass(sess.spark, "setup", check=True)
        return sess, start, None if dt is None else start + dt


def measure(run: Run, seconds: float) -> dict:
    sess, start, setup = run.setup()
    spark = sess.spark
    times: list[float] = []
    cpu: list[float] = []  # CPU seconds of the JVM, its Python workers and this process
    steal: list[float] = []  # CPU seconds the host gave to others, over all cores
    deadline = time.perf_counter() + seconds
    while True:
        spark.catalog.clearCache()
        cpu0, steal0 = tree_cpu_s(sess.tree()) + time.process_time(), host_steal_s()
        dt = run.run_pass(spark, f"p{len(times)}")
        if dt is None:
            if run.failed > 3:
                break
            continue
        times.append(dt)
        cpu.append(tree_cpu_s(sess.tree()) + time.process_time() - cpu0)
        steal.append(host_steal_s() - steal0)
        if len(times) >= WARMUP_PASSES + TIMED_PASSES and time.perf_counter() >= deadline:
            break
    peak = tree_peak_rss_mb(sess.tree())
    sess.stop()
    items = run.expected["items"]
    warm = times[WARMUP_PASSES : WARMUP_PASSES + TIMED_PASSES]
    return {
        "ok": bool(warm) and setup is not None,
        "metrics": {
            "pass_s": {"value": statistics.median(warm), "unit": "s"} if warm else None,
            "items_per_s": {"value": items / statistics.median(warm), "unit": "1/s"} if warm else None,
            "setup_s": {"value": setup, "unit": "s"} if setup is not None else None,
        },
        "peak_rss_mb": peak,
        "get_spark_s": start,
        "samples": {"pass_s": times, "cpu_s": cpu, "steal_s": steal},
    }


def measure_traced(run: Run, seconds: float) -> dict:
    """Alternate untraced and traced passes; per-layer medians over the
    traced ones, pass-level counters over the untraced ones."""
    import workloads

    sess, start, _ = run.setup()
    spark = sess.spark
    tracer = Tracer(spark, sess.proc.pid)
    untraced, traced, per_pass, pass_counters = [], [], [], []
    deadline = time.perf_counter() + seconds
    while len(traced) < 1 or time.perf_counter() < deadline:
        spark.catalog.clearCache()
        group = f"pass{len(untraced)}"
        spark.sparkContext.setJobGroup(group, group, False)
        cpu0 = tree_cpu_s(process_tree(sess.proc.pid))
        dt = run.run_pass(spark, group)
        cpu = tree_cpu_s(process_tree(sess.proc.pid)) - cpu0
        spark.sparkContext._jsc.clearJobGroup()
        if dt is not None:
            untraced.append(dt)
            pass_counters.append(group_counters(spark.sparkContext, group) | {"cpu_s": cpu, "util": cpu / (dt * CPUS)})
        spark.catalog.clearCache()
        tracer.pass_id += 1
        first = len(tracer.spans)
        tracer.install(workloads.LAYER_PATCHES)
        try:
            with tracer.span("pass", "pass"):
                dt = run.run_pass(spark, f"traced{tracer.pass_id}")
        finally:
            tracer.uninstall()
        if dt is None:
            if run.failed > 3:
                break
            continue
        traced.append(dt)
        spans = tracer.spans[first:]
        tracer.collect(spans)
        per_pass.append(layer_metrics(spans, CPUS))
    peak = tree_peak_rss_mb(sess.tree())
    sess.stop()

    metrics: dict[str, dict] = {}
    for name, unit in per_layer_names():
        layer, field = name.rsplit(".", 1)
        if layer == "session.get_spark":
            value = start
        elif layer == "pass":
            if field == "untraced_s":
                value = statistics.median(untraced) if untraced else 0.0
            elif field == "traced_s":
                value = statistics.median(traced) if traced else 0.0
            elif field == "peak_rss_mb":
                value = peak
            else:
                value = statistics.median(c[field] for c in pass_counters) if pass_counters else 0.0
        elif layer == "trace":
            value = (statistics.median(traced) - statistics.median(untraced)) if traced and untraced else 0.0
        else:
            value = statistics.median(p.get(layer, {}).get(field, 0.0) for p in per_pass) if per_pass else 0.0
        metrics[name] = {"value": value, "unit": unit}
    return {
        "ok": bool(traced) and bool(untraced),
        "metrics": metrics,
        "samples": {"untraced_s": untraced, "traced_s": traced},
        "spans": [
            {"name": s.name, "layer": s.layer, "start": s.start, "end": s.end, "parent": s.parent,
             "pass": s.pass_id, "jobs": s.jobs, "stages": s.stages}
            for s in tracer.spans
        ],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    set_up_environment()
    import gisaid_pipeline_functions_spark  # noqa: F401  (fails fast outside a checkout)

    load1 = os.getloadavg()[0]
    inp, expected = gen.materialize(WORK, args.workload, args.size, args.seed)
    run = Run(args.workload, inp, expected)
    result = (measure_traced if args.trace else measure)(run, args.seconds)
    correct = result["ok"] and run.failed == 0
    record = {
        "workload": args.workload, "seed": args.seed, "size": args.size, "trace": args.trace,
        "nproc": CPUS, "loadavg_1m_start": load1, "loadavg_1m_end": os.getloadavg()[0],
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "error_rate": run.failed / max(run.attempted, 1),
        **result,
    }
    name = f"{args.workload}-{args.size}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(WORK, "results", name), "w") as fh:
        json.dump(record, fh, indent=1)

    metrics = {k: v for k, v in result["metrics"].items() if v is not None}
    for k, v in metrics.items():
        print(f"{k:56s} {v['value']:.6g} {v['unit']}")
    print(f"{'error_rate':56s} {record['error_rate']:.6g} ratio")
    if "peak_rss_mb" in result:
        print(f"{'peak_rss_mb (JVM + Python workers, VmHWM)':56s} {result['peak_rss_mb']:.6g} MB")
    print(f"nproc {CPUS}  loadavg_1m {load1:.2f} -> {record['loadavg_1m_end']:.2f}  "
          f"samples {json.dumps({k: len(v) for k, v in result['samples'].items()})}")
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
