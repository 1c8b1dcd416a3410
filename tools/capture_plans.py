"""Dump .explain("formatted") for bench headline+extended queries.

Usage: python tools/capture_plans.py <outdir> [query ...]
Writes <outdir>/<query>_<tag>.txt where tag is argv-controlled via
$PLAN_TAG (default "before"). Each query is built and explained, never
written; building can still run Spark jobs (reshape_pivot_wide's pivot
value discovery, variant_call_kernel's reference-anchor collect — see the
build_sec comment in bench.py).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (HEADLINE / EXTENDED lists)
from gisaid_pipeline_functions_spark.session import get_spark  # noqa: E402
from gisaid_pipeline_functions_spark import registry  # noqa: E402


def main() -> None:
    outdir = sys.argv[1]
    names = sys.argv[2:] or (bench.HEADLINE + bench.EXTENDED)
    tag = os.environ.get("PLAN_TAG", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("plan-capture", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # noqa: BLE001
            plan = f"ERROR during build/explain: {ex}"
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
