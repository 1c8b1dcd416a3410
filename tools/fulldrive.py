"""Full-registry contract drive → FULLDRIVE_r<N>.json (VERDICT r7 #1/#2).

The driver's per-round CORRECTNESS window caps at ~50 of the 337
registered queries, so evidence for the rest ages. This tool runs EVERY
registered query against its DuckDB oracle at sf0.01 (the driver's
scale, not the sf0.001 pytest scale — bugs like the 1 µs timestamp drift
have only reproduced at sf0.01) and persists the result in the exact
CORRECTNESS_r*.json schema:

    {name: {rows_match, schema_match, hash_match,
            spark_rows, oracle_rows, err}}

Rows-only queries (no oracle) record err="no_oracle" with hash/schema
null — the same weaker gate the driver records. The artifact feeds
registry._evidence as a SEPARATE self-reported ledger: FULLDRIVE greens
break ties between equally driver-stale queries but never substitute
for driver evidence in the staleness rotation (VERDICT r9 #1).

Usage:  python tools/fulldrive.py [sf_dir] [cpus]
        (defaults: /root/testdata/sf0.01, 16)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gisaid_pipeline_functions_spark import registry  # noqa: E402
from tools.harness import drive, write_rows  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    write_rows("FULLDRIVE", drive(sorted(registry.queries()), sf_dir, cpus))


if __name__ == "__main__":
    main()
