"""Scale probe: every registered query on its testdata directory and on
an N×-replicated copy of it, flagged where the wall grows faster than
the data.

Usage:  python tools/scale_probe.py [SF_DIR] [N] [NAME ...]
        (defaults: the sf dir in $SPARK_GRAFT_SF_DIR, 4, every registered
        query and every bespoke row; cpus from $SPARK_GRAFT_CPUS, as
        bench.py)

Every registered query takes ``sf_dir``, so pointing it at a replicated
directory reaches every table it reads — through ``load_table``, a plain
``pq.read_table`` or a ``readStream`` source alike — with no change to
the package. ``replicate`` writes that directory; the 1× run is the
source directory itself. Each query is timed by ``harness.time_queries``
(min-of-2 noop write, then a row count) at 1× and N×, interleaved per
query, and flagged when ``tN/t1 > 1.5·max(N, rowsN/rows1)``: a plan that
is linear in its input grows at most as fast as the larger of the two.

A NAME is a registered query or one of the bespoke rows below, which
ask questions a replicated directory cannot: the hot-key canary, the
fixed-delta index family and the growing-hub graph.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gisaid_pipeline_functions_spark import registry  # noqa: E402
from gisaid_pipeline_functions_spark.operators import dedup as dd  # noqa: E402
from gisaid_pipeline_functions_spark.operators import similarity as sim  # noqa: E402
from gisaid_pipeline_functions_spark.operators.graph import hits, link_prediction  # noqa: E402
from gisaid_pipeline_functions_spark.session import get_spark  # noqa: E402
from gisaid_pipeline_functions_spark.sources.tables import load_table  # noqa: E402
from tools.harness import time_noop, time_queries  # noqa: E402

FLAG_FACTOR = 1.5
REPS = 2


def _key_cols(schema: pa.Schema) -> list[str]:
    return [
        f.name for f in schema
        if pa.types.is_int64(f.type) and f.name.endswith(("key", "_id"))
    ]


def _copy(t: pa.Table, i: int, offset: int) -> pa.Table:
    """Copy ``i`` of table ``t``; copy 0 is ``t`` itself. Copy i ≥ 1
    shifts every int64 ``*key``/``*_id`` column by i·offset (foreign keys
    join only within their copy), prefixes every word of a ``text``
    column with ``c{i}_`` (no word is shared across copies, so pair
    generators see no manufactured cross-copy duplicates) and rotates
    each float-list column by i positions (distances within a copy are
    unchanged, copies stop being exact duplicates)."""
    if i == 0:
        return t
    keys, cols = _key_cols(t.schema), []
    for f, col in zip(t.schema, t.columns):
        if f.name in keys:
            col = pc.add(col, pa.scalar(i * offset, pa.int64()))
        elif f.name == "text" and pa.types.is_string(f.type):
            tag = f"c{i}_"
            col = pc.binary_join_element_wise(
                tag, pc.replace_substring(col, " ", " " + tag), ""
            )
        elif pa.types.is_list(f.type) and pa.types.is_floating(f.type.value_type):
            col = pa.array(
                [v[i % len(v):] + v[:i % len(v)] if v else v for v in col.to_pylist()],
                f.type,
            )
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=t.schema)


def replicate(src_dir: str, dst_dir: str, n: int, start: int = 0) -> None:
    """Write copies ``start .. start+n-1`` of every ``*.parquet`` table in
    ``src_dir`` to ``dst_dir``, column types (timestamp units included)
    unchanged. The key offset is the power of ten above the largest key
    in the source. A table with no int64 key column is a dimension table
    (``region``, ``nation``) and is written once."""
    tables = {p.name: pq.read_table(p) for p in sorted(Path(src_dir).glob("*.parquet"))}
    top = max(
        (pc.max(t[c]).as_py() or 0 for t in tables.values() for c in _key_cols(t.schema)),
        default=0,
    )
    offset = 10 ** len(str(top))
    Path(dst_dir).mkdir(parents=True, exist_ok=True)
    for fname, t in tables.items():
        copies = range(start, start + n) if _key_cols(t.schema) else [0]
        pq.write_table(
            pa.concat_tables([_copy(t, i, offset) for i in copies]),
            Path(dst_dir) / fname,
        )


def _hot_key_canary(spark, sf_dir: str) -> None:
    """A check of the data, with no query to run: the windowed
    dup-marking in span_surgery / exactsubstr_chars puts each gram key on
    ONE window task, and the pair generator chunks buckets above ~1e5
    members. Print the largest per-key row count of both key families so
    a corpus that breaks that bound shows before a task runs out of
    memory. The anchor stream is a winnowed subset of the char grams, so
    the char-gram count bounds it too."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    words = F.split(text, " ")
    families = {
        "word-5gram (span_surgery h)": (
            F.size(words) - 5, lambda i: F.array_join(F.slice(words, i + 1, 5), " ")
        ),
        "char-25gram (exactsubstr gh, bounds ah)": (
            F.length(text) - 25, lambda i: text.substr(i + 1, F.lit(25))
        ),
    }
    for label, (last, gram) in families.items():
        keys = F.when(
            last >= 0, F.transform(F.sequence(F.lit(0), last), gram)
        ).otherwise(F.array().cast("array<string>"))
        mx = (
            docs.select(F.explode(keys).alias("k")).groupBy("k").count()
            .agg(F.max("count")).first()[0]
        )
        flag = "  ** EXCEEDS 1e5 window/bucket bound **" if (mx or 0) > 100_000 else ""
        print(f"hot-key canary {label:40s}: max per-key rows = {mx}{flag}")


# The fixed-delta index family. Their claim is about a FIXED delta
# (or query or delete batch) against an index that grows: replication
# grows the delta together with the corpus, so it cannot ask it. Each row
# builds its index on the 1× and the N× table (untimed: that is the
# prior batch's cost), persists it to parquet and times ``run`` with the
# same fixed input at both sizes. Resume rows should stay near flat;
# search and delete rows scan what grows and may reach ~N×.
def _lsh(d):
    return dd.build_lsh_band_index(d), dd.lsh_band_stack(d)


def _exact(d):
    return dd.build_exact_dedup_index(d), dd.exact_dedup_postings(d)


def _ivf(v):
    return sim.build_ivf_index(v, k=4, iterations=2)


def _pq(v):
    return sim.build_pq_index(v, m=2, sub_dim=32, k=4, iterations=2)


def _ivfpq(v):
    return sim.build_ivfpq_index(v, k_coarse=4, m=2, sub_dim=32, k_pq=4, iterations=2)


INDEX_ROWS = [  # (name, table, build(base), run(index parts, base, fixed inputs))
    ("lsh_resume_fixed_delta", "documents", _lsh,
     lambda ix, b, fx: dd.apply_lsh_band_index(ix[0], fx.docs_delta)[0]),
    ("lsh_index_delete", "documents", _lsh,
     lambda ix, b, fx: dd.delete_from_lsh_band_index(ix[0], ix[1], fx.doc_dels)[0]),
    ("exact_resume_fixed_delta", "documents", _exact,
     lambda ix, b, fx: dd.apply_exact_dedup_index(ix[0], fx.docs_delta)[0]),
    ("exact_index_delete", "documents", _exact,
     lambda ix, b, fx: dd.delete_from_exact_dedup_index(ix[0], ix[1], fx.doc_dels)[0]),
    ("ivf_resume_fixed_delta", "embeddings", _ivf,
     lambda ix, b, fx: sim.apply_ivf_index(ix[0], fx.vec_delta)),
    ("ivf_index_search", "embeddings", _ivf,
     lambda ix, b, fx: sim.ivf_index_topk(ix[0], ix[1], b, fx.vq, k=10)),
    ("pq_resume_fixed_delta", "embeddings", _pq,
     lambda ix, b, fx: sim.apply_pq_index(ix[0], fx.vec_delta, m=2, sub_dim=32)),
    ("pq_adc_index_search", "embeddings", _pq,
     lambda ix, b, fx: sim.pq_index_adc_topk(ix[0], ix[1], fx.vq, m=2, sub_dim=32, topk=10)),
    ("ivfpq_resume_fixed_delta", "embeddings", _ivfpq,
     lambda ix, b, fx: sim.apply_ivfpq_index(ix[0], ix[1], fx.vec_delta, m=2, sub_dim=32)),
    ("ivfpq_index_search", "embeddings", _ivfpq,
     lambda ix, b, fx: sim.ivfpq_index_adc_topk(
         ix[0], ix[1], ix[2], fx.vq, m=2, sub_dim=32, topk=10, probe=2)),
    ("sq8_resume_fixed_delta", "embeddings", sim.build_sq8_index,
     lambda ix, b, fx: sim.apply_sq8_index(ix[0], fx.vec_delta)),
    ("sq8_index_search", "embeddings", sim.build_sq8_index,
     lambda ix, b, fx: sim.sq8_index_topk(ix[0], ix[1], fx.vq, topk=10)),
    ("sq8_index_delete", "embeddings", sim.build_sq8_index,
     lambda ix, b, fx: sim.delete_from_vector_index(ix[1], fx.vec_dels)),
]

# The growing-hub graph: replication copies hubs but never makes one
# bigger. The complete bipartite K(H, L) with L growing N× gives each of
# the H hubs N× the degree, so the uncapped link-prediction wedge volume
# grows N²; a ~N ratio means the degree cap holds. HITS runs 3 rounds:
# its exact integer scores grow as (H·L)^T and T=4 would pass 2^63 at 10×.
HUB_H, HUB_L = 40, 250
HUB_ROWS = {
    "link_pred_capped": lambda e: link_prediction(e, min_cn=2, k=100, degree_cap=64),
    "hits_bipartite": lambda e: hits(e.selectExpr("u AS src", "v AS dst"), iterations=3),
}

INDEX_NAMES = {r[0] for r in INDEX_ROWS}
BESPOKE = {"hot_key_canary", *INDEX_NAMES, *HUB_ROWS}


def _flagged(t1: float, tn: float, bound: float) -> bool:
    return tn / t1 > FLAG_FACTOR * bound


def _header(n: int) -> str:
    return f"\n{'row':40s} {'t1':>8s} {f't{n}':>8s} {'ratio':>7s} {'rows1':>9s} {f'rows{n}':>9s}"


def _row(name: str, t1: float, tn: float, bound: float, rows=("", "")) -> str:
    flag = "  FLAG" if _flagged(t1, tn, bound) else ""
    return f"{name:40s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f} {rows[0]:>9} {rows[1]:>9}{flag}"


def _registry_rows(spark, names, sf_dir: str, big_dir: str, n: int) -> None:
    runs = {}
    for i, name in enumerate(names, 1):
        one = time_queries(spark, [name], sf_dir, REPS)[name]
        big = time_queries(spark, [name], big_dir, REPS)[name]
        runs[name] = (one, big)
        print(f"[{i}/{len(names)}] {name}: 1x {one.sec:.2f}s {one.err or one.rows}"
              f" | {n}x {big.sec:.2f}s {big.err or big.rows}", flush=True)
    table, errors = [], {}
    for name, (one, big) in runs.items():
        if one.err or big.err:
            errors[name] = one.err or big.err
        else:
            growth = big.rows / one.rows if one.rows else n
            table.append((big.sec / one.sec, name, one, big, max(n, growth)))
    table.sort(reverse=True)
    print(_header(n))
    for _, name, one, big, bound in table:
        print(_row(name, one.sec, big.sec, bound, (one.rows, big.rows)))
    flagged = sorted(name for _, name, one, big, bound in table
                     if _flagged(one.sec, big.sec, bound))
    print(f"{len(flagged)} flagged: {' '.join(flagged)}")
    print(f"{len(errors)} errors")
    for name, err in sorted(errors.items()):
        print(f"  {name}: {err}")


def _index_rows(spark, dirs, delta_dir: str, tmp: str, n: int, wanted) -> None:
    src = dirs[0]
    vecs = load_table(spark, src, "embeddings")
    fx = SimpleNamespace(
        docs_delta=load_table(spark, delta_dir, "documents"),
        vec_delta=load_table(spark, delta_dir, "embeddings"),
        vq=vecs.filter(F.col("vec_id") < 5),
        vec_dels=vecs.select("vec_id").orderBy("vec_id").limit(20),
        doc_dels=load_table(spark, src, "documents").select("doc_id").orderBy("doc_id").limit(20),
    )
    built: dict = {}
    for name, table, build, run in INDEX_ROWS:
        if name not in wanted:
            continue
        t = []
        for scale, d in enumerate(dirs):
            base = load_table(spark, d, table)
            if (build, scale) not in built:
                paths = []
                for part in build(base):
                    paths.append(f"{tmp}/index{len(built)}_{len(paths)}")
                    part.write.parquet(paths[-1])
                built[build, scale] = paths
            ix = [spark.read.parquet(p) for p in built[build, scale]]
            t.append(time_noop(lambda: run(ix, base, fx), REPS).total_s)
            spark.catalog.clearCache()
        print(_row(name, t[0], t[1], n) + "  (fixed input, index grows)")


def _hub_rows(spark, cpus: int, n: int, wanted) -> None:
    def star(mult):
        return (
            spark.range(HUB_H * HUB_L * mult)
            .selectExpr(f"id % {HUB_H} AS u", f"{HUB_H} + id div {HUB_H} AS v")
            .repartition(cpus).localCheckpoint(eager=True)
        )

    rows = {name: fn for name, fn in HUB_ROWS.items() if name in wanted}
    graphs = (star(1), star(n)) if rows else ()
    for name, fn in rows.items():
        t1, tn = (time_noop(lambda: fn(g), REPS).total_s for g in graphs)
        print(_row(name, t1, tn, n) + f"  (K({HUB_H},L), hub degree grows {n}x)")


def main(argv: list[str]) -> None:
    sf_dir = argv[0] if argv else os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        raise SystemExit(__doc__)
    n = int(argv[1]) if len(argv) > 1 else 4
    qs = registry.queries()
    unknown = [x for x in argv[2:] if x not in qs and x not in BESPOKE]
    if unknown:
        raise SystemExit(f"not a registered query or bespoke row: {' '.join(unknown)}")
    names = [x for x in argv[2:] if x in qs] if argv[2:] else sorted(qs)
    wanted = set(argv[2:]) if argv[2:] else BESPOKE

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("gisaid-pipeline-scale-probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory(prefix="scale_probe_") as tmp:
        big = f"{tmp}/x{n}"
        t0 = time.perf_counter()
        replicate(sf_dir, big, n)
        print(f"replicated {sf_dir} {n}x in {time.perf_counter() - t0:.1f}s")
        if "hot_key_canary" in wanted:
            _hot_key_canary(spark, big)
        if names:
            _registry_rows(spark, names, sf_dir, big, n)
        if wanted & (INDEX_NAMES | set(HUB_ROWS)):
            print(_header(n))
        if wanted & INDEX_NAMES:
            replicate(sf_dir, f"{tmp}/delta", 1, start=n)
            _index_rows(spark, (sf_dir, big), f"{tmp}/delta", tmp, n, wanted)
        _hub_rows(spark, cpus, n, wanted)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
