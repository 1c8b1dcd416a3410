"""One code path per vector search in ``operators/similarity.py``.

``ivf_topk`` (label cells, any ``probe``) is checked against a plain-Python
reference: cosine routing to the label centroids, then exact top-k within
the probed cells. The source checks pin the shape of the module: the
one-shot ADC searches end in the index read path, the ADC fold and the
squared-L2 fold are each written once, and the multiprobe fork is gone.
"""

from __future__ import annotations

import ast
import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from gisaid_pipeline_functions_spark.operators import similarity
from gisaid_pipeline_functions_spark.operators.similarity import ivf_topk

SOURCE = Path(similarity.__file__).read_text()


def _cos(a, b):
    """The engine's fold: element-order dot over element-order norms."""
    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def _ivf_reference(rows, query_ids, k, probe):
    cells: dict[int, list[list[float]]] = {}
    for _, v, label in rows:
        cells.setdefault(label, []).append(v)
    cents = {
        c: [math.fsum(col) / len(vs) for col in zip(*vs)]
        for c, vs in cells.items()
    }
    out = []
    for qid, qv, _ in rows:
        if qid not in query_ids:
            continue
        routed = sorted(cents, key=lambda c: (-round(_cos(qv, cents[c]), 6), c))
        probed = set(routed[:probe])
        scored = sorted(
            (-round(_cos(qv, v), 6), vid)
            for vid, v, label in rows
            if label in probed and vid != qid
        )
        out += [
            (qid, vid, -neg, rank)
            for rank, (neg, vid) in enumerate(scored[:k], start=1)
        ]
    return sorted(out)


@pytest.mark.parametrize("probe", [1, 2])
def test_ivf_topk_matches_python_reference(spark, sf_dir, probe):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]], r["label"])
        for r in emb.collect()
    ]
    got = sorted(
        (r["query_id"], r["cand_id"], r["cos"], r["rank"])
        for r in ivf_topk(
            emb, emb.filter(F.col("vec_id") < 5), k=3, probe=probe
        ).collect()
    )
    want = _ivf_reference(rows, set(range(5)), k=3, probe=probe)
    assert [g[:2] + g[3:] for g in got] == [w[:2] + w[3:] for w in want]
    assert all(abs(g[2] - w[2]) <= 1e-6 for g, w in zip(got, want))
    # candidates never leave the probed cells
    cell_of = {vid: label for vid, _, label in rows}
    reached: dict[int, set[int]] = {}
    for qid, cid, _, _ in got:
        reached.setdefault(qid, set()).add(cell_of[cid])
    assert max(len(c) for c in reached.values()) <= probe


def _functions() -> dict[str, ast.FunctionDef]:
    tree = ast.parse(SOURCE)
    return {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}


def test_adc_fold_only_in_index_searches():
    callers = sorted(
        name
        for name, fn in _functions().items()
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "_adc_fold"
    )
    assert callers == ["ivfpq_index_adc_topk", "pq_index_adc_topk"]


@pytest.mark.parametrize(
    "one_shot, index",
    [("pq_adc_topk", "pq_index_adc_topk"), ("ivfpq_adc_topk", "ivfpq_index_adc_topk")],
)
def test_one_shot_adc_returns_the_index_search(one_shot, index):
    last = _functions()[one_shot].body[-1]
    assert isinstance(last, ast.Return) and isinstance(last.value, ast.Call)
    assert ast.unparse(last.value.func) == index


def test_squared_l2_fold_written_once():
    assert SOURCE.count("(x - y) * (x - y)") == 1


def test_multiprobe_fork_is_gone():
    assert "ivf_topk_multiprobe" not in SOURCE
    assert not hasattr(similarity, "ivf_topk_multiprobe")
