"""Similarity-search query registrations (beyond-reference ops)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.similarity import brute_force_topk, ivf_topk
from ..registry import register
from ..sources.tables import load_table


def _cos_sql(a: str, b: str) -> str:
    """Cosine in DuckDB with the same double arithmetic as the Spark side."""
    def sq(v: str) -> str:
        return (
            f"sqrt(list_sum(list_transform({v}, x -> "
            f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        )

    dot = (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    return f"({dot} / ({sq(a)} * {sq(b)}))"


@register(
    "sim_bruteforce_topk",
    # Exact cosine top-k baseline: queries (vec_id<5) × corpus, ranked on
    # ROUNDED cosine + id tie-break so float sum order can't flip ranks.
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
               WHERE vec_id < 5),
    c AS (SELECT vec_id AS cand_id, embedding AS cvec FROM embeddings),
    scored AS (
      SELECT query_id, cand_id, round({_cos_sql('qvec', 'cvec')}, 6) AS cos
      FROM q JOIN c ON query_id <> cand_id
    )
    SELECT query_id, cand_id, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def sim_bruteforce_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)


@register(
    "sim_ivf_topk",
    # IVF probe=1: label cells, per-cell centroids, route query to nearest
    # centroid, exact search within the cell only.
    f"""
    WITH dims AS (
      SELECT label AS cell,
             unnest(range(1, len(embedding) + 1)) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    cents AS (
      SELECT cell, list(avg_x ORDER BY pos) AS centroid FROM (
        SELECT cell, pos, avg(x) AS avg_x FROM dims GROUP BY cell, pos
      ) GROUP BY cell
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
          WHERE vec_id < 5),
    routed AS (
      SELECT query_id, qvec, cell,
             round({_cos_sql('qvec', 'centroid')}, 6) AS ccos
      FROM q CROSS JOIN cents
    ),
    assigned AS (
      SELECT query_id, qvec, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY ccos DESC, cell) AS rn
        FROM routed
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT a.query_id, e.vec_id AS cand_id, a.cell,
             round({_cos_sql('a.qvec', 'e.embedding')}, 6) AS cos
      FROM assigned a JOIN embeddings e
        ON e.label = a.cell AND e.vec_id <> a.query_id
    )
    SELECT query_id, cand_id, cell, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def sim_ivf_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)


def _hyperplane_oracle(label_block: bool = False) -> str:
    """Generate the sign-LSH oracle with the SAME literal hyperplanes the
    Spark plan embeds — bucketing is bit-identical across engines.
    ``label_block=True`` adds the same-label equality to the candidate
    join (replaying ``hyperplane_lsh_pairs(block_col='label')``)."""
    from ..operators.similarity import hyperplane_signs

    P, B, D = 16, 2, 64
    signs = hyperplane_signs(P, D)
    r = P // B

    def bit(row):
        arr = "[" + ", ".join(f"{s:.1f}" for s in row) + "]"
        return (
            "(CASE WHEN round(list_sum(list_transform(list_zip(v, "
            f"{arr}), p -> CAST(p[1] AS DOUBLE) * p[2])), 6) >= 0 "
            "THEN '1' ELSE '0' END)"
        )

    bands = [
        " || ".join(bit(row) for row in signs[b * r : (b + 1) * r])
        for b in range(B)
    ]
    sigsel = ", ".join(f"({e}) AS s{i}" for i, e in enumerate(bands))
    bunion = " UNION ALL ".join(
        f"SELECT vec_id, label, v, {i} AS band, s{i} AS sig FROM sigs"
        for i in range(B)
    )
    blk = " AND a.label = b2.label" if label_block else ""
    return f"""
    WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
    sigs AS (SELECT vec_id, label, v, {sigsel} FROM e),
    b AS ({bunion}),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
             FROM b a JOIN b b2
               ON a.band = b2.band AND a.sig = b2.sig AND a.vec_id < b2.vec_id{blk})
    SELECT id_a, id_b, cos FROM (
      SELECT c.id_a, c.id_b, round({_cos_sql('ea.v', 'eb.v')}, 6) AS cos
      FROM cand c JOIN e ea ON ea.vec_id = c.id_a
                  JOIN e eb ON eb.vec_id = c.id_b)
    WHERE cos >= 0.3
    """


@register(
    "sim_hyperplane_lsh",
    # Random-hyperplane (sign) LSH near-dup pairs — the embedding analog of
    # MinHash LSH: 16 md5-derived Rademacher hyperplanes → 2 bands of 8
    # sign bits; same-(band, signature) vectors are the only candidates
    # (~0.9% of all pairs here), exact rounded cosine filters them.
    _hyperplane_oracle(),
)
def sim_hyperplane_lsh(spark, sf_dir):
    from ..operators.similarity import hyperplane_lsh_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return hyperplane_lsh_pairs(
        emb, dim=64, n_planes=16, bands=2, threshold=0.3
    )


@register(
    "sim_neardup_cosine_blocked",
    # Embedding-cosine near-dup pairs WITHIN a label block. Candidates are
    # generated by sign-LSH (bounded, O(n · collision rate)); the label
    # block is an extra equality PREDICATE on the candidate join, never
    # the generator — a label-blocked all-pairs self-join is O(n²) in the
    # dominant block and dies at 100× (VERDICT r3 #2; same skew argument
    # as the packing shard key). The oracle replays the identical LSH
    # candidate rule + label restriction.
    _hyperplane_oracle(label_block=True),
)
def sim_neardup_cosine_blocked(spark, sf_dir):
    from ..operators.similarity import hyperplane_lsh_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return hyperplane_lsh_pairs(
        emb, dim=64, n_planes=16, bands=2, threshold=0.3, block_col="label"
    )


@register(
    "sim_quantize_int8",
    # Scalar int8 quantization of the embedding column against the
    # per-dimension corpus min/max grid; explicit floor(x+0.5) half-up on
    # both engines (round() tie rules differ between libraries). Output is
    # LONG FORM (vec_id, pos, q) — the driver canonicalizer sorts/hashes
    # scalar cells, so the code array is posexploded on both engines
    # (r2's array-typed `q` crashed pandas sort_values; VERDICT.md #1).
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dims AS (
      SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
      FROM e, LATERAL unnest(generate_series(1, 64)) t(i)
      GROUP BY i
    )
    SELECT e.vec_id, CAST(d.i - 1 AS BIGINT) AS pos,
           CASE WHEN (d.hi - d.lo) > 0
                THEN CAST(floor((e.v[d.i] - d.lo) * 255.0 / (d.hi - d.lo) + 0.5) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS q
    FROM e CROSS JOIN dims d
    """,
)
def sim_quantize_int8(spark, sf_dir):
    from ..operators.similarity import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    codes = quantize_int8(emb)
    exploded = codes.select("vec_id", F.posexplode("q").alias("pos", "q"))
    return exploded.select(
        "vec_id", F.col("pos").cast("long").alias("pos"), "q"
    )


def _kmeans_ctes(
    k: int = 4,
    iterations: int = 2,
    dim: int = 64,
    prefix: str = "",
    vexpr: str = "CAST(embedding AS DOUBLE[])",
    where: str = "",
    from_table: str = "embeddings",
) -> str:
    """CTE chain (no leading WITH) replaying the exact Lloyd iterations of
    ``kmeans_assign`` (6dp-rounded centroids put every round on a shared
    lattice, so assignment and recompute are engine-identical). Ends with
    ``{prefix}fin(vec_id, cell, dist)`` — the final assignment. ``prefix``
    namespaces every CTE so multiple chains compose in one query (the
    product-quantization oracle runs one chain per subspace over a
    ``vexpr`` slice of the vector). ``where`` restricts the TRAINING
    corpus (r14: the incremental-IVF oracle trains on the base batch
    only; the trained centroids remain available as ``{prefix}c{
    iterations}`` for assigning rows outside the restriction).
    ``from_table`` (r15) points the chain at a preceding CTE instead of
    the embeddings view — the IVF-PQ oracle trains its PQ chains on a
    derived residual table."""
    p = prefix
    d2 = (
        f"round(list_sum(list_transform(list_zip({p}e.v, cc.c), "
        "p -> (p[1]-p[2])*(p[1]-p[2]))), 6)"
    )
    parts = [
        f"{p}e AS (SELECT vec_id, {vexpr} AS v FROM {from_table} {where})",
        f"{p}c0 AS (SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS c "
        f"FROM {p}e ORDER BY vec_id LIMIT {k})",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""{p}a{i} AS (
      SELECT vec_id, v, cell FROM (
        SELECT {p}e.vec_id, {p}e.v, cc.cell,
               row_number() OVER (PARTITION BY {p}e.vec_id
                                  ORDER BY {d2}, cc.cell) AS rn
        FROM {p}e CROSS JOIN {p}c{i - 1} cc
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""{p}c{i} AS (
      SELECT cell, list(m ORDER BY pos) AS c FROM (
        SELECT cell, i AS pos, round(avg(v[i]), 6) AS m
        FROM {p}a{i}, LATERAL unnest(generate_series(1, {dim})) t(i)
        GROUP BY cell, i
      ) GROUP BY cell
    )"""
        )
    parts.append(
        f"""{p}fin AS (
      SELECT vec_id, cell, dist FROM (
        SELECT {p}e.vec_id, cc.cell, {d2} AS dist,
               row_number() OVER (PARTITION BY {p}e.vec_id
                                  ORDER BY {d2}, cc.cell) AS rn
        FROM {p}e CROSS JOIN {p}c{iterations} cc
      ) WHERE rn = 1
    )"""
    )
    return ",\n    ".join(parts)


@register(
    "sim_kmeans_cells",
    # Learned IVF coarse quantizer: 2 Lloyd iterations from the first-k
    # init, centroids rounded to 6dp each round so the oracle replays the
    # SAME iterations (the iterative-algorithm analog of the repo's
    # rounding convention — like the CC fixpoint, but with float state).
    "WITH "
    + _kmeans_ctes(k=4, iterations=2, dim=64)
    + "\n    SELECT vec_id, cell, dist FROM fin",
)
def sim_kmeans_cells(spark, sf_dir):
    from ..operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=4, iterations=2)


@register(
    "sim_ivf_learned",
    # End-to-end learned-index ANN: k-means cells (replayed iteration by
    # iteration in the CTEs) feed the SAME IVF routing/search shape as
    # sim_ivf_topk — query routes to its nearest learned centroid, exact
    # top-k within that cell only.
    "WITH "
    + _kmeans_ctes(k=4, iterations=2, dim=64)
    + f""",
    lab AS (SELECT e.vec_id, e.v, f.cell FROM e JOIN fin f ON e.vec_id = f.vec_id),
    dims2 AS (
      SELECT cell, i AS pos, v[i] AS x
      FROM lab, LATERAL unnest(generate_series(1, 64)) t(i)
    ),
    cents AS (
      SELECT cell, list(avg_x ORDER BY pos) AS centroid FROM (
        SELECT cell, pos, avg(x) AS avg_x FROM dims2 GROUP BY cell, pos
      ) GROUP BY cell
    ),
    q AS (SELECT vec_id AS query_id, v AS qvec FROM e WHERE vec_id < 5),
    routed AS (
      SELECT query_id, qvec, cell,
             round({_cos_sql('qvec', 'centroid')}, 6) AS ccos
      FROM q CROSS JOIN cents
    ),
    assigned AS (
      SELECT query_id, qvec, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY ccos DESC, cell) AS rn
        FROM routed
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT a.query_id, l.vec_id AS cand_id, a.cell,
             round({_cos_sql('a.qvec', 'l.v')}, 6) AS cos
      FROM assigned a JOIN lab l
        ON l.cell = a.cell AND l.vec_id <> a.query_id
    )
    SELECT query_id, cand_id, cell, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def sim_ivf_learned(spark, sf_dir):
    from ..operators.similarity import ivf_topk, kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    # pin the assignment: ivf_topk references the labeled corpus three
    # times (centroids, routing, search) and each reference would re-run
    # the whole Lloyd training; the assignment is 2 ints per vector
    cells = (
        kmeans_assign(emb, k=4, iterations=2)
        .select("vec_id", "cell")
        .localCheckpoint(eager=True)
    )
    labeled = emb.join(cells, "vec_id")
    return ivf_topk(
        labeled, emb.filter(F.col("vec_id") < 5), label_col="cell", k=3
    )


@register(
    "sim_quantized_rerank",
    # Two-stage ANN with the int8 codes doing real work: shortlist by
    # INTEGER quantized dot product (exact cross-engine — no float in
    # stage one), then exact rounded-cosine re-rank of the shortlist on
    # the original vectors. Queries quantize against the CORPUS grid.
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dims AS (
      SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
      FROM e, LATERAL unnest(generate_series(1, 64)) t(i)
      GROUP BY i
    ),
    grid AS (
      SELECT list(lo ORDER BY i) AS mins, list(hi ORDER BY i) AS maxs FROM dims
    ),
    codes AS (
      SELECT vec_id,
             [CASE WHEN (maxs[i] - mins[i]) > 0
                   THEN CAST(floor((v[i] - mins[i]) * 255.0 / (maxs[i] - mins[i]) + 0.5) AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END FOR i IN generate_series(1, 64)] AS q
      FROM e, grid
    ),
    qc AS (SELECT vec_id AS query_id, q AS qq FROM codes WHERE vec_id < 5),
    cc AS (SELECT vec_id AS cand_id, q AS cq FROM codes),
    scored AS (
      SELECT query_id, cand_id,
             CAST(list_sum(list_transform(list_zip(qq, cq),
                                          p -> p[1] * p[2])) AS BIGINT) AS qscore
      FROM qc JOIN cc ON query_id <> cand_id
    ),
    short AS (
      SELECT query_id, cand_id, qscore FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY qscore DESC, cand_id) AS srank
        FROM scored
      ) WHERE srank <= 10
    ),
    exact AS (
      SELECT s.query_id, s.cand_id, s.qscore,
             round({_cos_sql('eq.v', 'ec.v')}, 6) AS cos
      FROM short s JOIN e eq ON eq.vec_id = s.query_id
                   JOIN e ec ON ec.vec_id = s.cand_id
    )
    SELECT query_id, cand_id, qscore, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, cand_id) AS rank
      FROM exact
    ) WHERE rank <= 3
    """,
)
def sim_quantized_rerank(spark, sf_dir):
    from ..operators.similarity import quantized_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_rerank_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=3, shortlist=10
    )


@register(
    "sim_ivf_multiprobe",
    # IVF probe=2: the recall knob — search the two nearest cells per
    # query (probe=1 misses neighbors across cell boundaries). Note the
    # candidate set spans both cells, so the final rank drops the cell
    # column (a candidate's rank is global across probed cells).
    f"""
    WITH dims AS (
      SELECT label AS cell,
             unnest(range(1, len(embedding) + 1)) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    cents AS (
      SELECT cell, list(avg_x ORDER BY pos) AS centroid FROM (
        SELECT cell, pos, avg(x) AS avg_x FROM dims GROUP BY cell, pos
      ) GROUP BY cell
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
          WHERE vec_id < 5),
    routed AS (
      SELECT query_id, qvec, cell,
             round({_cos_sql('qvec', 'centroid')}, 6) AS ccos
      FROM q CROSS JOIN cents
    ),
    assigned AS (
      SELECT query_id, qvec, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY ccos DESC, cell) AS rn
        FROM routed
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT a.query_id, e.vec_id AS cand_id,
             round({_cos_sql('a.qvec', 'e.embedding')}, 6) AS cos
      FROM assigned a JOIN embeddings e
        ON e.label = a.cell AND e.vec_id <> a.query_id
    )
    SELECT query_id, cand_id, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def sim_ivf_multiprobe(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=3, probe=2).select(
        "query_id", "cand_id", "cos", "rank"
    )


_PQ_CHAINS = (
    _kmeans_ctes(k=4, iterations=2, dim=32, prefix="s0_",
                 vexpr="CAST(embedding AS DOUBLE[])[1:32]")
    + ",\n    "
    + _kmeans_ctes(k=4, iterations=2, dim=32, prefix="s1_",
                   vexpr="CAST(embedding AS DOUBLE[])[33:64]")
)


@register(
    "sim_pq_codes",
    # Product quantization: one iteration-exact Lloyd chain PER SUBSPACE
    # (vector halves), composed via the prefixed CTE generator — the
    # oracle replays both codebooks' training bit-for-bit.
    "WITH "
    + _PQ_CHAINS
    + """
    SELECT vec_id, CAST(0 AS BIGINT) AS subspace, cell, dist FROM s0_fin
    UNION ALL
    SELECT vec_id, CAST(1 AS BIGINT) AS subspace, cell, dist FROM s1_fin
    """,
)
def sim_pq_codes(spark, sf_dir):
    from ..operators.similarity import pq_codes

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_codes(emb, m=2, sub_dim=32, k=4, iterations=2)


@register(
    "sim_pq_adc_topk",
    # The PQ codes USED: asymmetric-distance top-3 — per-query LUTs over
    # recomputed subspace centroids, candidate distance = sum of its
    # code's LUT entries. Corpus side streams 2 ints per vector; LUTs
    # broadcast; no vector math per candidate.
    "WITH "
    + _PQ_CHAINS
    + """,
    codes AS (
      SELECT a.vec_id, a.cell AS c0, b.cell AS c1
      FROM s0_fin a JOIN s1_fin b ON a.vec_id = b.vec_id
    ),
    cent0 AS (
      SELECT c0, list(mu ORDER BY pos) AS cent FROM (
        SELECT f.cell AS c0, i AS pos, round(avg(e.v[i]), 6) AS mu
        FROM s0_e e JOIN s0_fin f ON e.vec_id = f.vec_id,
             LATERAL unnest(generate_series(1, 32)) t(i)
        GROUP BY f.cell, i
      ) GROUP BY c0
    ),
    cent1 AS (
      SELECT c1, list(mu ORDER BY pos) AS cent FROM (
        SELECT f.cell AS c1, i AS pos, round(avg(e.v[i]), 6) AS mu
        FROM s1_e e JOIN s1_fin f ON e.vec_id = f.vec_id,
             LATERAL unnest(generate_series(1, 32)) t(i)
        GROUP BY f.cell, i
      ) GROUP BY c1
    ),
    q0 AS (SELECT vec_id AS query_id, v FROM s0_e WHERE vec_id < 5),
    q1 AS (SELECT vec_id AS query_id, v FROM s1_e WHERE vec_id < 5),
    lut0 AS (
      SELECT q.query_id, c.c0,
             round(list_sum(list_transform(list_zip(q.v, c.cent),
                   p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS d0
      FROM q0 q CROSS JOIN cent0 c
    ),
    lut1 AS (
      SELECT q.query_id, c.c1,
             round(list_sum(list_transform(list_zip(q.v, c.cent),
                   p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS d1
      FROM q1 q CROSS JOIN cent1 c
    ),
    scored AS (
      SELECT l0.query_id, cd.vec_id AS cand_id, round(l0.d0 + l1.d1, 6) AS adc
      FROM codes cd
      JOIN lut0 l0 ON cd.c0 = l0.c0
      JOIN lut1 l1 ON l1.query_id = l0.query_id AND cd.c1 = l1.c1
      WHERE cd.vec_id <> l0.query_id
    )
    SELECT query_id, cand_id, adc, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def sim_pq_adc_topk(spark, sf_dir):
    from ..operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return pq_adc_topk(emb, queries, m=2, sub_dim=32, k=4, iterations=2, topk=3)


@register(
    "sim_recall_at_k",
    # ANN EVALUATION — the metric an index rollout actually gates on:
    # recall@3 of IVF probe=1 against the exact brute-force top-3 ground
    # truth, per query. Both sides are replayed independently in SQL (the
    # same ranking conventions as sim_bruteforce_topk / sim_ivf_topk:
    # rounded cosine + id tie-break). At scale the ground truth runs on a
    # small held-out query sample — exactly this shape (5 queries).
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
               WHERE vec_id < 5),
    bscored AS (
      SELECT query_id, e.vec_id AS cand_id,
             round({_cos_sql('qvec', 'e.embedding')}, 6) AS cos
      FROM q JOIN embeddings e ON e.vec_id <> query_id
    ),
    bf AS (
      SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cand_id) AS r
        FROM bscored
      ) WHERE r <= 3
    ),
    dims AS (
      SELECT label AS cell,
             unnest(range(1, len(embedding) + 1)) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    cents AS (
      SELECT cell, list(avg_x ORDER BY pos) AS centroid FROM (
        SELECT cell, pos, avg(x) AS avg_x FROM dims GROUP BY cell, pos
      ) GROUP BY cell
    ),
    routed AS (
      SELECT query_id, qvec, cell,
             round({_cos_sql('qvec', 'centroid')}, 6) AS ccos
      FROM q CROSS JOIN cents
    ),
    assigned AS (
      SELECT query_id, qvec, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY ccos DESC, cell) AS rn
        FROM routed
      ) WHERE rn = 1
    ),
    iscored AS (
      SELECT a.query_id, e.vec_id AS cand_id,
             round({_cos_sql('a.qvec', 'e.embedding')}, 6) AS cos
      FROM assigned a JOIN embeddings e
        ON e.label = a.cell AND e.vec_id <> a.query_id
    ),
    ivf AS (
      SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cand_id) AS r
        FROM iscored
      ) WHERE r <= 3
    )
    SELECT b.query_id, round(count(i.cand_id) / 3.0, 6) AS recall_at_3
    FROM bf b LEFT JOIN ivf i
      ON b.query_id = i.query_id AND b.cand_id = i.cand_id
    GROUP BY b.query_id
    """,
)
def sim_recall_at_k(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    bf = brute_force_topk(emb, queries_df, k=3).select("query_id", "cand_id")
    iv = ivf_topk(emb, queries_df, k=3).select(
        "query_id", "cand_id", F.lit(1).alias("hit")
    )
    return (
        bf.join(iv, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(F.round(F.count("hit") / 3.0, 6).alias("recall_at_3"))
    )


@register(
    "sim_centroid_outlier",
    # Embedding-space OUTLIER FILTER — the standard embedding-based data
    # cleaning step (drop vectors far from every cluster: encoder
    # failures, off-distribution content) composed from pieces already
    # proven one by one: the iteration-exact k-means assignment
    # (sim_kmeans_cells) plus the exact-percentile threshold
    # (agg_exact_percentiles precedent). A row is an outlier when its
    # distance to its OWN centroid exceeds the corpus-wide p95 of that
    # distance. The threshold is a broadcast 1-row aggregate; the audit
    # emits every row with its flag (stable cardinality), so the driver
    # hash pins assignment, distance, percentile, and flag at once.
    "WITH "
    + _kmeans_ctes(k=4, iterations=2, dim=64)
    + """,
    th AS (SELECT round(quantile_cont(dist, 0.95), 6) AS p95 FROM fin)
    SELECT f.vec_id, f.cell, f.dist, f.dist > t.p95 AS is_outlier
    FROM fin f CROSS JOIN th t
    """,
)
def sim_centroid_outlier(spark, sf_dir):
    from ..operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    # checkpoint: the assignment feeds BOTH the threshold aggregate and
    # the output — without it the whole k-means chain runs twice
    assigned = kmeans_assign(emb, k=4, iterations=2).localCheckpoint(eager=True)
    th = assigned.agg(
        F.round(F.percentile("dist", F.lit(0.95)), 6).alias("p95")
    )
    return assigned.crossJoin(F.broadcast(th)).select(
        "vec_id",
        "cell",
        "dist",
        (F.col("dist") > F.col("p95")).alias("is_outlier"),
    )


@register(
    "sim_semdedup",
    # SemDeDup (operators/similarity.py:semdedup) — embedding-cluster
    # semantic dedup: the learned k-means cells (replayed CTE-by-CTE, same
    # lattice trick as sim_kmeans_cells) bound the quadratic cosine scan,
    # and a vector is dropped when a lower-id cell-mate has
    # round(cos, 6) >= 0.32. Round-before-compare keeps the threshold
    # decision on the shared 6dp lattice so a boundary pair can't flip
    # between engines.
    "WITH "
    + _kmeans_ctes(k=4, iterations=2, dim=64)
    + f""",
    base AS (SELECT e.vec_id, e.v, fin.cell FROM e JOIN fin USING (vec_id)),
    p AS (
      SELECT DISTINCT b.vec_id AS b_id
      FROM base a JOIN base b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round({_cos_sql('a.v', 'b.v')}, 6) >= 0.32
    )
    SELECT vec_id, cell,
           vec_id NOT IN (SELECT b_id FROM p) AS kept
    FROM base
    """,
)
def sim_semdedup(spark, sf_dir):
    from ..operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(emb, k=4, iterations=2, threshold=0.32)


def _jl_proj_sql(vec: str) -> str:
    """The 16 JL-projected dims as a DuckDB list literal — the SAME ±1
    matrix the Spark side embeds (operators/similarity.py
    jl_projection_matrix), terms added in index order so both engines
    sum identically before the 6dp round."""
    from ..operators.similarity import jl_projection_matrix

    R = jl_projection_matrix(64, 16)
    dims = []
    for j in range(16):
        terms = []
        for i in range(64):
            sign = "-" if R[j][i] < 0 else "+"
            terms.append(f"{sign} CAST({vec}[{i + 1}] AS DOUBLE)")
        expr = " ".join(terms).lstrip("+ ")
        if expr.startswith("-"):
            expr = "0 " + expr  # leading negative term: keep L2R add order
        dims.append(f"round({expr}, 6)")
    return "[" + ", ".join(dims) + "]"


@register(
    "sim_random_projection",
    # Two-stage ANN via Johnson–Lindenstrauss ±1 random projection
    # (operators/similarity.py random_projection_topk): coarse cosine in
    # the 16-dim projected space, per-query shortlist of 9, exact 64-dim
    # rerank to top-3. The oracle embeds the IDENTICAL literal matrix and
    # replays projection, shortlist, and rerank — so the projection
    # itself is value-hashed, not just the final ranks.
    f"""
    WITH pv AS (
      SELECT vec_id, {_jl_proj_sql('embedding')} AS p, embedding AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, p AS qp, v AS qv FROM pv WHERE vec_id < 5),
    coarse AS (
      SELECT query_id, c.vec_id AS cand_id,
             round({_cos_sql('qp', 'c.p')}, 6) AS pcos
      FROM q JOIN pv c ON c.vec_id != query_id
    ),
    short AS (
      SELECT query_id, cand_id FROM coarse
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY pcos DESC, cand_id) <= 9
    ),
    exact AS (
      SELECT s.query_id, s.cand_id, round({_cos_sql('q.qv', 'c.v')}, 6) AS cos
      FROM short s
      JOIN pv c ON c.vec_id = s.cand_id
      JOIN q ON q.query_id = s.query_id
    )
    SELECT query_id, cand_id, cos,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
    FROM exact QUALIFY rank <= 3
    """,
)
def sim_random_projection(spark, sf_dir):
    from ..operators.similarity import random_projection_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return random_projection_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=3, rerank_factor=3
    )


_RRF_N = 10
_RRF_K = 5
_RRF_C = 60


@register(
    "sim_rrf_fusion",
    # Reciprocal-rank fusion of the exact-cosine and int8-quantized-dot
    # rankings (operators/similarity.py:rrf_fusion_topk — Cormack et al.
    # 2009, the standard hybrid-search combiner). The oracle replays
    # BOTH rankings (rounded-cosine = the sim_bruteforce_topk
    # convention; integer quantized dot = the sim_quantize_int8 grid)
    # and the fused 1/(c+rank) sum — a drift in either ranking, the
    # outer-join alignment, or the fusion arithmetic hash-fails.
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
          WHERE vec_id < 5),
    c AS (SELECT vec_id AS cand_id, embedding AS cvec FROM embeddings),
    ranka AS (
      SELECT query_id, cand_id, rank_a FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round({_cos_sql('qvec', 'cvec')}, 6) DESC, cand_id)
                 AS rank_a
        FROM q JOIN c ON query_id <> cand_id)
      WHERE rank_a <= {_RRF_N}
    ),
    dims AS (
      SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
      FROM e, LATERAL unnest(generate_series(1, 64)) t(i)
      GROUP BY i
    ),
    codes AS (
      SELECT e.vec_id,
             list(CASE WHEN (d.hi - d.lo) > 0
                       THEN CAST(floor((e.v[d.i] - d.lo) * 255.0
                                       / (d.hi - d.lo) + 0.5) AS BIGINT)
                       ELSE 0 END ORDER BY d.i) AS cq
      FROM e CROSS JOIN dims d GROUP BY e.vec_id
    ),
    rankb AS (
      SELECT query_id, cand_id, rank_b FROM (
        SELECT qc.vec_id AS query_id, cc.vec_id AS cand_id,
               row_number() OVER (PARTITION BY qc.vec_id ORDER BY
                 CAST(list_sum(list_transform(list_zip(qc.cq, cc.cq),
                                              p -> p[1] * p[2])) AS BIGINT)
                   DESC, cc.vec_id) AS rank_b
        FROM codes qc JOIN codes cc
          ON qc.vec_id < 5 AND qc.vec_id <> cc.vec_id)
      WHERE rank_b <= {_RRF_N}
    ),
    fused AS (
      SELECT coalesce(a.query_id, b.query_id) AS query_id,
             coalesce(a.cand_id, b.cand_id) AS cand_id,
             a.rank_a, b.rank_b,
             round(coalesce(1.0 / ({_RRF_C} + a.rank_a), 0.0)
                   + coalesce(1.0 / ({_RRF_C} + b.rank_b), 0.0), 6) AS rrf
      FROM ranka a FULL OUTER JOIN rankb b
        ON a.query_id = b.query_id AND a.cand_id = b.cand_id
    )
    SELECT query_id, cand_id,
           CAST(rank_a AS BIGINT) AS rank_a,
           CAST(rank_b AS BIGINT) AS rank_b,
           rrf, CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf DESC, cand_id) AS fused_rank
      FROM fused)
    WHERE fused_rank <= {_RRF_K}
    """,
)
def sim_rrf_fusion(spark, sf_dir):
    from ..operators.similarity import rrf_fusion_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return rrf_fusion_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        n=_RRF_N,
        k=_RRF_K,
        c=_RRF_C,
    )


_MRL_D = 16
_MRL_K = 10


@register(
    "sim_matryoshka_recall",
    # Matryoshka-truncation recall audit (Kusupati et al. 2022 MRL; the
    # rollout gate for serving truncated embeddings): recall@10 of the
    # FIRST-16-DIMENSIONS cosine ranking against the full-64-dim exact
    # ground truth, per query — the same evaluation shape as
    # sim_recall_at_k with dimension truncation as the approximation
    # under test instead of IVF routing. At scale the truncated ranking
    # scans 4× fewer vector bytes — the same bandwidth argument as the
    # int8 path, traded along the dimension axis instead of precision.
    # (The synthetic embeddings are i.i.d. random, so the MEASURED
    # recall is honest noise ~k/N, like langid accuracy — real MRL
    # embeddings front-load variance; the gate is the deterministic
    # two-ranking pipeline, and recall is reported as data.)
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                      embedding[1:{_MRL_D}] AS qv16
               FROM embeddings WHERE vec_id < 5),
    bscored AS (
      SELECT query_id, e.vec_id AS cand_id,
             round({_cos_sql('qvec', 'e.embedding')}, 6) AS cos
      FROM q JOIN embeddings e ON e.vec_id <> query_id
    ),
    bf AS (
      SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cand_id) AS r
        FROM bscored
      ) WHERE r <= {_MRL_K}
    ),
    tscored AS (
      SELECT query_id, e.vec_id AS cand_id,
             round({_cos_sql('qv16', f'e.embedding[1:{_MRL_D}]')}, 6) AS cos
      FROM q JOIN embeddings e ON e.vec_id <> query_id
    ),
    tr AS (
      SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cand_id) AS r
        FROM tscored
      ) WHERE r <= {_MRL_K}
    )
    SELECT b.query_id,
           CAST(count(t.cand_id) AS BIGINT) AS n_hits,
           round(count(t.cand_id) / {_MRL_K}.0, 6) AS recall_at_{_MRL_K}_d{_MRL_D}
    FROM bf b LEFT JOIN tr t
      ON b.query_id = t.query_id AND b.cand_id = t.cand_id
    GROUP BY b.query_id
    """,
)
def sim_matryoshka_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    bf = brute_force_topk(emb, queries_df, k=_MRL_K).select(
        "query_id", "cand_id"
    )

    def trunc(df):
        return df.select(
            "vec_id", F.slice("embedding", 1, _MRL_D).alias("embedding")
        )

    tr = brute_force_topk(trunc(emb), trunc(queries_df), k=_MRL_K).select(
        "query_id", "cand_id", F.lit(1).alias("hit")
    )
    return (
        bf.join(tr, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / F.lit(float(_MRL_K)), 6).alias(
                f"recall_at_{_MRL_K}_d{_MRL_D}"
            ),
        )
    )


_HN_K = 3


@register(
    "sim_hard_negatives",
    # Contrastive hard-negative mining (r8; operators/similarity.py
    # hard_negative_topk): for each anchor (vec_id < 5), the top-k
    # most-similar candidates with a DIFFERENT label — the
    # decision-boundary pairs a contrastive trainer batches. Spark
    # hoists per-row norms before the pair join (r7 semdedup rule); the
    # oracle's inline-norm cosine is arithmetically identical and both
    # rank on the 6dp-rounded cosine with id tie-breaks.
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS cand_id, embedding AS cvec, label AS clabel
          FROM embeddings),
    scored AS (
      SELECT query_id, cand_id, round({_cos_sql('qvec', 'cvec')}, 6) AS cos
      FROM q JOIN c ON qlabel <> clabel
    )
    SELECT query_id, cand_id, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= {_HN_K}
    """,
)
def sim_hard_negatives(spark, sf_dir):
    from ..operators.similarity import hard_negative_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negative_topk(emb, emb.filter(F.col("vec_id") < 5), k=_HN_K)


_KC_K = 6


def _kcenter_d2(a: str, b: str) -> str:
    diff = f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    return (
        f"round(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> {diff} * {diff})), 9)"
    )


def _kcenter_oracle(k: int) -> str:
    parts = [
        "c1 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1)",
        (
            "m1 AS (SELECT e.vec_id, e.embedding, "
            + _kcenter_d2("e.embedding", "c.embedding")
            + " AS md FROM embeddings e, c1 c WHERE e.vec_id <> c.vec_id)"
        ),
    ]
    for r in range(2, k + 1):
        parts.append(
            f"s{r} AS (SELECT vec_id, embedding, md FROM m{r - 1} "
            f"ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if r < k:
            parts.append(
                f"m{r} AS (SELECT m.vec_id, m.embedding, least(m.md, "
                + _kcenter_d2("m.embedding", "s.embedding")
                + f") AS md FROM m{r - 1} m, s{r} s WHERE m.vec_id <> s.vec_id)"
            )
    selects = [
        "SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id, "
        "CAST(NULL AS DOUBLE) AS dist_sq FROM c1"
    ] + [
        f"SELECT CAST({r} AS BIGINT), vec_id, round(md, 6) FROM s{r}"
        for r in range(2, k + 1)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


@register(
    "sample_kcenter_coreset",
    # Greedy k-center coreset selection (Gonzalez 1985; the geometric
    # data-pruning selector — r8, operators/similarity.py
    # kcenter_greedy): seed at the lowest id, then k-1 rounds of
    # "farthest point from the chosen set". The oracle replays EVERY
    # round as a CTE pair (argmax under the (9dp-rounded dist desc, id)
    # total order, then the least() min-dist update) — iteration-exact,
    # the Lloyd/BPE replay convention.
    _kcenter_oracle(_KC_K),
)
def sample_kcenter_coreset(spark, sf_dir):
    from ..operators.similarity import kcenter_greedy

    return kcenter_greedy(load_table(spark, sf_dir, "embeddings"), k=_KC_K)


_MMR_SHORT = 10
_MMR_K = 5


def _mmr_oracle(shortlist_n: int, k: int) -> str:
    parts = [
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        "c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings "
        "WHERE vec_id <> 0)",
        f"sq AS (SELECT cand_id, cv, round({_cos_sql('qv', 'cv')}, 6) AS simq "
        f"FROM c, q)",
        f"short AS (SELECT cand_id, cv, simq FROM sq "
        f"ORDER BY simq DESC, cand_id LIMIT {shortlist_n})",
        f"pr AS (SELECT a.cand_id AS a, b.cand_id AS b, "
        f"round({_cos_sql('a.cv', 'b.cv')}, 6) AS s "
        f"FROM short a JOIN short b ON a.cand_id <> b.cand_id)",
        "s1 AS (SELECT cand_id, round(0.7 * simq, 6) AS mmr FROM short "
        "ORDER BY mmr DESC, cand_id LIMIT 1)",
        "sel1 AS (SELECT cand_id FROM s1)",
    ]
    for r in range(2, k + 1):
        parts.append(
            f"s{r} AS (SELECT e.cand_id, round(0.7 * e.simq - 0.3 * "
            f"(SELECT max(p.s) FROM pr p WHERE p.a = e.cand_id "
            f"AND p.b IN (SELECT cand_id FROM sel{r - 1})), 6) AS mmr "
            f"FROM short e WHERE e.cand_id NOT IN "
            f"(SELECT cand_id FROM sel{r - 1}) "
            f"ORDER BY mmr DESC, cand_id LIMIT 1)"
        )
        parts.append(
            f"sel{r} AS (SELECT cand_id FROM sel{r - 1} "
            f"UNION ALL SELECT cand_id FROM s{r})"
        )
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS sel_rank, cand_id, mmr AS mmr_score "
        f"FROM s{r}"
        for r in range(1, k + 1)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


@register(
    "sim_mmr_diversify",
    # Maximal Marginal Relevance rerank (Carbonell & Goldstein SIGIR'98;
    # operators/similarity.py mmr_rerank — r8): top-10 cosine shortlist
    # for query vec_id=0, then 5 greedy picks maximizing 0.7·sim(q,d) −
    # 0.3·max_{s∈S} sim(d,s). Every cosine is 6dp-rounded BEFORE the MMR
    # arithmetic and every greedy round is replayed as its own CTE pair
    # (argmax under (mmr desc, cand_id), then the selected-set union) —
    # the iteration-replay convention. The corpus-wide stage is only the
    # shortlist scan; the greedy loop runs on shortlist-sized frames.
    _mmr_oracle(_MMR_SHORT, _MMR_K),
)
def sim_mmr_diversify(spark, sf_dir):
    from ..operators.similarity import mmr_rerank

    return mmr_rerank(
        load_table(spark, sf_dir, "embeddings"),
        query_id=0,
        shortlist_n=_MMR_SHORT,
        k=_MMR_K,
    )


_SIGN_LO = (
    "CAST(list_sum([CASE WHEN e[i + 1] > 0 THEN (CAST(1 AS BIGINT) << i) "
    "ELSE CAST(0 AS BIGINT) END FOR i IN range(0, 32)]) AS BIGINT)"
)
_SIGN_HI = (
    "CAST(list_sum([CASE WHEN e[i + 1] > 0 THEN "
    "(CAST(1 AS BIGINT) << (i - 32)) ELSE CAST(0 AS BIGINT) END "
    "FOR i IN range(32, 64)]) AS BIGINT)"
)


@register(
    "sim_sign_bit_ann",
    # 1-bit sign quantization ANN (r9; operators/similarity.py
    # sign_bit_ann): pack sign bits into two 32-bit words, hamming
    # shortlist of 32 on the 16-byte signatures (integer-exact, total
    # order hamming asc/id asc), exact-cosine rerank to top-10. The
    # oracle replays the packing, the xor-popcount distance, both
    # ranks.
    f"""
    WITH sigs AS (
      SELECT vec_id, embedding AS e,
             {_SIGN_LO} AS sig_lo, {_SIGN_HI} AS sig_hi
      FROM embeddings
    ),
    q AS (SELECT sig_lo AS qlo, sig_hi AS qhi, e AS qvec
          FROM sigs WHERE vec_id = 0),
    short AS (
      SELECT s.vec_id, s.e,
             CAST(bit_count(xor(s.sig_lo, q.qlo))
                  + bit_count(xor(s.sig_hi, q.qhi)) AS BIGINT) AS hamming,
             q.qvec
      FROM sigs s CROSS JOIN q
      WHERE s.vec_id <> 0
      ORDER BY hamming ASC, s.vec_id ASC LIMIT 32
    )
    SELECT vec_id, hamming,
           round({_cos_sql('qvec', 'e')}, 6) AS cos
    FROM short
    ORDER BY cos DESC, vec_id ASC LIMIT 10
    """,
)
def sim_sign_bit_ann(spark, sf_dir):
    from ..operators.similarity import sign_bit_ann

    emb = load_table(spark, sf_dir, "embeddings")
    return sign_bit_ann(emb, query_id=0, shortlist_n=32, k=10)


@register(
    "sim_ndcg_eval",
    # NDCG@10 retrieval-quality evaluation (r9): score the IVF probe=1
    # ranking against the exact brute-force ranking for queries
    # vec_id < 5 — graded relevance rel = 11 − exact_rank for candidates
    # inside the exact top-10, 0 outside; gains use ln(x)/ln(2)
    # EXPLICITLY on both engines (the text_pmi_collocations log2-libm
    # lesson), each term 6dp-rounded before the per-query sum, dcg/idcg
    # re-rounded, ndcg = round(dcg/idcg, 6). Completes the eval suite
    # next to sim_recall_at_k (binary) and sim_matryoshka_recall.
    f"""
    WITH dims AS (
      SELECT label AS cell,
             unnest(range(1, len(embedding) + 1)) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    cents AS (
      SELECT cell, list(avg_x ORDER BY pos) AS centroid FROM (
        SELECT cell, pos, avg(x) AS avg_x FROM dims GROUP BY cell, pos
      ) GROUP BY cell
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
          WHERE vec_id < 5),
    routed AS (
      SELECT query_id, qvec, cell,
             round({_cos_sql('qvec', 'centroid')}, 6) AS ccos
      FROM q CROSS JOIN cents
    ),
    assigned AS (
      SELECT query_id, qvec, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY ccos DESC, cell) AS rn
        FROM routed
      ) WHERE rn = 1
    ),
    sys_scored AS (
      SELECT a.query_id, e.vec_id AS cand_id,
             round({_cos_sql('a.qvec', 'e.embedding')}, 6) AS cos
      FROM assigned a JOIN embeddings e
        ON e.label = a.cell AND e.vec_id <> a.query_id
    ),
    sys AS (
      SELECT query_id, cand_id, srank FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, cand_id) AS srank
        FROM sys_scored
      ) WHERE srank <= 10
    ),
    ideal_scored AS (
      SELECT q.query_id, e.vec_id AS cand_id,
             round({_cos_sql('q.qvec', 'e.embedding')}, 6) AS cos
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ),
    ideal AS (
      SELECT query_id, cand_id, irank FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, cand_id) AS irank
        FROM ideal_scored
      ) WHERE irank <= 10
    ),
    dcg AS (
      SELECT s.query_id,
             round(sum(round(CAST(CASE WHEN i.irank IS NOT NULL
                                       THEN 11 - i.irank ELSE 0 END
                             AS DOUBLE)
                             * ln(2.0) / ln(s.srank + 1.0), 6)), 6) AS dcg
      FROM sys s LEFT JOIN ideal i
        ON s.query_id = i.query_id AND s.cand_id = i.cand_id
      GROUP BY s.query_id
    ),
    idcg AS (
      SELECT query_id,
             round(sum(round(CAST(11 - irank AS DOUBLE)
                             * ln(2.0) / ln(irank + 1.0), 6)), 6) AS idcg
      FROM ideal GROUP BY query_id
    )
    SELECT d.query_id, d.dcg, i.idcg,
           round(d.dcg / i.idcg, 6) AS ndcg
    FROM dcg d JOIN idcg i ON d.query_id = i.query_id
    """,
)
def sim_ndcg_eval(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q5 = emb.filter(F.col("vec_id") < 5)
    system = ivf_topk(emb, q5, k=10).select(
        "query_id", "cand_id", F.col("rank").alias("srank")
    )
    ideal = brute_force_topk(emb, q5, k=10).select(
        "query_id", "cand_id", F.col("rank").alias("irank")
    )
    ln2 = F.log(F.lit(2.0))
    rel = F.when(
        F.col("irank").isNotNull(), (F.lit(11) - F.col("irank"))
    ).otherwise(F.lit(0))
    dcg = (
        system.join(ideal, ["query_id", "cand_id"], "left")
        .select(
            "query_id",
            F.round(
                rel.cast("double") * ln2 / F.log(F.col("srank") + F.lit(1.0)),
                6,
            ).alias("term"),
        )
        .groupBy("query_id")
        .agg(F.round(F.sum("term"), 6).alias("dcg"))
    )
    idcg = ideal.select(
        "query_id",
        F.round(
            (F.lit(11) - F.col("irank")).cast("double")
            * ln2
            / F.log(F.col("irank") + F.lit(1.0)),
            6,
        ).alias("term"),
    ).groupBy("query_id").agg(F.round(F.sum("term"), 6).alias("idcg"))
    return dcg.join(idcg, "query_id").select(
        "query_id",
        "dcg",
        "idcg",
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )


@register(
    "sim_rocchio_prf",
    # Rocchio pseudo-relevance feedback (Rocchio 1971; the PRF query
    # expansion behind classic IR rerankers — completes the retrieval
    # family beside bm25/rrf/mmr/ndcg): round-1 exact cosine top-3 per
    # query is taken as pseudo-relevant, the expanded query is
    # q' = 1.0*q + 0.75*mean(relevant) (element-wise; the 3-vector mean
    # folded over the cand_id-SORTED list with a zero seed — 0+x = x in
    # IEEE, the established fold identity), and the corpus is re-ranked
    # against q'. Round-1 picks use ROUNDED cosine + id tie-break (the
    # family convention) so both engines select the identical relevant
    # set, making q' and every second-pass score identical doubles.
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id AS cand_id, embedding AS cvec FROM embeddings),
    s1 AS (
      SELECT query_id, cand_id,
             round({_cos_sql('qvec', 'cvec')}, 6) AS cos
      FROM q JOIN c ON query_id <> cand_id
    ),
    r1 AS (
      SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cand_id) AS rank
        FROM s1) WHERE rank <= 3
    ),
    rel AS (
      SELECT r1.query_id,
             list(list_transform(c.cvec, x -> CAST(x AS DOUBLE))
                  ORDER BY r1.cand_id) AS rl
      FROM r1 JOIN c ON r1.cand_id = c.cand_id
      GROUP BY r1.query_id
    ),
    qe AS (
      SELECT q.query_id,
             list_transform(
               list_zip(list_transform(q.qvec, x -> CAST(x AS DOUBLE)),
                        list_transform(
                          list_reduce(
                            list_prepend(
                              list_transform(rel.rl[1], x -> 0.0),
                              rel.rl),
                            (a, b) -> list_transform(list_zip(a, b),
                                                     p -> p[1] + p[2])),
                          s -> s / CAST(len(rel.rl) AS DOUBLE))),
               p -> 1.0 * p[1] + 0.75 * p[2]) AS qev
      FROM q JOIN rel ON q.query_id = rel.query_id
    ),
    s2 AS (
      SELECT qe.query_id, c.cand_id,
             round({_cos_sql('qev', 'cvec')}, 6) AS cos
      FROM qe JOIN c ON qe.query_id <> c.cand_id
    )
    SELECT query_id, cand_id, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, cand_id) AS rank
      FROM s2) WHERE rank <= 5
    """,
)
def sim_rocchio_prf(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.similarity import brute_force_topk, cosine

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    r1 = brute_force_topk(emb, queries, k=3).select(
        "query_id", "cand_id"
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cvec"),
    )
    rel = (
        r1.join(c, "cand_id")
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("cand_id", "cvec"))
                ),
                lambda s: F.transform(
                    s["cvec"], lambda x: x.cast("double")
                ),
            ).alias("rl")
        )
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    zero = F.transform(
        F.element_at("rl", 1), lambda x: F.lit(0.0).cast("double")
    )
    vsum = F.aggregate(
        F.col("rl"),
        zero,
        lambda a, b: F.zip_with(a, b, lambda p, r: p + r),
    )
    mean_vec = F.transform(
        vsum, lambda s: s / F.size("rl").cast("double")
    )
    qe = q.join(rel, "query_id").select(
        "query_id",
        F.zip_with(
            F.transform(F.col("qvec"), lambda x: x.cast("double")),
            mean_vec,
            lambda p, r: F.lit(1.0) * p + F.lit(0.75) * r,
        ).alias("qev"),
    )
    s2 = c.join(
        F.broadcast(qe), F.col("query_id") != F.col("cand_id")
    ).select(
        "query_id",
        "cand_id",
        F.round(cosine(F.col("qev"), F.col("cvec")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("cand_id")
    )
    return (
        s2.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "cand_id", "cos", "rank")
    )


_IVF_CUT = "(SELECT c FROM cut)"


def _ivf_delta_ctes(
    iterations: int = 2,
    prefix: str = "",
    vexpr: str = "CAST(embedding AS DOUBLE[])",
    from_table: str = "embeddings",
) -> str:
    """Delta-assignment CTE block for the resumable-index oracles:
    assign the post-cutoff vectors against the TRAINED centroid
    generation ``{prefix}c{iterations}`` of a preceding ``_kmeans_ctes``
    chain (same prefix) and merge with its ``{prefix}fin`` base
    postings. The centroid CTE name is DERIVED from ``iterations``
    (ADVICE r14: a hardcoded ``c2`` would silently assign the delta
    against a stale generation if a register() call ever changed its
    iteration count); ``prefix``/``vexpr``/``from_table`` compose
    per-subspace chains for the product-quantization twins (r15),
    mirroring ``_kmeans_ctes``' own hooks — the IVF-PQ incremental
    oracle points ``from_table`` at a derived delta-residual CTE
    (already post-cutoff, so the id guard is redundant-but-true
    there)."""
    p = prefix
    return f"""
    {p}delta AS (
      SELECT vec_id, {vexpr} AS v FROM {from_table}
      WHERE vec_id > {_IVF_CUT}
    ),
    {p}dassign AS (
      SELECT vec_id, cell FROM (
        SELECT {p}delta.vec_id, cc.cell,
               row_number() OVER (
                 PARTITION BY {p}delta.vec_id
                 ORDER BY round(list_sum(list_transform(
                            list_zip({p}delta.v, cc.c),
                            p -> (p[1]-p[2])*(p[1]-p[2]))), 6), cc.cell
               ) AS rn
        FROM {p}delta CROSS JOIN {p}c{iterations} cc
      ) WHERE rn = 1
    ),
    {p}merged AS (
      SELECT vec_id, cell FROM {p}fin
      UNION ALL SELECT vec_id, cell FROM {p}dassign
    )"""


@register(
    "sim_incremental_ivf",
    # Resumable IVF index (r14 — the vector member of the persisted-index
    # triad with dedup_incremental_{index,exact}): the Spark side trains
    # the coarse quantizer on the first ~80% of the id space, PERSISTS
    # (centroids, postings) to parquet, then resumes from the ON-DISK
    # artifacts to assign the delta against the FROZEN centroids — while
    # the oracle trains on the same base batch (the shared Lloyd CTEs,
    # base-restricted via the new `where` hook) and assigns the delta
    # against its final c2 centroids. The per-cell base/delta counts and
    # id checksums hash EVERY assignment on both sides, so equality
    # proves the freeze (no retrain on resume), the parquet round-trip
    # of the float centroid lattice, and the postings merge.
    "WITH cut AS (SELECT (max(vec_id)*4)//5 AS c FROM embeddings),\n    "
    + _kmeans_ctes(
        k=4, iterations=2, dim=64,
        where=f"WHERE vec_id <= {_IVF_CUT}",
    )
    + ","
    + _ivf_delta_ctes(iterations=2)
    + f"""
    SELECT cell,
      CAST(sum(CASE WHEN vec_id <= {_IVF_CUT} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_base,
      CAST(sum(CASE WHEN vec_id > {_IVF_CUT} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_delta,
      CAST(sum(CASE WHEN vec_id <= {_IVF_CUT} THEN vec_id ELSE 0 END) AS BIGINT)
        AS id_sum_base,
      CAST(sum(CASE WHEN vec_id > {_IVF_CUT} THEN vec_id ELSE 0 END) AS BIGINT)
        AS id_sum_delta
    FROM merged GROUP BY cell
    """,
)
def sim_incremental_ivf(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from ..operators.similarity import apply_ivf_index, build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    # append-only ingest split at the ~80th id percentile (1-row anchor
    # collect, same contract as the dedup incremental twins)
    cutoff = emb.agg(F.max("vec_id").alias("m")).first()["m"] * 4 // 5
    base = emb.filter(F.col("vec_id") <= cutoff)
    delta = emb.filter(F.col("vec_id") > cutoff)

    # batch 1: train + assign the base, persist BOTH index artifacts
    cents, base_post = build_ivf_index(base, k=4, iterations=2)
    tmp = tempfile.mkdtemp(prefix="gisaid_ivf_index_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    cents.write.mode("overwrite").parquet(f"{tmp}/centroids")
    base_post.write.mode("overwrite").parquet(f"{tmp}/postings")

    # batch 2: resume from the ON-DISK artifacts — the delta is assigned
    # against the frozen quantizer (delta × k cost); the historical
    # vectors are never re-read, the postings only appended to
    saved_cents = spark.read.parquet(f"{tmp}/centroids")
    saved_post = spark.read.parquet(f"{tmp}/postings")
    delta_post = apply_ivf_index(saved_cents, delta)

    merged = saved_post.unionByName(delta_post)
    is_base = F.col("vec_id") <= F.lit(cutoff)
    return merged.groupBy("cell").agg(
        F.sum(F.when(is_base, 1).otherwise(0)).cast("long").alias("n_base"),
        F.sum(F.when(~is_base, 1).otherwise(0)).cast("long").alias("n_delta"),
        F.sum(F.when(is_base, F.col("vec_id")).otherwise(0))
        .cast("long")
        .alias("id_sum_base"),
        F.sum(F.when(~is_base, F.col("vec_id")).otherwise(0))
        .cast("long")
        .alias("id_sum_delta"),
    )


@register(
    "sim_incremental_ivf_search",
    # The read path after a resume: top-k over the MERGED postings
    # (base + delta candidates), routed by the FROZEN quantizer — NOT
    # per-cell means recomputed from current postings (those drift as
    # deltas append and would route queries inconsistently with how the
    # postings were assigned). Candidates spanning both batches prove
    # the production search sees appended vectors immediately.
    "WITH cut AS (SELECT (max(vec_id)*4)//5 AS c FROM embeddings),\n    "
    + _kmeans_ctes(
        k=4, iterations=2, dim=64,
        where=f"WHERE vec_id <= {_IVF_CUT}",
    )
    + ","
    + _ivf_delta_ctes(iterations=2)
    + f""",
    eall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qvec FROM eall WHERE vec_id < 5),
    routed AS (
      SELECT query_id, qvec, cc.cell,
             round({_cos_sql('qvec', 'cc.c')}, 6) AS ccos
      FROM q CROSS JOIN c2 cc
    ),
    assigned AS (
      SELECT query_id, qvec, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY ccos DESC, cell) AS rn
        FROM routed
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT a.query_id, m.vec_id AS cand_id, a.cell,
             round({_cos_sql('a.qvec', 'ev.v')}, 6) AS cos
      FROM assigned a
      JOIN merged m ON m.cell = a.cell AND m.vec_id <> a.query_id
      JOIN eall ev ON ev.vec_id = m.vec_id
    )
    SELECT query_id, cand_id, cell, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def sim_incremental_ivf_search(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from ..operators.similarity import (
        apply_ivf_index,
        build_ivf_index,
        ivf_index_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cutoff = emb.agg(F.max("vec_id").alias("m")).first()["m"] * 4 // 5
    base = emb.filter(F.col("vec_id") <= cutoff)
    delta = emb.filter(F.col("vec_id") > cutoff)

    cents, base_post = build_ivf_index(base, k=4, iterations=2)
    tmp = tempfile.mkdtemp(prefix="gisaid_ivf_search_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    cents.write.mode("overwrite").parquet(f"{tmp}/centroids")
    base_post.write.mode("overwrite").parquet(f"{tmp}/postings")

    saved_cents = spark.read.parquet(f"{tmp}/centroids")
    saved_post = spark.read.parquet(f"{tmp}/postings")
    merged = saved_post.unionByName(apply_ivf_index(saved_cents, delta))
    return ivf_index_topk(
        saved_cents, merged, emb, emb.filter(F.col("vec_id") < 5), k=3
    )


@register(
    "sim_ivf_drift",
    # Quantization-drift monitor (r14): per cell, base vs delta member
    # counts and mean assignment distance under the FROZEN base-trained
    # quantizer — the "when to retrain" signal for the resumable IVF
    # index. Distances are the round-6 lattice values the assignment
    # ranks on; per-cell sums are EXACT integer micro-units (lattice ×
    # 1e6 is an exact BIGINT), so the only float op is one final
    # division per mean — engine-order-free by construction. Base and
    # delta stats combine FULL OUTER on cell (ADVICE r14 / r15): a
    # delta-only cell — the drifting cohort the monitor exists for —
    # surfaces with n_base=0 and NULL base_mean_dist instead of
    # silently dropping.
    "WITH cut AS (SELECT (max(vec_id)*4)//5 AS c FROM embeddings),\n    "
    + _kmeans_ctes(
        k=4, iterations=2, dim=64,
        where=f"WHERE vec_id <= {_IVF_CUT}",
    )
    + f""",
    delta AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id > {_IVF_CUT}
    ),
    dassign AS (
      SELECT vec_id, cell, dist FROM (
        SELECT delta.vec_id, cc.cell,
               round(list_sum(list_transform(
                 list_zip(delta.v, cc.c),
                 p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS dist,
               row_number() OVER (
                 PARTITION BY delta.vec_id
                 ORDER BY round(list_sum(list_transform(
                            list_zip(delta.v, cc.c),
                            p -> (p[1]-p[2])*(p[1]-p[2]))), 6), cc.cell
               ) AS rn
        FROM delta CROSS JOIN c2 cc
      ) WHERE rn = 1
    ),
    b AS (
      SELECT cell, count(*) AS n_base,
             sum(CAST(round(dist*1000000.0) AS BIGINT)) AS sm
      FROM fin GROUP BY cell
    ),
    d AS (
      SELECT cell, count(*) AS n_delta,
             sum(CAST(round(dist*1000000.0) AS BIGINT)) AS sm
      FROM dassign GROUP BY cell
    )
    SELECT coalesce(b.cell, d.cell) AS cell,
           CAST(coalesce(b.n_base, 0) AS BIGINT) AS n_base,
           CAST(coalesce(d.n_delta, 0) AS BIGINT) AS n_delta,
           CASE WHEN b.n_base > 0
                THEN round(CAST(b.sm AS DOUBLE) / (CAST(b.n_base AS DOUBLE) * 1000000.0), 6)
           END AS base_mean_dist,
           CASE WHEN d.n_delta > 0
                THEN round(CAST(d.sm AS DOUBLE) / (CAST(d.n_delta AS DOUBLE) * 1000000.0), 6)
           END AS delta_mean_dist
    FROM b FULL OUTER JOIN d ON b.cell = d.cell
    """,
)
def sim_ivf_drift(spark, sf_dir):
    from ..operators.similarity import build_ivf_index, ivf_assignment_drift

    emb = load_table(spark, sf_dir, "embeddings")
    cutoff = emb.agg(F.max("vec_id").alias("m")).first()["m"] * 4 // 5
    base = emb.filter(F.col("vec_id") <= cutoff)
    delta = emb.filter(F.col("vec_id") > cutoff)
    # the frozen quantizer (pinned inside build_ivf_index); postings not
    # needed here — drift reads assignment distances, not the index
    cents, _post = build_ivf_index(base, k=4, iterations=2)
    return ivf_assignment_drift(cents, base, delta)


@register(
    "sim_ivf_index_multiprobe",
    # The recall knob on the PERSISTED index (late r14): probe=2 over
    # the resumed (frozen centroids, merged postings) — candidates span
    # the query's two nearest frozen cells AND both batches, final rank
    # global per query (a posting lives in exactly one cell, so no
    # dedup). Completes the parity with the label-cell family
    # (sim_ivf_topk / sim_ivf_multiprobe) for the index read path.
    "WITH cut AS (SELECT (max(vec_id)*4)//5 AS c FROM embeddings),\n    "
    + _kmeans_ctes(
        k=4, iterations=2, dim=64,
        where=f"WHERE vec_id <= {_IVF_CUT}",
    )
    + ","
    + _ivf_delta_ctes(iterations=2)
    + f""",
    eall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qvec FROM eall WHERE vec_id < 5),
    routed AS (
      SELECT query_id, qvec, cc.cell,
             round({_cos_sql('qvec', 'cc.c')}, 6) AS ccos
      FROM q CROSS JOIN c2 cc
    ),
    assigned AS (
      SELECT query_id, qvec, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY ccos DESC, cell) AS rn
        FROM routed
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT a.query_id, m.vec_id AS cand_id, m.cell,
             round({_cos_sql('a.qvec', 'ev.v')}, 6) AS cos
      FROM assigned a
      JOIN merged m ON m.cell = a.cell AND m.vec_id <> a.query_id
      JOIN eall ev ON ev.vec_id = m.vec_id
    )
    SELECT query_id, cand_id, cell, cos, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def sim_ivf_index_multiprobe(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from ..operators.similarity import (
        apply_ivf_index,
        build_ivf_index,
        ivf_index_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cutoff = emb.agg(F.max("vec_id").alias("m")).first()["m"] * 4 // 5
    base = emb.filter(F.col("vec_id") <= cutoff)
    delta = emb.filter(F.col("vec_id") > cutoff)

    cents, base_post = build_ivf_index(base, k=4, iterations=2)
    tmp = tempfile.mkdtemp(prefix="gisaid_ivf_mp_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    cents.write.mode("overwrite").parquet(f"{tmp}/centroids")
    base_post.write.mode("overwrite").parquet(f"{tmp}/postings")

    saved_cents = spark.read.parquet(f"{tmp}/centroids")
    saved_post = spark.read.parquet(f"{tmp}/postings")
    merged = saved_post.unionByName(apply_ivf_index(saved_cents, delta))
    return ivf_index_topk(
        saved_cents, merged, emb, emb.filter(F.col("vec_id") < 5),
        k=3, probe=2,
    )


_PQ_INCR_CHAINS = (
    # per-subspace Lloyd chains TRAINED ON THE BASE BATCH ONLY (the
    # `where` hook), then per-subspace delta assignment against each
    # chain's FROZEN final centroids (the derived-name delta block)
    _kmeans_ctes(
        k=4, iterations=2, dim=32, prefix="s0_",
        vexpr="CAST(embedding AS DOUBLE[])[1:32]",
        where=f"WHERE vec_id <= {_IVF_CUT}",
    )
    + ",\n    "
    + _kmeans_ctes(
        k=4, iterations=2, dim=32, prefix="s1_",
        vexpr="CAST(embedding AS DOUBLE[])[33:64]",
        where=f"WHERE vec_id <= {_IVF_CUT}",
    )
    + ","
    + _ivf_delta_ctes(
        iterations=2, prefix="s0_", vexpr="CAST(embedding AS DOUBLE[])[1:32]"
    )
    + ","
    + _ivf_delta_ctes(
        iterations=2, prefix="s1_", vexpr="CAST(embedding AS DOUBLE[])[33:64]"
    )
)


@register(
    "sim_incremental_pq",
    # Resumable PQ index (r15 — VERDICT r14 #3, the quad-completion of
    # the persisted-index family): the Spark side trains one codebook
    # per subspace on the first ~80% of the id space, PERSISTS
    # (codebooks, codes) to parquet, then resumes from the ON-DISK
    # artifacts to quantize the delta against the FROZEN codebooks —
    # while the oracle replays both subspaces' base-restricted Lloyd
    # training and assigns the delta slices against each chain's final
    # centroids. Per-(subspace, cell) counts + id checksums hash EVERY
    # code on both sides: equality proves the freeze (no retrain on
    # resume), the codebook float lattice's parquet round-trip, and
    # the code merge.
    "WITH cut AS (SELECT (max(vec_id)*4)//5 AS c FROM embeddings),\n    "
    + _PQ_INCR_CHAINS
    + f""",
    allcodes AS (
      SELECT vec_id, CAST(0 AS BIGINT) AS subspace, cell FROM s0_merged
      UNION ALL
      SELECT vec_id, CAST(1 AS BIGINT) AS subspace, cell FROM s1_merged
    )
    SELECT subspace, cell,
      CAST(sum(CASE WHEN vec_id <= {_IVF_CUT} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_base,
      CAST(sum(CASE WHEN vec_id > {_IVF_CUT} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_delta,
      CAST(sum(CASE WHEN vec_id <= {_IVF_CUT} THEN vec_id ELSE 0 END) AS BIGINT)
        AS id_sum_base,
      CAST(sum(CASE WHEN vec_id > {_IVF_CUT} THEN vec_id ELSE 0 END) AS BIGINT)
        AS id_sum_delta
    FROM allcodes GROUP BY subspace, cell
    """,
)
def sim_incremental_pq(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from ..operators.similarity import apply_pq_index, build_pq_index

    emb = load_table(spark, sf_dir, "embeddings")
    # append-only ingest split at the ~80th id percentile (1-row anchor
    # collect, the persisted-index family contract)
    cutoff = emb.agg(F.max("vec_id").alias("m")).first()["m"] * 4 // 5
    base = emb.filter(F.col("vec_id") <= cutoff)
    delta = emb.filter(F.col("vec_id") > cutoff)

    # batch 1: train per-subspace codebooks + quantize the base,
    # persist BOTH index artifacts
    cb, base_codes = build_pq_index(base, m=2, sub_dim=32, k=4, iterations=2)
    tmp = tempfile.mkdtemp(prefix="gisaid_pq_index_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    cb.write.mode("overwrite").parquet(f"{tmp}/codebooks")
    base_codes.write.mode("overwrite").parquet(f"{tmp}/codes")

    # batch 2: resume from the ON-DISK artifacts — the delta quantizes
    # against the frozen codebooks (delta × m·k cost); historical
    # vectors are never re-read, the codes only appended to
    saved_cb = spark.read.parquet(f"{tmp}/codebooks")
    saved_codes = spark.read.parquet(f"{tmp}/codes")
    delta_codes = apply_pq_index(saved_cb, delta, m=2, sub_dim=32)

    merged = saved_codes.unionByName(delta_codes)
    is_base = F.col("vec_id") <= F.lit(cutoff)
    return merged.groupBy("subspace", "cell").agg(
        F.sum(F.when(is_base, 1).otherwise(0)).cast("long").alias("n_base"),
        F.sum(F.when(~is_base, 1).otherwise(0)).cast("long").alias("n_delta"),
        F.sum(F.when(is_base, F.col("vec_id")).otherwise(0))
        .cast("long")
        .alias("id_sum_base"),
        F.sum(F.when(~is_base, F.col("vec_id")).otherwise(0))
        .cast("long")
        .alias("id_sum_delta"),
    )


@register(
    "sim_incremental_pq_search",
    # The read path after a PQ resume: asymmetric-distance top-3 over
    # the MERGED codes (base + delta candidates), LUTs against the
    # FROZEN codebooks — NOT centroids recomputed from current
    # assignments (those drift as deltas append; the frozen quantizer
    # is what every stored code was assigned under — the
    # ivf_index_topk convention). Candidates spanning both batches
    # prove appended vectors are searchable immediately.
    "WITH cut AS (SELECT (max(vec_id)*4)//5 AS c FROM embeddings),\n    "
    + _PQ_INCR_CHAINS
    + """,
    codes AS (
      SELECT a.vec_id, a.cell AS c0, b.cell AS c1
      FROM s0_merged a JOIN s1_merged b ON a.vec_id = b.vec_id
    ),
    q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[])[1:32] AS v
           FROM embeddings WHERE vec_id < 5),
    q1 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[])[33:64] AS v
           FROM embeddings WHERE vec_id < 5),
    lut0 AS (
      SELECT q.query_id, c.cell AS c0,
             round(list_sum(list_transform(list_zip(q.v, c.c),
                   p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS d0
      FROM q0 q CROSS JOIN s0_c2 c
    ),
    lut1 AS (
      SELECT q.query_id, c.cell AS c1,
             round(list_sum(list_transform(list_zip(q.v, c.c),
                   p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS d1
      FROM q1 q CROSS JOIN s1_c2 c
    ),
    scored AS (
      SELECT l0.query_id, cd.vec_id AS cand_id, round(l0.d0 + l1.d1, 6) AS adc
      FROM codes cd
      JOIN lut0 l0 ON cd.c0 = l0.c0
      JOIN lut1 l1 ON l1.query_id = l0.query_id AND cd.c1 = l1.c1
      WHERE cd.vec_id <> l0.query_id
    )
    SELECT query_id, cand_id, adc, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def sim_incremental_pq_search(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from ..operators.similarity import (
        apply_pq_index,
        build_pq_index,
        pq_index_adc_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cutoff = emb.agg(F.max("vec_id").alias("m")).first()["m"] * 4 // 5
    base = emb.filter(F.col("vec_id") <= cutoff)
    delta = emb.filter(F.col("vec_id") > cutoff)

    cb, base_codes = build_pq_index(base, m=2, sub_dim=32, k=4, iterations=2)
    tmp = tempfile.mkdtemp(prefix="gisaid_pq_search_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    cb.write.mode("overwrite").parquet(f"{tmp}/codebooks")
    base_codes.write.mode("overwrite").parquet(f"{tmp}/codes")

    saved_cb = spark.read.parquet(f"{tmp}/codebooks")
    saved_codes = spark.read.parquet(f"{tmp}/codes")
    merged = saved_codes.unionByName(
        apply_pq_index(saved_cb, delta, m=2, sub_dim=32)
    )
    return pq_index_adc_topk(
        saved_cb, merged, emb.filter(F.col("vec_id") < 5),
        m=2, sub_dim=32, topk=3,
    )


@register(
    "streaming_ivf_append_hash",
    # The IVF index maintenance loop DRIVEN AS A REAL STREAM (r15 —
    # VERDICT r14 #5, promoting the pytest to a hash-gated driver row
    # like the other streaming twins): the frozen quantizer is built on
    # the base batch, the delta arrives as a 2-file parquet backlog
    # (maxFilesPerTrigger=1 → 2 micro-batches), and foreachBatch
    # appends postings via apply_ivf_index per micro-batch. The
    # accumulated postings, merged with the base postings, must
    # hash-match the SAME from-scratch oracle as sim_incremental_ivf —
    # assignment against frozen centroids is per-vector, so any
    # micro-batch boundary placement yields identical postings (no
    # monotone-id contract, unlike the dedup streaming twins).
    "WITH cut AS (SELECT (max(vec_id)*4)//5 AS c FROM embeddings),\n    "
    + _kmeans_ctes(
        k=4, iterations=2, dim=64,
        where=f"WHERE vec_id <= {_IVF_CUT}",
    )
    + ","
    + _ivf_delta_ctes(iterations=2)
    + f"""
    SELECT cell,
      CAST(sum(CASE WHEN vec_id <= {_IVF_CUT} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_base,
      CAST(sum(CASE WHEN vec_id > {_IVF_CUT} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_delta,
      CAST(sum(CASE WHEN vec_id <= {_IVF_CUT} THEN vec_id ELSE 0 END) AS BIGINT)
        AS id_sum_base,
      CAST(sum(CASE WHEN vec_id > {_IVF_CUT} THEN vec_id ELSE 0 END) AS BIGINT)
        AS id_sum_delta
    FROM merged GROUP BY cell
    """,
)
def streaming_ivf_append_hash(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from ..operators.similarity import apply_ivf_index, build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    cutoff = emb.agg(F.max("vec_id").alias("m")).first()["m"] * 4 // 5
    base = emb.filter(F.col("vec_id") <= cutoff)
    delta = emb.filter(F.col("vec_id") > cutoff)

    cents, base_post = build_ivf_index(base, k=4, iterations=2)
    tmp = tempfile.mkdtemp(prefix="gisaid_ivf_stream_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    cents.write.mode("overwrite").parquet(f"{tmp}/centroids")
    base_post.write.mode("overwrite").parquet(f"{tmp}/postings")

    # the delta backlog: two parquet files → two micro-batches under
    # maxFilesPerTrigger=1. No mtime-ordering sleep needed (unlike the
    # pytest, which also proves boundary-placement freedom): per-vector
    # frozen assignment is order-free by construction.
    mid = (cutoff + emb.agg(F.max("vec_id").alias("m")).first()["m"]) // 2
    backlog = f"{tmp}/backlog"
    delta.filter(F.col("vec_id") <= mid).coalesce(1).write.mode(
        "append"
    ).parquet(backlog)
    delta.filter(F.col("vec_id") > mid).coalesce(1).write.mode(
        "append"
    ).parquet(backlog)

    out = f"{tmp}/streamed"

    def _append(bdf, _bid):
        saved_c = bdf.sparkSession.read.parquet(f"{tmp}/centroids")
        apply_ivf_index(saved_c, bdf).write.mode("append").parquet(out)

    q = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", "1")
        .parquet(backlog)
        .writeStream.foreachBatch(_append)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    merged = spark.read.parquet(f"{tmp}/postings").unionByName(
        spark.read.parquet(out)
    )
    is_base = F.col("vec_id") <= F.lit(cutoff)
    return merged.groupBy("cell").agg(
        F.sum(F.when(is_base, 1).otherwise(0)).cast("long").alias("n_base"),
        F.sum(F.when(~is_base, 1).otherwise(0)).cast("long").alias("n_delta"),
        F.sum(F.when(is_base, F.col("vec_id")).otherwise(0))
        .cast("long")
        .alias("id_sum_base"),
        F.sum(F.when(~is_base, F.col("vec_id")).otherwise(0))
        .cast("long")
        .alias("id_sum_delta"),
    )


_IVFPQ_CHAINS = (
    # coarse 64-dim chain over the full corpus (e, c0..c2, fin), then
    # the residual table, then one PQ chain per residual subspace —
    # trained FROM the derived residual CTE via the r15 from_table hook
    _kmeans_ctes(k=4, iterations=2, dim=64)
    + """,
    res AS (
      SELECT e.vec_id, f.cell,
             list_transform(list_zip(e.v, cc.c), p -> p[1]-p[2]) AS rv
      FROM e JOIN fin f ON e.vec_id = f.vec_id
      JOIN c2 cc ON cc.cell = f.cell
    ),
    """
    + _kmeans_ctes(k=4, iterations=2, dim=32, prefix="p0_",
                   vexpr="rv[1:32]", from_table="res")
    + ",\n    "
    + _kmeans_ctes(k=4, iterations=2, dim=32, prefix="p1_",
                   vexpr="rv[33:64]", from_table="res")
)


@register(
    "sim_ivfpq_codes",
    # IVF-PQ residual encoding (r15 — the FAISS IndexIVFPQ composition):
    # coarse Lloyd chain routes every vector, the PQ chains train on
    # the RESIDUALS v − c_cell (element-wise IEEE subtract of a raw
    # double and a 6dp-lattice double — order-free, bit-identical
    # cross-engine), and the output is the (cell, subspace, pq_cell)
    # code triple per vector with the residual assignment distance.
    "WITH "
    + _IVFPQ_CHAINS
    + """
    SELECT r.vec_id, r.cell, s.subspace, s.pq_cell, s.dist
    FROM res r JOIN (
      SELECT vec_id, CAST(0 AS BIGINT) AS subspace, cell AS pq_cell, dist
      FROM p0_fin
      UNION ALL
      SELECT vec_id, CAST(1 AS BIGINT) AS subspace, cell AS pq_cell, dist
      FROM p1_fin
    ) s ON r.vec_id = s.vec_id
    """,
)
def sim_ivfpq_codes(spark, sf_dir):
    from ..operators.similarity import ivfpq_residual_codes

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_residual_codes(
        emb, k_coarse=4, m=2, sub_dim=32, k_pq=4, iterations=2
    )


@register(
    "sim_ivfpq_adc_search",
    # The IVF-PQ read path (r15): route each query to its nearest
    # coarse cell by the SAME rounded-L2 argmin the corpus was assigned
    # under, compute the query residual PER ROUTED CELL (residual LUTs
    # are cell-dependent — the defining IVF-PQ subtlety), LUT against
    # the per-subspace residual codebooks (the pq_adc_topk recompute
    # convention: 6dp means OF the final assignment), and score ONLY
    # the routed cell's members: adc = d0 + d1 over the stored codes.
    "WITH "
    + _IVFPQ_CHAINS
    + """,
    codes AS (
      SELECT a.vec_id, r.cell, a.cell AS pc0, b.cell AS pc1
      FROM p0_fin a
      JOIN p1_fin b ON a.vec_id = b.vec_id
      JOIN res r ON r.vec_id = a.vec_id
    ),
    cent0 AS (
      SELECT pc0, list(mu ORDER BY pos) AS cent FROM (
        SELECT f.cell AS pc0, i AS pos, round(avg(e.v[i]), 6) AS mu
        FROM p0_e e JOIN p0_fin f ON e.vec_id = f.vec_id,
             LATERAL unnest(generate_series(1, 32)) t(i)
        GROUP BY f.cell, i
      ) GROUP BY pc0
    ),
    cent1 AS (
      SELECT pc1, list(mu ORDER BY pos) AS cent FROM (
        SELECT f.cell AS pc1, i AS pos, round(avg(e.v[i]), 6) AS mu
        FROM p1_e e JOIN p1_fin f ON e.vec_id = f.vec_id,
             LATERAL unnest(generate_series(1, 32)) t(i)
        GROUP BY f.cell, i
      ) GROUP BY pc1
    ),
    q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
    qrouted AS (
      SELECT query_id, cell, qres FROM (
        SELECT q.query_id, cc.cell,
               list_transform(list_zip(q.v, cc.c), p -> p[1]-p[2]) AS qres,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_sum(list_transform(
                            list_zip(q.v, cc.c),
                            p -> (p[1]-p[2])*(p[1]-p[2]))), 6), cc.cell
               ) AS rn
        FROM q CROSS JOIN c2 cc
      ) WHERE rn <= 1
    ),
    lut0 AS (
      SELECT qr.query_id, qr.cell, c.pc0,
             round(list_sum(list_transform(list_zip(qr.qres[1:32], c.cent),
                   p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS d0
      FROM qrouted qr CROSS JOIN cent0 c
    ),
    lut1 AS (
      SELECT qr.query_id, qr.cell, c.pc1,
             round(list_sum(list_transform(list_zip(qr.qres[33:64], c.cent),
                   p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS d1
      FROM qrouted qr CROSS JOIN cent1 c
    ),
    scored AS (
      SELECT l0.query_id, cd.vec_id AS cand_id, cd.cell,
             round(l0.d0 + l1.d1, 6) AS adc
      FROM codes cd
      JOIN lut0 l0 ON cd.cell = l0.cell AND cd.pc0 = l0.pc0
      JOIN lut1 l1 ON l1.query_id = l0.query_id
                  AND cd.cell = l1.cell AND cd.pc1 = l1.pc1
      WHERE cd.vec_id <> l0.query_id
    )
    SELECT query_id, cand_id, cell, adc, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def sim_ivfpq_adc_search(spark, sf_dir):
    from ..operators.similarity import ivfpq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_adc_topk(
        emb, emb.filter(F.col("vec_id") < 5),
        k_coarse=4, m=2, sub_dim=32, k_pq=4, iterations=2,
        topk=3, probe=1,
    )


_IVFPQ_INCR_CHAINS = (
    # coarse chain trained on the BASE batch only (the `where` hook),
    # base residuals from its final assignment, residual PQ chains
    # trained FROM those (the `from_table` hook), then the delta routed
    # against the FROZEN coarse c2 and residual-encoded against the
    # FROZEN p{j}_c2 generations via the derived-name delta blocks
    _kmeans_ctes(
        k=4, iterations=2, dim=64,
        where=f"WHERE vec_id <= {_IVF_CUT}",
    )
    + """,
    res AS (
      SELECT e.vec_id, f.cell,
             list_transform(list_zip(e.v, cc.c), p -> p[1]-p[2]) AS rv
      FROM e JOIN fin f ON e.vec_id = f.vec_id
      JOIN c2 cc ON cc.cell = f.cell
    ),
    """
    + _kmeans_ctes(k=4, iterations=2, dim=32, prefix="p0_",
                   vexpr="rv[1:32]", from_table="res")
    + ",\n    "
    + _kmeans_ctes(k=4, iterations=2, dim=32, prefix="p1_",
                   vexpr="rv[33:64]", from_table="res")
    + f""",
    dvec AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id > {_IVF_CUT}
    ),
    dres AS (
      SELECT vec_id, cell,
             list_transform(list_zip(v, c), p -> p[1]-p[2]) AS rv
      FROM (
        SELECT d.vec_id, cc.cell, d.v, cc.c,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY round(list_sum(list_transform(
                            list_zip(d.v, cc.c),
                            p -> (p[1]-p[2])*(p[1]-p[2]))), 6), cc.cell
               ) AS rn
        FROM dvec d CROSS JOIN c2 cc
      ) WHERE rn = 1
    ),
    """
    + _ivf_delta_ctes(
        iterations=2, prefix="p0_", vexpr="rv[1:32]", from_table="dres"
    )
    + ","
    + _ivf_delta_ctes(
        iterations=2, prefix="p1_", vexpr="rv[33:64]", from_table="dres"
    )
    + """,
    allcell AS (
      SELECT vec_id, cell FROM res
      UNION ALL SELECT vec_id, cell FROM dres
    )"""
)


@register(
    "sim_incremental_ivfpq",
    # Resumable IVF-PQ index (r15 — composing the r14/r15 IVF and PQ
    # freezes into the FAISS IndexIVFPQ persistence contract): the
    # Spark side trains the coarse quantizer AND the per-subspace
    # residual codebooks on the first ~80% of the id space, PERSISTS
    # all three artifacts (coarse, codebooks, codes) to parquet, then
    # resumes from the ON-DISK artifacts to route + residual-encode the
    # delta against BOTH frozen quantizers — while the oracle replays
    # the base-restricted coarse Lloyd, derives the base residuals,
    # trains the residual chains on them, and assigns the delta
    # residuals against each chain's frozen final centroids. Per-
    # (coarse cell, subspace, pq_cell) counts + id checksums hash EVERY
    # code's full (cell, pq_cell) coordinate on both sides: equality
    # proves the double freeze (neither quantizer retrains on resume —
    # retraining coarse would re-route every stored residual,
    # retraining a codebook would re-lattice every stored code), the
    # parquet round-trip of both float lattices, and the code merge.
    "WITH cut AS (SELECT (max(vec_id)*4)//5 AS c FROM embeddings),\n    "
    + _IVFPQ_INCR_CHAINS
    + f""",
    allcodes AS (
      SELECT vec_id, CAST(0 AS BIGINT) AS subspace, cell AS pq_cell
      FROM p0_merged
      UNION ALL
      SELECT vec_id, CAST(1 AS BIGINT) AS subspace, cell AS pq_cell
      FROM p1_merged
    )
    SELECT ac.cell, s.subspace, s.pq_cell,
      CAST(sum(CASE WHEN s.vec_id <= {_IVF_CUT} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_base,
      CAST(sum(CASE WHEN s.vec_id > {_IVF_CUT} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_delta,
      CAST(sum(CASE WHEN s.vec_id <= {_IVF_CUT} THEN s.vec_id ELSE 0 END)
        AS BIGINT) AS id_sum_base,
      CAST(sum(CASE WHEN s.vec_id > {_IVF_CUT} THEN s.vec_id ELSE 0 END)
        AS BIGINT) AS id_sum_delta
    FROM allcodes s JOIN allcell ac ON s.vec_id = ac.vec_id
    GROUP BY ac.cell, s.subspace, s.pq_cell
    """,
)
def sim_incremental_ivfpq(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from ..operators.similarity import apply_ivfpq_index, build_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings")
    # append-only ingest split at the ~80th id percentile (1-row anchor
    # collect, the persisted-index family contract)
    cutoff = emb.agg(F.max("vec_id").alias("m")).first()["m"] * 4 // 5
    base = emb.filter(F.col("vec_id") <= cutoff)
    delta = emb.filter(F.col("vec_id") > cutoff)

    # batch 1: train coarse + residual codebooks, encode the base,
    # persist ALL THREE index artifacts
    coarse, cb, base_codes = build_ivfpq_index(
        base, k_coarse=4, m=2, sub_dim=32, k_pq=4, iterations=2
    )
    tmp = tempfile.mkdtemp(prefix="gisaid_ivfpq_index_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    coarse.write.mode("overwrite").parquet(f"{tmp}/coarse")
    cb.write.mode("overwrite").parquet(f"{tmp}/codebooks")
    base_codes.write.mode("overwrite").parquet(f"{tmp}/codes")

    # batch 2: resume from the ON-DISK artifacts — the delta routes and
    # quantizes against BOTH frozen quantizers (delta × (k_coarse +
    # m·k_pq) cost); historical vectors are never re-read, the codes
    # only appended to
    saved_coarse = spark.read.parquet(f"{tmp}/coarse")
    saved_cb = spark.read.parquet(f"{tmp}/codebooks")
    saved_codes = spark.read.parquet(f"{tmp}/codes")
    delta_codes = apply_ivfpq_index(
        saved_coarse, saved_cb, delta, m=2, sub_dim=32
    )

    merged = saved_codes.unionByName(delta_codes)
    is_base = F.col("vec_id") <= F.lit(cutoff)
    return merged.groupBy("cell", "subspace", "pq_cell").agg(
        F.sum(F.when(is_base, 1).otherwise(0)).cast("long").alias("n_base"),
        F.sum(F.when(~is_base, 1).otherwise(0)).cast("long").alias("n_delta"),
        F.sum(F.when(is_base, F.col("vec_id")).otherwise(0))
        .cast("long")
        .alias("id_sum_base"),
        F.sum(F.when(~is_base, F.col("vec_id")).otherwise(0))
        .cast("long")
        .alias("id_sum_delta"),
    )


@register(
    "sim_incremental_ivfpq_search",
    # The read path after an IVF-PQ resume, MULTIPROBE over the
    # persisted index: each query routes to its 2 nearest frozen coarse
    # cells, the query residual is computed PER PROBED CELL (residual
    # LUTs are cell-dependent — the defining IVF-PQ subtlety), LUTs go
    # against the FROZEN residual codebooks (never centroid means
    # recomputed from current assignments, which drift as deltas
    # append — the pq_index_adc_topk convention), and only the probed
    # cells' stored codes are scored: adc = d0 + d1. Candidates
    # spanning both batches prove appended vectors are searchable
    # immediately.
    "WITH cut AS (SELECT (max(vec_id)*4)//5 AS c FROM embeddings),\n    "
    + _IVFPQ_INCR_CHAINS
    + """,
    codes AS (
      SELECT a.vec_id, ac.cell, a.cell AS pc0, b.cell AS pc1
      FROM p0_merged a
      JOIN p1_merged b ON a.vec_id = b.vec_id
      JOIN allcell ac ON ac.vec_id = a.vec_id
    ),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id < 5),
    qrouted AS (
      SELECT query_id, cell, qres FROM (
        SELECT q.query_id, cc.cell,
               list_transform(list_zip(q.v, cc.c), p -> p[1]-p[2]) AS qres,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_sum(list_transform(
                            list_zip(q.v, cc.c),
                            p -> (p[1]-p[2])*(p[1]-p[2]))), 6), cc.cell
               ) AS rn
        FROM q CROSS JOIN c2 cc
      ) WHERE rn <= 2
    ),
    lut0 AS (
      SELECT qr.query_id, qr.cell, c.cell AS pc0,
             round(list_sum(list_transform(list_zip(qr.qres[1:32], c.c),
                   p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS d0
      FROM qrouted qr CROSS JOIN p0_c2 c
    ),
    lut1 AS (
      SELECT qr.query_id, qr.cell, c.cell AS pc1,
             round(list_sum(list_transform(list_zip(qr.qres[33:64], c.c),
                   p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS d1
      FROM qrouted qr CROSS JOIN p1_c2 c
    ),
    scored AS (
      SELECT l0.query_id, cd.vec_id AS cand_id, cd.cell,
             round(l0.d0 + l1.d1, 6) AS adc
      FROM codes cd
      JOIN lut0 l0 ON cd.cell = l0.cell AND cd.pc0 = l0.pc0
      JOIN lut1 l1 ON l1.query_id = l0.query_id
                  AND cd.cell = l1.cell AND cd.pc1 = l1.pc1
      WHERE cd.vec_id <> l0.query_id
    )
    SELECT query_id, cand_id, cell, adc, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def sim_incremental_ivfpq_search(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from ..operators.similarity import (
        apply_ivfpq_index,
        build_ivfpq_index,
        ivfpq_index_adc_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cutoff = emb.agg(F.max("vec_id").alias("m")).first()["m"] * 4 // 5
    base = emb.filter(F.col("vec_id") <= cutoff)
    delta = emb.filter(F.col("vec_id") > cutoff)

    coarse, cb, base_codes = build_ivfpq_index(
        base, k_coarse=4, m=2, sub_dim=32, k_pq=4, iterations=2
    )
    tmp = tempfile.mkdtemp(prefix="gisaid_ivfpq_search_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    coarse.write.mode("overwrite").parquet(f"{tmp}/coarse")
    cb.write.mode("overwrite").parquet(f"{tmp}/codebooks")
    base_codes.write.mode("overwrite").parquet(f"{tmp}/codes")

    saved_coarse = spark.read.parquet(f"{tmp}/coarse")
    saved_cb = spark.read.parquet(f"{tmp}/codebooks")
    merged = spark.read.parquet(f"{tmp}/codes").unionByName(
        apply_ivfpq_index(saved_coarse, saved_cb, delta, m=2, sub_dim=32)
    )
    return ivfpq_index_adc_topk(
        saved_coarse, saved_cb, merged, emb.filter(F.col("vec_id") < 5),
        m=2, sub_dim=32, topk=3, probe=2,
    )


@register(
    "sim_ivf_index_delete",
    # Retraction for the persisted VECTOR indexes (r15 — the vector
    # twin of dedup_index_delete_{exact,lsh}, completing the
    # persisted-index family's CRUD surface): after a build + resume
    # cycle, every id ≡ 0 (mod 7) — spanning BOTH batches — is deleted
    # from the merged postings via one AQE-sized anti-join (broadcasts
    # only when the runtime batch size is small: the mod-7 batch is
    # corpus-proportional, so forcing a broadcast hint here would be
    # the r6 OOM class — ADVICE r15 #2). ANN index
    # rows are per-vector, so there is no keeper re-election: the
    # survivors must equal a from-scratch assignment of
    # corpus-minus-deleted under the SAME frozen base-trained quantizer
    # (which the oracle replays as merged-minus-deleted — per-vector
    # assignment makes the two formulations identical). The per-cell
    # counts + id checksums hash every surviving posting. (A mod-7
    # batch never empties a whole cell at driver scales — the
    # empty-cell-disappears case is forced separately by
    # tests/test_sim_incremental.py::test_vector_index_delete_empties_cell.)
    "WITH cut AS (SELECT (max(vec_id)*4)//5 AS c FROM embeddings),\n    "
    + _kmeans_ctes(
        k=4, iterations=2, dim=64,
        where=f"WHERE vec_id <= {_IVF_CUT}",
    )
    + ","
    + _ivf_delta_ctes(iterations=2)
    + f"""
    SELECT cell,
      CAST(sum(CASE WHEN vec_id <= {_IVF_CUT} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_base,
      CAST(sum(CASE WHEN vec_id > {_IVF_CUT} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_delta,
      CAST(sum(CASE WHEN vec_id <= {_IVF_CUT} THEN vec_id ELSE 0 END) AS BIGINT)
        AS id_sum_base,
      CAST(sum(CASE WHEN vec_id > {_IVF_CUT} THEN vec_id ELSE 0 END) AS BIGINT)
        AS id_sum_delta
    FROM merged WHERE vec_id % 7 <> 0 GROUP BY cell
    """,
)
def sim_ivf_index_delete(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from ..operators.similarity import (
        apply_ivf_index,
        build_ivf_index,
        delete_from_vector_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cutoff = emb.agg(F.max("vec_id").alias("m")).first()["m"] * 4 // 5
    base = emb.filter(F.col("vec_id") <= cutoff)
    delta = emb.filter(F.col("vec_id") > cutoff)

    # the full lifecycle: build on the base, persist, resume the delta
    # from the ON-DISK artifacts...
    cents, base_post = build_ivf_index(base, k=4, iterations=2)
    tmp = tempfile.mkdtemp(prefix="gisaid_ivf_delete_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    cents.write.mode("overwrite").parquet(f"{tmp}/centroids")
    base_post.write.mode("overwrite").parquet(f"{tmp}/postings")
    saved_cents = spark.read.parquet(f"{tmp}/centroids")
    saved_post = spark.read.parquet(f"{tmp}/postings")
    merged = saved_post.unionByName(apply_ivf_index(saved_cents, delta))

    # ...then retract a batch spanning both ingest generations; the
    # quantizer is untouched (deletion never retrains — the drift
    # monitor is the retrain signal)
    dels = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    kept = delete_from_vector_index(merged, dels)
    is_base = F.col("vec_id") <= F.lit(cutoff)
    return kept.groupBy("cell").agg(
        F.sum(F.when(is_base, 1).otherwise(0)).cast("long").alias("n_base"),
        F.sum(F.when(~is_base, 1).otherwise(0)).cast("long").alias("n_delta"),
        F.sum(F.when(is_base, F.col("vec_id")).otherwise(0))
        .cast("long")
        .alias("id_sum_base"),
        F.sum(F.when(~is_base, F.col("vec_id")).otherwise(0))
        .cast("long")
        .alias("id_sum_delta"),
    )


# Shared CTE block for the SQ8 persisted-index oracles: the per-dim
# (lo, hi) grid trained on the BASE batch only (frozen quantizer), then
# saturated uint8 codes for EVERY vector against that frozen grid — the
# same formula as sim_quantize_int8's oracle plus the [0, 255] clamp
# (delta values outside the base-trained range saturate, which is what
# makes the freeze sound). Long form (vec_id, pos, q); all-integer.
_SQ8_CODES_CTES = f"""
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    grid AS (
      SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
      FROM e, LATERAL unnest(generate_series(1, 64)) t(i)
      WHERE vec_id <= {_IVF_CUT}
      GROUP BY i
    ),
    sq8codes AS (
      SELECT e.vec_id, CAST(g.i - 1 AS BIGINT) AS pos,
             CASE WHEN (g.hi - g.lo) > 0
                  THEN GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
                       CAST(floor((e.v[g.i] - g.lo) * 255.0 / (g.hi - g.lo)
                            + 0.5) AS BIGINT)))
                  ELSE CAST(0 AS BIGINT) END AS q
      FROM e CROSS JOIN grid g
    )"""


@register(
    "sim_incremental_sq8",
    # Resumable SQ8 scalar-quantization index (r17 — VERDICT r16 #2,
    # completing the FAISS staple set IVF/PQ/IVF-PQ/SQ in the
    # persisted-index family): the Spark side trains the per-dim
    # min/max grid on the first ~80% of the id space, PERSISTS
    # (grid, codes) to parquet, resumes from the ON-DISK artifacts to
    # encode the delta against the FROZEN grid (saturating at the
    # uint8 boundary for out-of-range delta values), then retracts
    # every id ≡ 0 (mod 7) — spanning both batches — via
    # delete_from_vector_index (per-vector rows, no keeper
    # re-election). The oracle replays the base-trained grid and the
    # clamped encode from scratch. Per-dimension integer checksums
    # (code sums + id-weighted code sums, split base/delta) hash EVERY
    # surviving code value on both sides: equality proves the freeze
    # (no grid retrain on resume), the grid's parquet round-trip, the
    # saturation behavior, and the retraction.
    "WITH cut AS (SELECT (max(vec_id)*4)//5 AS c FROM embeddings),\n    "
    + _SQ8_CODES_CTES
    + f"""
    SELECT pos,
      CAST(sum(CASE WHEN vec_id <= {_IVF_CUT} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_base,
      CAST(sum(CASE WHEN vec_id > {_IVF_CUT} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_delta,
      CAST(sum(CASE WHEN vec_id <= {_IVF_CUT} THEN q ELSE 0 END) AS BIGINT)
        AS qsum_base,
      CAST(sum(CASE WHEN vec_id > {_IVF_CUT} THEN q ELSE 0 END) AS BIGINT)
        AS qsum_delta,
      CAST(sum(CASE WHEN vec_id <= {_IVF_CUT} THEN vec_id * q ELSE 0 END)
        AS BIGINT) AS idq_sum_base,
      CAST(sum(CASE WHEN vec_id > {_IVF_CUT} THEN vec_id * q ELSE 0 END)
        AS BIGINT) AS idq_sum_delta
    FROM sq8codes WHERE vec_id % 7 <> 0 GROUP BY pos
    """,
)
def sim_incremental_sq8(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from ..operators.similarity import (
        apply_sq8_index,
        build_sq8_index,
        delete_from_vector_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # append-only ingest split at the ~80th id percentile (1-row anchor
    # collect, the persisted-index family contract)
    cutoff = emb.agg(F.max("vec_id").alias("m")).first()["m"] * 4 // 5
    base = emb.filter(F.col("vec_id") <= cutoff)
    delta = emb.filter(F.col("vec_id") > cutoff)

    # batch 1: train the min/max grid + encode the base, persist BOTH
    # index artifacts (the grid is ONE dimension-sized row)
    grid, base_codes = build_sq8_index(base)
    tmp = tempfile.mkdtemp(prefix="gisaid_sq8_index_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    grid.write.mode("overwrite").parquet(f"{tmp}/grid")
    base_codes.write.mode("overwrite").parquet(f"{tmp}/codes")

    # batch 2: resume from the ON-DISK artifacts — the delta encodes
    # against the frozen grid (delta-only cost, saturating clamp);
    # historical vectors are never re-read, the codes only appended to
    saved_grid = spark.read.parquet(f"{tmp}/grid")
    saved_codes = spark.read.parquet(f"{tmp}/codes")
    merged = saved_codes.unionByName(apply_sq8_index(saved_grid, delta))

    # ...then retract a batch spanning both ingest generations; the
    # grid is untouched (deletion never retrains, same as append)
    dels = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    kept = delete_from_vector_index(merged, dels)

    exploded = kept.select("vec_id", F.posexplode("q").alias("pos", "q"))
    is_base = F.col("vec_id") <= F.lit(cutoff)
    return exploded.groupBy(F.col("pos").cast("long").alias("pos")).agg(
        F.sum(F.when(is_base, 1).otherwise(0)).cast("long").alias("n_base"),
        F.sum(F.when(~is_base, 1).otherwise(0)).cast("long").alias("n_delta"),
        F.sum(F.when(is_base, F.col("q")).otherwise(0))
        .cast("long")
        .alias("qsum_base"),
        F.sum(F.when(~is_base, F.col("q")).otherwise(0))
        .cast("long")
        .alias("qsum_delta"),
        F.sum(F.when(is_base, F.col("vec_id") * F.col("q")).otherwise(0))
        .cast("long")
        .alias("idq_sum_base"),
        F.sum(F.when(~is_base, F.col("vec_id") * F.col("q")).otherwise(0))
        .cast("long")
        .alias("idq_sum_delta"),
    )


@register(
    "sim_incremental_sq8_search",
    # The read path after an SQ8 resume: symmetric quantized top-3
    # over the MERGED codes (base + delta candidates) — queries encode
    # against the SAME frozen grid the stored codes were quantized
    # under (never a grid recomputed from the current corpus, which
    # drifts as deltas append), then rank by the INTEGER code dot
    # product. All-integer scoring end-to-end, so the ranking is exact
    # cross-engine with no float rounding anywhere; candidates
    # spanning both batches prove appended vectors are searchable
    # immediately.
    "WITH cut AS (SELECT (max(vec_id)*4)//5 AS c FROM embeddings),\n    "
    + _SQ8_CODES_CTES
    + """,
    q AS (SELECT vec_id AS query_id, pos, q AS qq FROM sq8codes
          WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id AS cand_id,
             CAST(sum(q.qq * c.q) AS BIGINT) AS qscore
      FROM q JOIN sq8codes c ON q.pos = c.pos AND c.vec_id <> q.query_id
      GROUP BY q.query_id, c.vec_id
    )
    SELECT query_id, cand_id, qscore, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY qscore DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def sim_incremental_sq8_search(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from ..operators.similarity import (
        apply_sq8_index,
        build_sq8_index,
        sq8_index_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cutoff = emb.agg(F.max("vec_id").alias("m")).first()["m"] * 4 // 5
    base = emb.filter(F.col("vec_id") <= cutoff)
    delta = emb.filter(F.col("vec_id") > cutoff)

    grid, base_codes = build_sq8_index(base)
    tmp = tempfile.mkdtemp(prefix="gisaid_sq8_search_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    grid.write.mode("overwrite").parquet(f"{tmp}/grid")
    base_codes.write.mode("overwrite").parquet(f"{tmp}/codes")

    saved_grid = spark.read.parquet(f"{tmp}/grid")
    saved_codes = spark.read.parquet(f"{tmp}/codes")
    merged = saved_codes.unionByName(apply_sq8_index(saved_grid, delta))
    return sq8_index_topk(
        saved_grid, merged, emb.filter(F.col("vec_id") < 5), topk=3
    )
