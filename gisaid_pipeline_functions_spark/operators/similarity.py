"""Similarity search over embedding columns (beyond-reference op;
BASELINE.json north star).

Vector math is pure Spark SQL higher-order functions (``zip_with`` +
``aggregate``) over ``array<float>`` cast to double — JVM-side, no Python.
For the oracle-comparable paths, cosines are rounded to 6 decimals before
any ranking/thresholding so float-summation-order differences between
engines can't flip a rank or a threshold.

Scale paths:
- brute-force top-k: queries × corpus join — correct baseline; viable when
  one side is small enough to broadcast (queries usually are).
- IVF: partition the corpus by a coarse quantizer (here: the given
  label as the cell id, centroids computed per cell), route each query
  to its ``probe`` nearest centroids, search only those cells — the join
  key becomes (cell), turning an n×m cross join into per-cell joins.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _adc_fold(m: int) -> Column:
    """ADC candidate distance: strict subspace-order left fold
    ``(((0.0 + d0) + d1) + ...) + d{m-1}`` over the per-subspace LUT
    entries (r17, ADVICE r15 #1). IEEE addition is commutative but not
    associative, so the fold order must match the oracle's
    ``d0 + d1 + ... + d{m-1}`` textually for every m — the previous
    ``sum(d1..d{m-1}) + d0`` was bit-exact only at m=2 (two-term
    commutativity). The 0.0 seed is an IEEE no-op (0+x == x for finite
    x), keeping the fold identical to the unseeded left chain; the
    pure-Python m=4 replay in tests/test_pq_m4_adc.py pins these
    semantics value-level."""
    return functools.reduce(
        lambda a, b: a + b,
        [F.col(f"d{j}") for j in range(m)],
        F.lit(0.0),
    )


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _sq_l2(a: Column, b: Column) -> Column:
    """Unrounded squared L2: the element-order fold ``Σ (x - y)²`` (the
    same left fold as the oracle's ``list_sum``). Callers round it — 6dp
    for every assignment, LUT and routing distance, 9dp in
    ``kcenter_greedy``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    a, b = _to_double(a), _to_double(b)
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Baseline exact top-k: broadcast the (small) query side against the
    corpus, rank per query by rounded cosine with id tie-break."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def label_centroids(
    corpus: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """IVF coarse quantizer: per-cell centroid via posexplode + grouped avg
    + rebuild (array_agg ordered by position)."""
    dims = corpus.select(
        F.col(label_col).alias("cell"),
        F.posexplode(_to_double(F.col(vec_col))).alias("pos", "x"),
    )
    per_dim = dims.groupBy("cell", "pos").agg(F.avg("x").alias("mean_x"))
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_x"))),
            lambda s: s["mean_x"],
        ).alias("centroid")
    )


def hyperplane_signs(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic Rademacher hyperplanes for sign-LSH: sign(p,d) = ±1
    from the first hex digit of md5(f"{p}|{d}") — portable (pure Python
    at plan-build time, literal constants in BOTH engines' plans, so the
    bucketing is bit-identical across Spark and the DuckDB oracle)."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0], 16) >= 8 else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_lsh_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 2,
    threshold: float = 0.9,
    block_col: str | None = None,
) -> DataFrame:
    """Cosine near-dup pairs via random-hyperplane (sign) LSH — the
    embedding-side analog of MinHash LSH: P sign bits per vector, banded
    into ``bands`` buckets; only same-(band, signature) vectors become
    candidates (a high-cardinality uniform join key, never all-pairs),
    then exact cosine (rounded to 6) filters candidates.

    P(bit match) = 1 - angle/pi, so with P=16, bands=2 (8 bits/band) a
    random pair collides with p≈0.008 while cos≈0.99 pairs collide with
    p≈0.9 — candidates stay O(n · collision rate), not O(n²).

    ``block_col`` optionally RESTRICTS candidates to same-block pairs
    (e.g. same label/source). The block is an extra equality predicate on
    the LSH candidate join, never the generator — a dominant block
    therefore cannot make the pair count quadratic (the skew argument of
    SCALING.md; a blocked all-pairs self-join dies at 100× on the
    dominant block)."""
    signs = hyperplane_signs(n_planes, dim)
    r = n_planes // bands
    # materialize the double-cast vector ONCE — 16 bit expressions over the
    # raw float column would each re-run the element-wise cast (the
    # split()-rematerialization trap from SCALING.md)
    sel = [F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")]
    if block_col is not None:
        sel.append(F.col(block_col).alias("blk"))
    base = corpus.select(*sel)
    v = F.col("v")
    # round the projection to 6dp before the sign test: Spark's aggregate
    # fold and DuckDB's list_sum can sum in different orders, so an
    # unrounded dot within float-epsilon of 0 could flip a bit on one
    # engine only (the repo-wide 6-decimal parity convention)
    bits = [
        (F.round(dot(v, F.array(*[F.lit(s) for s in row])), 6) >= 0)
        .cast("int")
        .cast("string")
        for row in signs
    ]
    band_sigs = [
        F.concat_ws("", *bits[b * r : (b + 1) * r]) for b in range(bands)
    ]
    banded = base.select(
        "id",
        "v",
        *(["blk"] if block_col is not None else []),
        F.posexplode(F.array(*band_sigs)).alias("band", "sig"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.sig") == F.col("b.sig"))
        & (F.col("a.id") < F.col("b.id"))
    )
    if block_col is not None:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    cand = (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])  # a pair can collide in 2 bands
    )
    cos = F.round(
        dot(F.col("va"), F.col("vb")) / (norm(F.col("va")) * norm(F.col("vb"))), 6
    )
    return (
        cand.select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    probe: int = 1,
) -> DataFrame:
    """IVF over label cells: route each query to its ``probe`` nearest
    label centroids, then exact top-k within those cells only, ranked
    globally per query. ``probe`` > 1 is the recall knob (quantization
    error near cell boundaries is the probe=1 failure mode); cost scales
    with probe/n_cells of the corpus, still never a full scan. The
    labeled corpus is scanned directly — the index twin
    ``ivf_index_topk`` reads postings and fetches vectors by id."""
    from pyspark.sql import Window

    cents = label_centroids(corpus, label_col, vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    assigned = _probe_cells(q, cents, "centroid", probe)
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cvec"),
        F.col(label_col).alias("cell"),
    )
    scored = c.join(F.broadcast(assigned), "cell").filter(
        F.col("cand_id") != F.col("query_id")
    ).select(
        "query_id",
        "cand_id",
        F.col("cell"),
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def _probe_cells(
    q: DataFrame, cents: DataFrame, cent_col: str, probe: int
) -> DataFrame:
    """Cosine routing shared by ``ivf_topk`` and ``ivf_index_topk``:
    each ``(query_id, qvec)`` row against the broadcast centroid table,
    rounded to 6dp, keeps its ``probe`` best cells under (ccos desc,
    cell asc) → ``(query_id, qvec, cell)``."""
    from pyspark.sql import Window

    routed = q.join(F.broadcast(cents)).select(
        "query_id",
        "qvec",
        "cell",
        F.round(cosine(F.col("qvec"), F.col(cent_col)), 6).alias("ccos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cell"))
    return (
        routed.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= probe)
        .select("query_id", "qvec", "cell")
    )


def _pick_nearest(df: DataFrame, keys: list[str]) -> DataFrame:
    """The per-row nearest-centroid pick: each ``(*keys, vec_id, v)``
    row carries its candidate centroids as the array ``_ca`` of
    ``(cell, c)`` structs and keeps the first of ``array_sort`` over
    ``(round(sq_l2, 6) AS dist, cell)`` structs → ``(*keys, vec_id, v,
    cell, dist)``. ``array_sort`` on structs orders by field position,
    so the pick is (dist asc, cell asc)."""
    picked = F.element_at(
        F.array_sort(
            F.transform(
                F.col("_ca"),
                lambda s: F.struct(
                    F.round(_sq_l2(F.col("v"), s["c"]), 6).alias("dist"),
                    s["cell"].alias("cell"),
                ),
            )
        ),
        1,
    )
    return df.select(*keys, "vec_id", "v", picked.alias("_p")).select(
        *keys,
        "vec_id",
        "v",
        F.col("_p.cell").alias("cell"),
        F.col("_p.dist").alias("dist"),
    )


def _nearest_cell(base: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid by squared L2, rounded
    to 6dp before the argmin (sum-order differences between engines must
    not flip an assignment), ties broken by cell id.

    Map-side argmin (r17): the centroid table collapses to ONE
    broadcast array row and the per-vector argmin is an in-row
    ``array_sort`` over ``(dist, cell)`` structs (``_pick_nearest``,
    shared with ``_nearest_cell_per_subspace``) — ``array_sort`` on
    structs orders by field position, so (dist asc, cell asc) is
    EXACTLY the old ``row_number() over (dist, cell)`` tie-break and
    the picked row is value-identical (the dist expression itself is
    unchanged: same zip_with/aggregate fold, same 6dp round). The old
    shape joined base × k centroid rows and ran a vec_id window over
    the expansion — even with WindowGroupLimit's partial pass that
    sorts N·k rows per partition and shuffles one row per vector PER
    ASSIGNMENT PASS (every Lloyd iteration of every train). This shape
    evaluates the same N·k distance folds but sorts only k-element
    in-row arrays and shuffles NOTHING — assignment fuses into the
    consumer's map stage (guide §2.4: remove shuffles outright).
    Measured (interleaved A/B/A/B min-of-3, local[32], sf0.1, together
    with the r17 ADC pivot/one-pass-recompute changes that share the
    transit set): sim_ivf_learned 2.74 → 2.24 s (0.82×), sim_semdedup
    5.14 → 4.73 (0.92×), sim_incremental_ivf 2.40 → 2.21 (0.92×),
    sim_pq_adc_topk 3.65 → 3.27 (0.90×); the rest of the family within
    ±2% — at toy scale these shapes are job-latency-bound, the win is
    the per-pass Exchange+double-sort that no longer exists (at corpus
    scale that is one shuffled row per vector per Lloyd pass plus an
    N·k-row sort, every iteration). Empty-``cents`` input would
    yield a NULL pick instead of the old empty join (unreachable from
    every registered query: Lloyd init takes k≥1 smallest ids of a
    non-empty corpus and persisted centroid tables are non-empty by
    construction)."""
    ca = cents.agg(F.collect_list(F.struct("cell", "c")).alias("_ca"))
    return _pick_nearest(base.crossJoin(F.broadcast(ca)), [])


def _cell_means(df: DataFrame, keys: list[str], vec: Column) -> DataFrame:
    """The centroid recompute: per ``keys`` group, the per-dim mean of
    its members' ``vec`` ROUNDED to 6dp, rebuilt as an array ordered by
    position → ``(*keys, c)``. The rounding puts every recomputed
    centroid on a lattice both engines agree on (sum order can differ;
    ``round(avg, 6)`` absorbs it). Serves the Lloyd step of both trains
    and the codebook recompute of both one-shot ADC searches."""
    per_dim = (
        df.select(*keys, F.posexplode(vec).alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
    )
    return per_dim.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("c")
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The trained centroid table ``(cell, c)`` after ``iterations``
    Lloyd rounds — the frozen coarse-quantizer artifact the resumable
    IVF index persists (split out of ``kmeans_assign`` in r14; the
    training tree is byte-identical). Init from the first ``k`` vector
    ids (deterministic, no RNG), assign by rounded squared L2, recompute
    centroids as per-dim means ROUNDED to 6dp each round. The rounding
    puts every iteration's centroids on a lattice both engines agree on,
    so a DuckDB oracle can replay the exact same iterations CTE by CTE
    — the iterative-algorithm analog of the repo's 6-decimal convention.

    Each iteration is one broadcast join (k centroid rows) + one
    dimension-keyed aggregation; nothing shuffles the vectors themselves
    beyond the k×dim-sized centroid recompute."""
    base = corpus.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    )
    # init = the k SMALLEST ids (not `id < k`, which silently returns an
    # empty/under-clustered result for sparse or non-0-based id spaces);
    # orderBy+limit plans as a distributed TakeOrderedAndProject
    cents = (
        base.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("cell"),
            F.transform("v", lambda x: F.round(x, 6)).alias("c"),
        )
    )
    for _ in range(iterations):
        cents = _cell_means(_nearest_cell(base, cents), ["cell"], F.col("v"))
    return cents


def kmeans_assign(
    corpus: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Learned IVF coarse quantizer: train via ``kmeans_centroids`` and
    assign every corpus vector to its nearest final centroid (rounded
    squared L2, cell-id tie-break). The composed plan is the same tree
    the pre-r14 monolith built — training + one final ``_nearest_cell``
    pass."""
    base = corpus.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    )
    cents = kmeans_centroids(corpus, k, iterations, id_col, vec_col)
    return _nearest_cell(base, cents).select("vec_id", "cell", "dist")


def _subspace_slices(base: DataFrame, m: int, sub_dim: int) -> DataFrame:
    """Fan ``(vec_id, v)`` out into its m contiguous ``sub_dim``-wide
    subspace slices in ONE pass → ``(vec_id, subspace, v)`` with
    ``subspace`` 0..m-1 as BIGINT. Each output row's ``v`` equals
    ``slice(v, j*sub_dim+1, sub_dim)`` exactly (the posexplode position
    IS the subspace id), so consumers see the same per-subspace rows the
    old m-branch union loops built — from ONE scan of the input instead
    of m (guide §2.4: per-subspace branches re-scanned the base frame
    once per subspace; scans never exchange-reuse across union arms)."""
    return base.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("v"), j * sub_dim + 1, sub_dim)
                    for j in range(m)
                ]
            )
        ).alias("subspace", "v"),
    ).select("vec_id", F.col("subspace").cast("long").alias("subspace"), "v")


def _nearest_cell_per_subspace(
    slices: DataFrame, cents: DataFrame
) -> DataFrame:
    """``_nearest_cell`` for a subspace-tagged slice stream: the m
    per-subspace centroid tables collapse to m broadcast array rows
    (one per subspace, via a broadcast hash join on ``subspace`` instead
    of ``_nearest_cell``'s one-row crossJoin) and each slice row argmins
    over ITS subspace's array with the same ``_pick_nearest`` — so
    every per-row pick is bit-identical to running ``_nearest_cell``
    once per subspace. Still zero Exchange, zero Window: the join build
    side is m tiny array rows."""
    ca = cents.groupBy("subspace").agg(
        F.collect_list(F.struct("cell", "c")).alias("_ca")
    )
    return _pick_nearest(
        slices.join(F.broadcast(ca), "subspace"), ["subspace"]
    )


def _subspace_kmeans_centroids(
    base: DataFrame, m: int, sub_dim: int, k: int, iterations: int
) -> DataFrame:
    """All m per-subspace Lloyd trains fused into ONE chain over the
    subspace-tagged slice stream → ``(subspace, cell, c)`` (r17
    optimization round, carried item #1: the m independent
    ``kmeans_centroids`` trees each re-scanned the corpus every
    iteration — m·(iterations+1) scans, 2·m exchanges per iteration —
    and none of that duplication is exchange-reusable because the
    chains' aggregations key differently per subspace only by accident
    of the union).

    Value identity with m separate ``kmeans_centroids`` chains over
    ``slice(v, j*sub_dim+1, sub_dim)``:
    - init: the k smallest ``vec_id``s of the slice frame are the k
      smallest of ``base`` (same id set per subspace), sliced and
      6dp-rounded per element — element-wise round commutes with slice;
    - assignment: ``_nearest_cell_per_subspace`` is bit-identical per
      row (same fold, same tie-break, same centroid array per subspace);
    - recompute: group (subspace=j, cell, pos) holds exactly the old
      chain-j (cell, pos) members, and ``round(avg, 6)`` lands on the
      same 6dp lattice both engines (and both groupings) agree on — the
      same order-tolerance the DuckDB oracle replay already relies on.
    Proven by full-rowset old-vs-new compares at sf0.001/sf0.01/sf0.1
    before the swap (see OPTIMIZATION_r17.md batch 5).

    ADVICE r17 exposure note: the fused recompute sums each
    (subspace, cell, pos) group under a DIFFERENT physical grouping than
    the m separate chains did, so the pre-round double can differ in sum
    order; identity rests on round(avg, 6) never landing on a .5e-7
    midpoint (the r9 lattice-midpoint exposure class) plus the empirical
    full-rowset compares above — re-run that compare harness whenever the
    test corpora change."""
    init = base.orderBy("vec_id").limit(k)
    cents = _subspace_slices(init, m, sub_dim).select(
        "subspace",
        F.col("vec_id").alias("cell"),
        F.transform("v", lambda x: F.round(x, 6)).alias("c"),
    )
    slices = _subspace_slices(base, m, sub_dim)
    for _ in range(iterations):
        cents = _cell_means(
            _nearest_cell_per_subspace(slices, cents),
            ["subspace", "cell"],
            F.col("v"),
        )
    return cents


def _subspace_kmeans_assign(
    base: DataFrame, m: int, sub_dim: int, k: int, iterations: int
) -> DataFrame:
    """Fused train + final assignment over all m subspaces → long form
    ``(vec_id, subspace, cell, dist)`` — the one-chain equivalent of m
    ``kmeans_assign`` calls over the subspace slices (same composed
    tree shape as the single-space original: training +
    one final nearest-cell pass)."""
    cents = _subspace_kmeans_centroids(base, m, sub_dim, k, iterations)
    return _nearest_cell_per_subspace(
        _subspace_slices(base, m, sub_dim), cents
    ).select("vec_id", "subspace", "cell", "dist")


def build_ivf_index(
    corpus: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Resumable IVF index, build step: returns ``(centroids,
    postings)`` — the vector twin of ``build_lsh_band_index`` /
    ``build_exact_dedup_index``, completing the persisted-index triad
    (content hash, band signature, coarse quantizer). ``centroids`` is
    the frozen ``(cell, c)`` quantizer trained on the base corpus;
    ``postings`` is ``(vec_id, cell)``, one row per base vector. Both
    are parquet-persistable; resuming never retrains (that is the
    production contract: FAISS-style IVF appends assign new vectors to
    FROZEN centroids — retraining would relabel history and invalidate
    every persisted posting).

    The centroid frame is pinned with an eager ``localCheckpoint``: it
    is k×dim doubles (trivially small) but sits at the top of the
    iterative Lloyd tree, and it has TWO consumers here (the postings
    assignment and whatever the caller persists/searches) — without the
    pin each consumer replays the whole training (the r7 semdedup
    lesson; CLAUDE.md: iterative state with two consumers needs
    localCheckpoint, not persist).

    100 TB: the index grows with the corpus at 2 longs per vector —
    postings are the SCAN artifact (ANN reads stream postings, never
    raw vectors, until the final re-rank); the build is one Lloyd train
    (k-row broadcast joins + dim-sized aggs per iteration) plus one
    assignment pass."""
    cents = kmeans_centroids(corpus, k, iterations, id_col, vec_col)
    cents = cents.localCheckpoint(eager=True)
    base = corpus.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    )
    postings = _nearest_cell(base, cents).select("vec_id", "cell")
    return cents, postings


def apply_ivf_index(
    centroids: DataFrame,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Resume an IVF index from its persisted frozen centroids: assign a
    delta batch of vectors to their nearest existing cell and return the
    delta postings ``(vec_id, cell)`` — append them to the saved
    postings to get the updated index.

    Unlike the dedup twins there is no cross-delta interaction at all:
    assignment is per-vector against the FROZEN quantizer, so
    resume ≡ from-scratch-assignment holds for ANY arrival order (no
    monotone-id contract needed) — the equivalence the driver oracle
    hashes and tests/test_sim_incremental.py proves over a two-delta
    parquet replay.

    100 TB: cost is delta × k (one broadcast of the k-row centroid
    table + the in-row argmin of ``_nearest_cell``, no shuffle) —
    independent of the indexed corpus size; the historical postings are
    never re-read, let alone the historical vectors."""
    d = delta.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    )
    return _nearest_cell(d, centroids).select("vec_id", "cell")


def ivf_assignment_drift(
    centroids: DataFrame,
    base: DataFrame,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantization-drift monitor for a frozen-quantizer IVF index —
    the "when to retrain" signal every production IVF append pipeline
    needs: per cell, the member counts and mean assignment distances of
    the base batch vs the appended delta. A delta whose mean distance
    to its (frozen) centroids keeps climbing is drifting off the
    trained quantizer; retrain and rebuild postings when the ratio
    crosses the deployment's threshold.

    The base/delta stats combine with a FULL OUTER join on cell
    (ADVICE r14): the final ``_nearest_cell`` pass can leave a trained
    cell with zero base members, and a delta-only cell — exactly the
    "delta drifting off the trained quantizer" cohort this monitor
    exists to catch — must surface (n_base=0, base_mean_dist NULL),
    not silently drop.

    Determinism: distances are the same round-6 squared-L2 lattice
    values the assignment ranks on, summed per cell as EXACT integer
    micro-units (a round-6 lattice value × 1e6 rounds to an exact
    BIGINT), so the per-cell sums are engine-order-free and the only
    float op is one final division per mean (the CLAUDE.md cross-row
    float-sum rule, in its integer-lattice form).

    100 TB: two assignment passes (each delta × k via the broadcast
    k-row centroid table) + one cell-keyed partial aggregation; the
    shuffle carries one row per (cell, input partition)."""
    def _stats(df, prefix):
        a = _nearest_cell(
            df.select(
                F.col(id_col).alias("vec_id"),
                _to_double(F.col(vec_col)).alias("v"),
            ),
            centroids,
        )
        return a.groupBy("cell").agg(
            F.count(F.lit(1)).alias(f"n_{prefix}"),
            F.sum(F.round(F.col("dist") * 1e6).cast("long")).alias(
                f"_sm_{prefix}"
            ),
        )

    b = _stats(base, "base")
    d = _stats(delta, "delta")

    def _mean(n, sm):
        return F.when(
            F.col(n) > 0,
            F.round(
                F.col(sm).cast("double")
                / (F.col(n).cast("double") * F.lit(1e6)),
                6,
            ),
        )

    return (
        b.join(d, "cell", "full_outer")
        .select(
            "cell",
            F.coalesce(F.col("n_base"), F.lit(0)).cast("long").alias(
                "n_base"
            ),
            F.coalesce(F.col("n_delta"), F.lit(0)).cast("long").alias(
                "n_delta"
            ),
            _mean("n_base", "_sm_base").alias("base_mean_dist"),
            _mean("n_delta", "_sm_delta").alias("delta_mean_dist"),
        )
    )


def ivf_index_topk(
    centroids: DataFrame,
    postings: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    probe: int = 1,
) -> DataFrame:
    """Search a persisted ``(centroids, postings)`` IVF index — the
    read path after any number of ``apply_ivf_index`` appends: route
    each query to its ``probe`` nearest FROZEN centroids by rounded
    cosine (``_probe_cells``, the routing ``ivf_topk`` uses for label
    cells; probe>1 is the recall knob), then exact top-k among the
    probed cells' postings only, vectors fetched by posting id. The
    final rank is GLOBAL per query across probed cells (a posting
    lives in exactly one cell, so no candidate dedup is needed).

    Differs from ``ivf_topk`` exactly where a persisted index should:
    routing uses the frozen quantizer centroids, NOT per-cell means
    recomputed from the current postings (recomputed means drift as
    deltas append; the frozen quantizer is what every posting was
    assigned under, so routing and postings stay consistent).

    100 TB: the centroid broadcast is k rows; the postings scan is
    pruned FIRST by the broadcast cell-keyed join against the routed
    queries (probe/k of the postings survive — never a scan, let alone
    a vector fetch, of cells the query doesn't probe), and only the
    surviving candidate rows join the vector store on id
    (co-partitionable by id at scale; hint-free — both sides grow with
    the corpus, AQE decides). ADVICE r14: the previous plan fetched
    vectors for ALL postings before the probed-cell filter."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    assigned = _probe_cells(q, centroids, "c", probe)
    cand = (
        postings.join(F.broadcast(assigned), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            F.col("vec_id").alias("cand_id"), "cell", "query_id", "qvec"
        )
    )
    scored = cand.join(
        corpus.select(
            F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec")
        ),
        "cand_id",
    ).select(
        "query_id",
        "cand_id",
        "cell",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def dim_min_max(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension corpus min/max as two aligned arrays (one row) — the
    scalar-quantization grid. posexplode + grouped agg + ordered rebuild;
    the result is dimension-sized and broadcasts."""
    dims = corpus.select(
        F.posexplode(_to_double(F.col(vec_col))).alias("pos", "x")
    )
    per_dim = dims.groupBy("pos").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    return per_dim.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "lo"))), lambda s: s["lo"]
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "hi"))), lambda s: s["hi"]
        ).alias("maxs"),
    )


def quantize_with_grid(
    df: DataFrame,
    grid: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize against an EXPLICIT (mins, maxs) grid — the grid must come
    from the corpus, not the vectors being quantized, or query codes live
    on a different lattice than the corpus codes they're compared to."""
    v = _to_double(F.col(vec_col))
    scaled = F.zip_with(
        F.zip_with(v, F.col("mins"), lambda x, lo: x - lo),
        F.zip_with(F.col("maxs"), F.col("mins"), lambda hi, lo: hi - lo),
        lambda d, r: F.when(r > 0, F.floor(d * 255.0 / r + 0.5)).otherwise(
            F.lit(0)
        ).cast("long"),
    )
    return df.crossJoin(F.broadcast(grid)).select(F.col(id_col), scaled.alias("q"))


def quantize_int8(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar int8 quantization: q_i = floor((x_i - min_i) * 255 /
    (max_i - min_i) + 0.5) — explicit half-up so both engines floor the
    SAME double (library round() tie rules differ). 4× smaller vectors
    for ANN candidate generation; exact re-rank stays on the originals."""
    return quantize_with_grid(
        corpus, dim_min_max(corpus, vec_col), id_col, vec_col
    )


def quantized_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    shortlist: int = 10,
) -> DataFrame:
    """The int8 codes USED, not just produced: approximate top-`shortlist`
    by integer quantized dot product (4× less data scanned per candidate,
    and the integer arithmetic is EXACT cross-engine — no float rounding
    in the shortlist), then exact rounded-cosine re-rank of the shortlist
    on the original vectors. The standard two-stage ANN shape: cheap
    wide scan → exact narrow re-rank; at scale only the codes column
    streams through stage one, the full vectors are fetched for
    `shortlist` rows per query."""
    from pyspark.sql import Window

    grid = dim_min_max(corpus, vec_col)
    codes = quantize_with_grid(corpus, grid, id_col, vec_col).select(
        F.col(id_col).alias("cand_id"), F.col("q").alias("cq")
    )
    qcodes = quantize_with_grid(queries, grid, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("q").alias("qq")
    )
    qdot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        codes.join(F.broadcast(qcodes), F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", qdot.alias("qscore"))
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("qscore"), F.asc("cand_id"))
    short = (
        scored.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= shortlist)
        .select("query_id", "cand_id", "qscore")
    )
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    # the shortlist is queries × shortlist rows — broadcast it against the
    # corpus scan (shuffling the corpus on cand_id to meet a tiny table
    # would be the scale mistake)
    exact = (
        c.join(F.broadcast(short), "cand_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "cand_id",
            "qscore",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return exact.withColumn("rank", F.row_number().over(wr).cast("long")).filter(
        F.col("rank") <= k
    )


def sq8_encode(
    df: DataFrame,
    grid: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Saturating SQ8 encode against a FROZEN ``(mins, maxs)`` grid —
    the storage codec of the persisted scalar-quantization index (r17,
    the SQ member of the FAISS staple set alongside IVF/PQ/IVF-PQ;
    faiss ScalarQuantizer QT_8bit is the public model). Differs from
    ``quantize_with_grid`` exactly where an INDEX codec must: codes
    clamp to [0, 255] (uint8 semantics), so delta vectors landing
    outside the base-trained range saturate at the byte boundary
    instead of escaping it — the grid stays frozen on resume, and the
    clamp is what makes that sound."""
    codes = quantize_with_grid(df, grid, id_col, vec_col)
    lo, hi = F.lit(0).cast("long"), F.lit(255).cast("long")
    clamped = F.transform(
        F.col("q"), lambda x: F.greatest(lo, F.least(hi, x))
    )
    return codes.select(F.col(id_col), clamped.alias("q"))


def build_sq8_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Resumable SQ8 index, build step: ``(grid, codes)`` — the
    scalar-quantization member of the persisted-index family
    (exact-hash, LSH-band, IVF, PQ, IVF-PQ, now SQ8; VERDICT r16 #2).
    ``grid`` is the frozen quantizer — ONE row holding the per-dim
    corpus (mins, maxs) arrays; ``codes`` is one ``(vec_id, q)`` row
    per base vector with the saturated uint8 lattice codes. Both
    parquet-persist; resuming NEVER retrains (the FAISS contract:
    stored codes are only meaningful under the grid they were
    quantized with — ``ivf_assignment_drift`` is the retrain signal,
    not an append).

    100 TB: the grid is dimension-sized (a broadcast no matter the
    corpus); encode is one map-side pass, so the build is a single
    min/max agg plus a linear scan — no Lloyd training at all, which
    is exactly why SQ is the cheapest index in the staple set."""
    grid = dim_min_max(corpus, vec_col)
    return grid, sq8_encode(corpus, grid, id_col, vec_col)


def apply_sq8_index(
    grid: DataFrame,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Resume an SQ8 index from its persisted frozen grid: encode a
    delta batch against it and return the delta codes — append to the
    saved codes to get the updated index. Encoding is per-vector
    (delta-only cost, independent of indexed history), so resume ≡
    from-scratch encode for ANY arrival order or batch split; values
    outside the frozen grid saturate rather than shifting it."""
    return sq8_encode(delta, grid, id_col, vec_col)


def sq8_index_topk(
    grid: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk: int = 3,
) -> DataFrame:
    """Search a persisted ``(grid, codes)`` SQ8 index — the read path
    after any number of ``apply_sq8_index`` appends: queries encode
    against the SAME frozen grid (symmetric quantized distance), then
    rank by the INTEGER code dot product. All-integer scoring makes
    the shortlist exact cross-engine — no float rounding anywhere in
    the index read path (the ``quantized_rerank_topk`` convention;
    callers wanting exact final scores re-rank the shortlist on the
    original vectors exactly as that operator does).

    100 TB: the corpus side streams 64 small ints per vector — 4× less
    than the raw doubles and never the vector column; query codes are
    queries-sized and BROADCAST, so scoring is map-side with a
    per-query top-k window (WindowGroupLimit)."""
    from pyspark.sql import Window

    qcodes = sq8_encode(queries, grid, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("q").alias("qq")
    )
    cand = codes.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("cq"))
    qdot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = cand.join(
        F.broadcast(qcodes), F.col("query_id") != F.col("cand_id")
    ).select("query_id", "cand_id", qdot.alias("qscore"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("qscore"), F.asc("cand_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= topk)


def pq_codes(
    corpus: DataFrame,
    m: int = 2,
    sub_dim: int = 32,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codes (Jégou et al., TPAMI 2011): split each
    vector into ``m`` contiguous ``sub_dim``-dim subspaces, learn an
    independent k-centroid codebook per subspace with the
    iteration-exact Lloyd recipe of ``kmeans_centroids`` (6dp-rounded
    centroids each round, so a DuckDB oracle replays every subspace's
    training bit-for-bit), and emit long form
    ``(vec_id, subspace, cell, dist)``.

    A PQ code is m small integers per vector — k^m distinct composite
    cells from only m·k learned centroids; at 100 TB the codes column is
    what downstream ANN scans stream, never the vectors.

    All m subspaces train in ONE ``_subspace_kmeans_assign`` chain over
    the subspace-tagged slice stream — one corpus scan per Lloyd pass,
    one aggregation pair per iteration (value identity with m separate
    trains argued and rowset-proven at ``_subspace_kmeans_centroids``)."""
    base = corpus.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    )
    return _subspace_kmeans_assign(base, m, sub_dim, k, iterations)


def _recomputed_codebooks(
    base: DataFrame, codes: DataFrame, cell_col: str, sub_dim: int
) -> DataFrame:
    """The one-shot ADC codebooks: ``(vec_id, v)`` ⋈ long-form codes,
    then ``_cell_means`` of each member's subspace slice per
    ``(subspace, cell_col)`` → ``(subspace, cell_col, cent)`` — the
    generation a further Lloyd pass would train, which the oracle
    replays. ALL subspaces in ONE pass; the tiny result (m·k·sub_dim
    doubles) is pinned so the m LUT builds read it instead of replaying
    the join."""
    members = base.join(
        codes.select("vec_id", "subspace", cell_col), "vec_id"
    )
    sub_slice = F.slice(
        F.col("v"), (F.col("subspace") * sub_dim + 1).cast("int"), sub_dim
    )
    return (
        _cell_means(members, ["subspace", cell_col], sub_slice)
        .select("subspace", cell_col, F.col("c").alias("cent"))
        .localCheckpoint(eager=True)
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 2,
    sub_dim: int = 32,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk: int = 3,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes, one shot: train
    and assign the codes (``pq_codes``), recompute each subspace's
    codebook as the 6dp-rounded per-dim means of its final members
    (what generation it+1 would train — the learned-IVF convention the
    oracle replays), then search them with the index read path
    ``pq_index_adc_topk``. The one-shot search IS the index search over
    these recomputed codebooks."""
    # pin the codes: the search pivots them and the recompute joins them,
    # and each reference would otherwise re-run the whole Lloyd training
    # (measured 34.5 s → re-execution collapsed)
    codes = pq_codes(
        corpus, m, sub_dim, k, iterations, id_col, vec_col
    ).localCheckpoint(eager=True)
    base = corpus.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    )
    cents = _recomputed_codebooks(base, codes, "cell", sub_dim)
    return pq_index_adc_topk(
        cents, codes, queries, m, sub_dim, id_col, vec_col, topk
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 2,
    sub_dim: int = 32,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The frozen PQ quantizer artifact ``(subspace, cell, cent)`` —
    the fused ``_subspace_kmeans_centroids`` train over all m contiguous
    ``sub_dim``-dim subspaces (one corpus scan per Lloyd pass), the
    same chain ``pq_codes`` assigns from, so codes assigned against
    these codebooks equal ``pq_codes``' assignment bit-for-bit.

    This is what a resumable PQ index PERSISTS: m·k centroid rows of
    ``sub_dim`` doubles — trivially parquet-sized, broadcastable
    forever after. Retraining would re-lattice every stored code, the
    exact invalidation the IVF freeze (``build_ivf_index``) exists to
    prevent; the PQ twin freezes for the same reason."""
    base = corpus.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    )
    return _subspace_kmeans_centroids(base, m, sub_dim, k, iterations).select(
        "subspace", "cell", F.col("c").alias("cent")
    )


def _assign_pq_codes(
    codebooks: DataFrame,
    df: DataFrame,
    m: int = 2,
    sub_dim: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector's subspace slices to their nearest FROZEN
    codebook centroid (rounded squared L2, cell-id tie-break — the
    ``_nearest_cell`` contract) → long-form codes ``(vec_id, subspace,
    cell)``. Per-vector against a broadcast m·k-row codebook, so cost
    is rows × m·k regardless of how much history the index holds.

    r17: the m per-subspace broadcast-argmin passes (each a full scan
    of ``df``) fuse into ONE ``_nearest_cell_per_subspace`` pass over
    the subspace-tagged slice stream — per-row picks bit-identical."""
    base = df.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    )
    cb = codebooks.select("subspace", "cell", F.col("cent").alias("c"))
    return _nearest_cell_per_subspace(
        _subspace_slices(base, m, sub_dim), cb
    ).select("vec_id", "subspace", "cell")


def build_pq_index(
    corpus: DataFrame,
    m: int = 2,
    sub_dim: int = 32,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Resumable PQ index, build step: ``(codebooks, codes)`` — the
    product-quantization member of the persisted-index family
    (exact-hash, LSH-band, IVF, now PQ; VERDICT r14 #3). ``codebooks``
    is the frozen per-subspace quantizer; ``codes`` is one ``(vec_id,
    subspace, cell)`` row per (base vector, subspace). Both parquet-
    persist; resuming NEVER retrains (FAISS contract: stored codes are
    only meaningful under the codebooks they were quantized with).

    The codebook frame is pinned with an eager ``localCheckpoint``: it
    sits atop m iterative Lloyd trees and has two consumers (the code
    assignment and whatever the caller persists) — the
    ``build_ivf_index`` rule.

    100 TB: the persisted codes are m longs per vector — the column ANN
    scans stream INSTEAD of vectors; the build is m Lloyd trains over
    ``sub_dim``-wide slices plus one broadcast assignment pass."""
    cb = pq_codebooks(
        corpus, m, sub_dim, k, iterations, id_col, vec_col
    ).localCheckpoint(eager=True)
    codes = _assign_pq_codes(cb, corpus, m, sub_dim, id_col, vec_col)
    return cb, codes


def apply_pq_index(
    codebooks: DataFrame,
    delta: DataFrame,
    m: int = 2,
    sub_dim: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Resume a PQ index from its persisted frozen codebooks: quantize a
    delta batch against them and return the delta codes — append to the
    saved codes to get the updated index. Like the IVF twin (and unlike
    the dedup twins) assignment is per-vector, so resume ≡ from-scratch
    quantization for ANY arrival order or batch split; cost is
    delta × m·k, independent of indexed history."""
    return _assign_pq_codes(codebooks, delta, m, sub_dim, id_col, vec_col)


def pq_index_adc_topk(
    codebooks: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    m: int = 2,
    sub_dim: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk: int = 3,
) -> DataFrame:
    """Search a persisted ``(codebooks, codes)`` PQ index — the read
    path after any number of ``apply_pq_index`` appends: per-query
    distance LUTs against the FROZEN codebook centroids (k entries per
    subspace), candidate distance = sum of its stored code's LUT
    entries, global top-k per query under (adc asc, id asc).

    LUTs use whatever codebooks the caller passes: for a persisted
    index, the frozen quantizer the stored codes were assigned under
    (centroids recomputed from current assignments drift as deltas
    append); the one-shot ``pq_adc_topk`` is this search over codebooks
    recomputed from its own final assignment.

    100 TB: the corpus side streams m ints per vector (the wide code
    row — never a raw vector); LUTs are queries × m·k rows and
    BROADCAST, so scoring is m map-side hash-join probes plus a
    per-query top-k window (WindowGroupLimit)."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    )
    # Wide code row via ONE conditional-aggregation pivot (r17): codes
    # is one row per (vec_id, subspace), so max(when(...)) is exact; one
    # exchange replaces the (m-1) vec_id self-joins AND the persisted
    # code table is scanned once instead of m times (guide §2.4).
    wide = codes.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("subspace") == j, F.col("cell"))).alias(
                f"c{j}"
            )
            for j in range(m)
        ]
    )
    luts = []
    for j in range(m):
        cents = codebooks.filter(F.col("subspace") == j).select(
            F.col("cell").alias(f"c{j}"), F.col("cent")
        )
        qsub = q.select(
            "query_id", F.slice(F.col("qv"), j * sub_dim + 1, sub_dim).alias("qs")
        )
        d2 = F.round(_sq_l2(F.col("qs"), F.col("cent")), 6)
        luts.append(
            qsub.join(F.broadcast(cents)).select(
                "query_id", f"c{j}", d2.alias(f"d{j}")
            )
        )
    scored = wide
    for j, lut in enumerate(luts):
        keys = [f"c{j}"] if j == 0 else ["query_id", f"c{j}"]
        scored = scored.join(F.broadcast(lut), keys)
    adc = F.round(_adc_fold(m), 6)
    scored = scored.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("cand_id"), adc.alias("adc")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("cand_id"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= topk)


def semdedup(
    corpus: DataFrame,
    k: int = 4,
    iterations: int = 2,
    threshold: float = 0.32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by embedding clusters — k-means partitions the corpus,
    and cosine-similar pairs are searched ONLY within a cluster, so the
    quadratic pair scan is bounded by the largest cell instead of the
    corpus. A vector is dropped when a lower-id vector in the same cell
    has cosine ≥ threshold (the paper keeps one representative per
    near-dup set; lowest-id-wins is the deterministic tie-break this repo
    uses everywhere). Note the rule is PAIRWISE lowest-id-wins — a vector
    survives unless some lower id is directly similar to it — which is
    NOT the transitive component keep-first of dedup_near_keep_first
    (edges 3–5, 4–5: this keeps {3, 4}; component keep-first keeps {3}).
    The DuckDB oracle implements the same pairwise rule, so parity holds.

    Scale shape: the k-means reuses ``kmeans_assign`` (per-iteration cost
    = one k-row broadcast join + a dim-sized agg); the within-cell
    self-join shuffles on the cell key once and the cosine predicate is
    evaluated JVM-side (zip_with fold). The drop set joins back WITHOUT a
    broadcast hint — near-dup drop sets scale with the corpus (VERDICT r4
    made this exact mistake a named anti-pattern), so AQE decides.
    Real deployments push k up with corpus size to keep cells ~constant
    (the paper uses k=50k for LAION), which keeps |cell|² bounded."""
    # pin the assignment (2 ints per vector): base is referenced THREE
    # times below (both join sides + the final select) and each
    # reference would otherwise re-run the whole Lloyd training — the
    # identical diamond sim_ivf_learned/sim_centroid_outlier already
    # checkpoint (r7: the count()-pruned sweep had hidden the replay;
    # the noop-write sweep measured 9.9 s → 4.3 s with the pin)
    assigned = (
        kmeans_assign(
            corpus, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col
        )
        .select("vec_id", "cell")
        .localCheckpoint(eager=True)
    )
    base = corpus.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    ).join(assigned.select("vec_id", "cell"), "vec_id")
    # hoist the L2 norm to ONE fold per row: higher-order functions run
    # interpreted (outside codegen), and `cosine()` per pair costs five
    # 64-element traversals (two casts + dot + two norms) — on |cell|²/2
    # pairs that interpreted fold dominated the whole query (r7
    # noop-sweep finding: 9.9 s at sf0.1, ~2× faster with per-row
    # norms). The arithmetic is bit-identical: same x*x fold on the same
    # double array, same dot/(na*nb) division order as cosine().
    base = base.withColumn("nv", norm(F.col("v")))
    a = base.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("av"),
        F.col("nv").alias("na"), "cell"
    )
    b = base.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("bv"),
        F.col("nv").alias("nb"), "cell"
    )
    pairs = a.join(b, "cell").filter(F.col("a_id") < F.col("b_id"))
    cos = F.round(
        dot(F.col("av"), F.col("bv")) / (F.col("na") * F.col("nb")), 6
    )
    drops = (
        pairs.filter(cos >= F.lit(threshold))
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return base.join(
        drops.select("vec_id", F.lit(False).alias("_drop")), "vec_id", "left"
    ).select(
        "vec_id",
        "cell",
        F.coalesce(F.col("_drop"), F.lit(True)).alias("kept"),
    )


def jl_projection_matrix(d_in: int = 64, d_out: int = 16) -> list[list[int]]:
    """Deterministic ±1 random-projection matrix (Achlioptas 2001 — the
    database-friendly Johnson–Lindenstrauss construction): entry (j, i)
    is +1 when the first hex digit of md5("jl|j:i") is ≥ 8, else −1.
    Pure function of the indices, so BOTH engines embed the same literal
    matrix — no runtime hashing in the row path."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"jl|{j}:{i}".encode()).hexdigest()[0], 16) >= 8
            else -1
            for i in range(d_in)
        ]
        for j in range(d_out)
    ]


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d_in: int = 64,
    d_out: int = 16,
) -> DataFrame:
    """Project embeddings to ``d_out`` dims with the ±1 JL matrix: each
    output dim is a ``zip_with``(vector, literal sign row) product fold —
    map-side, zero shuffle, and value-identical to an explicit signed sum
    (±1 multiplies are exact in IEEE; the fold adds in index order, the
    same order the DuckDB oracle's L2R expression uses, so the 6dp round
    lands on the same doubles).

    NOT the simhash16 generated-expression pattern: a 64-term Add chain
    per dim built that way measured 12 s for 500 rows (the ~3k-node
    expression tree per projection falls off every fast path) vs 0.15 s
    for these literal-array folds — 80×. At 100 TB this operator is the
    standard shrink-the-distance step: 4× fewer multiplies per candidate
    pair downstream, 4× smaller vectors in every shuffle carrying them."""
    R = jl_projection_matrix(d_in, d_out)
    base = df.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    )

    def dim_expr(j: int):
        lits = F.array(*[F.lit(float(s)) for s in R[j]])
        return F.round(
            F.aggregate(
                F.zip_with(F.col("v"), lits, lambda x, s: x * s),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )

    return base.select(
        "vec_id", "v", F.array(*[dim_expr(j) for j in range(d_out)]).alias("p")
    )


def random_projection_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    rerank_factor: int = 3,
    d_in: int = 64,
    d_out: int = 16,
) -> DataFrame:
    """Two-stage ANN: rank candidates by cosine in the cheap JL-projected
    space, shortlist ``rerank_factor × k`` per query, then RERANK the
    shortlist with exact full-dimension cosine — the classic
    coarse-then-exact pattern (same shape as the int8 quantize+rerank at
    operators/similarity.py:345, with dimensionality instead of
    precision as the cheap axis).

    Scale shape: stage 1 shuffles only (query_id, cand_id, projected
    cos) — never the full vectors; the rerank joins the per-query
    shortlist (≤ rerank_factor × k rows per query) back to the corpus on
    the id, hint-free, so AQE broadcasts whichever side measures small.
    Rank orders are (rounded cos, cand_id) on both stages so float sum
    order can't flip them."""
    from pyspark.sql import Window

    c = random_projection(corpus, id_col, vec_col, d_in, d_out).select(
        F.col("vec_id").alias("cand_id"), F.col("p").alias("cp")
    )
    q = random_projection(queries, id_col, vec_col, d_in, d_out).select(
        F.col("vec_id").alias("query_id"), F.col("p").alias("qp")
    )
    coarse = c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id")).select(
        "query_id",
        "cand_id",
        F.round(cosine(F.col("qp"), F.col("cp")), 6).alias("pcos"),
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("cand_id"))
    shortlist = (
        coarse.withColumn("prank", F.row_number().over(w1))
        .filter(F.col("prank") <= rerank_factor * k)
        .select("query_id", "cand_id")
    )
    cv = corpus.select(
        F.col(id_col).alias("cand_id"), _to_double(F.col(vec_col)).alias("cv")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    )
    exact = (
        shortlist.join(cv, "cand_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "cand_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
    )


def rrf_fusion_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int = 10,
    k: int = 5,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of two retrieval rankings — the standard hybrid-search combiner
    (every vector+keyword search stack ships it): per query, fuse the
    exact-cosine top-``n`` with the int8-quantized-dot-product top-``n``
    by ``rrf = Σ 1/(c + rank)``, a candidate absent from one list
    contributing 0, and keep the top-``k`` by (rrf desc, id).

    Parity shape: ranks are integers from total orders already proven
    cross-engine (rounded cosine ranking = sim_bruteforce_topk; EXACT
    integer quantized dot = sim_quantized_rerank's stage one), and the
    fused score is a two-term sum of 1/(c+rank) — fixed expression tree,
    rounded to 6dp BEFORE the final rank so float order can't flip it.

    Scale shape: both rankings broadcast the small query side against
    the corpus scan and take per-query top-n via a query-partitioned
    window (parallel per query); the fusion is a full-outer join of two
    queries×n frames — negligible — and the quantized branch scans 4×
    fewer bytes per candidate, which is why a fleet fuses it with the
    exact ranking instead of running exact twice."""
    from pyspark.sql import Window

    a = brute_force_topk(corpus, queries, id_col, vec_col, k=n).select(
        "query_id", "cand_id", F.col("rank").alias("rank_a")
    )
    grid = dim_min_max(corpus, vec_col)
    codes = quantize_with_grid(corpus, grid, id_col, vec_col).select(
        F.col(id_col).alias("cand_id"), F.col("q").alias("cq")
    )
    qcodes = quantize_with_grid(queries, grid, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("q").alias("qq")
    )
    qdot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wb = Window.partitionBy("query_id").orderBy(
        F.desc("qscore"), F.asc("cand_id")
    )
    b = (
        codes.join(F.broadcast(qcodes), F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", qdot.alias("qscore"))
        .withColumn("rank_b", F.row_number().over(wb).cast("long"))
        .filter(F.col("rank_b") <= n)
        .select("query_id", "cand_id", "rank_b")
    )
    fused = a.join(b, ["query_id", "cand_id"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(c) + F.col("rank_a")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("rank_b")), F.lit(0.0))
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("cand_id"))
    return (
        fused.withColumn("rrf", F.round(rrf, 6))
        .withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("fused_rank") <= k)
        .select("query_id", "cand_id", "rank_a", "rank_b", "rrf", "fused_rank")
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Contrastive hard-negative mining (r8): for each anchor, the top-k
    most-similar candidates with a DIFFERENT label — the pairs a
    contrastive/embedding trainer wants in the batch because they sit
    closest to the decision boundary (the in-batch-negatives upgrade
    every retrieval-training pipeline ships).

    Norms are hoisted to ONE fold per row on each side before the pair
    join (the r7 semdedup rule: interpreted HOF folds inside a pair
    predicate re-run per pair); the pair expression is then a single
    zip_with dot over presented arrays. Anchors broadcast (query sets
    are small); ranking is per-anchor rounded-cosine with id tie-break."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        _to_double(F.col(vec_col)).alias("qvec"),
        F.col(label_col).alias("qlabel"),
        norm(_to_double(F.col(vec_col))).alias("qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        _to_double(F.col(vec_col)).alias("cvec"),
        F.col(label_col).alias("clabel"),
        norm(_to_double(F.col(vec_col))).alias("cnorm"),
    )
    scored = c.join(
        F.broadcast(q), F.col("qlabel") != F.col("clabel")
    ).select(
        "query_id",
        "cand_id",
        F.round(
            dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")),
            6,
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def kcenter_greedy(
    corpus: DataFrame,
    k: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 2-approximation;
    the geometric data-pruning selector — "pick the k most mutually
    distant exemplars"): seed with the lowest-id vector, then repeat
    k−1 times: select the point with the MAXIMUM distance to its nearest
    already-chosen center.

    Determinism/parity rules: distances are squared-L2 doubles ROUNDED
    TO THE 9dp LATTICE at every update (the CLAUDE.md float-bound rule —
    comparisons against raw doubles drift between engines), argmax ties
    break on ascending id, and the maintained min-distance column folds
    with least() so update order is irrelevant.

    Scale shape: the per-round state is ONE double per corpus row
    (min-dist-to-centers), localCheckpoint-ed each round (two consumers:
    the argmax and the next update — the iterative-state rule); each
    round's chosen center is a 1-row sink-sized collect whose embedding
    re-enters the plan as LITERAL doubles (the JL literal-array rule:
    64 literals fold into one codegen'd zip_with, no join). Total work
    is k linear scans — exactly how a production coreset pass runs."""
    ev = corpus.select(
        F.col(id_col).alias("vid"), _to_double(F.col(vec_col)).alias("v")
    )
    seed = ev.orderBy("vid").limit(1).collect()[0]
    sel = [(1, int(seed["vid"]), None)]

    def d2_to(lit_vec: list[float]) -> Column:
        arr = F.array(*[F.lit(float(x)) for x in lit_vec])
        return F.round(_sq_l2(F.col("v"), arr), 9)

    state = (
        ev.filter(F.col("vid") != int(seed["vid"]))
        .select("vid", "v", d2_to(list(seed["v"])).alias("md"))
        .localCheckpoint(eager=True)
    )
    for r in range(2, k + 1):
        far = state.orderBy(F.desc("md"), F.asc("vid")).limit(1).collect()[0]
        sel.append((r, int(far["vid"]), float(far["md"])))
        if r == k:
            break
        state = (
            state.filter(F.col("vid") != int(far["vid"]))
            .select(
                "vid",
                "v",
                F.least(F.col("md"), d2_to(list(far["v"]))).alias("md"),
            )
            .localCheckpoint(eager=True)
        )
    spark = corpus.sparkSession
    out = spark.createDataFrame(
        sel, "sel_rank long, vec_id long, dist_sq double"
    )
    return out.select(
        "sel_rank", "vec_id", F.round("dist_sq", 6).alias("dist_sq")
    )


def mmr_rerank(
    corpus: DataFrame,
    query_id: int = 0,
    shortlist_n: int = 10,
    k: int = 5,
    lam: float = 0.7,
    mu: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98 — the diversity-aware second stage of every two-stage
    retrieval): shortlist the top-``shortlist_n`` by query cosine, then
    greedily pick k items maximizing λ·sim(q,d) − μ·max_{s∈S}
    sim(d,s). ``mu`` is an INDEPENDENT literal, not ``1.0 - lam``:
    the oracle hardcodes the same decimal (0.3), and the double
    nearest 0.3 differs from ``1.0 - 0.7`` by 1 ulp — computing it
    would break the fixed-tree-identical-literal convention (ADVICE
    r8) and can flip exact 0.5e-6 lattice ties per engine.

    Parity rules: every cosine lands on the 6dp lattice BEFORE the MMR
    arithmetic, the MMR score is one fixed-tree expression rounded 6 IN
    ENGINE (never Python's banker-rounding round()), ties break on
    ascending id. Scale shape: the corpus-wide stage is the shortlist
    scan (query vector enters as literals — one codegen'd fold per
    row); the greedy loop then runs over the shortlist-sized frames
    only (shortlist² pair sims, k tiny argmax jobs) — exactly the
    head-node rerank of a production retrieval stack, with both small
    frames localCheckpoint-ed for their per-round consumers."""
    ev = corpus.select(
        F.col(id_col).alias("cand_id"), _to_double(F.col(vec_col)).alias("v")
    )
    qrow = ev.filter(F.col("cand_id") == query_id).collect()[0]
    qarr = F.array(*[F.lit(float(x)) for x in qrow["v"]])
    simq = F.round(
        dot(qarr, F.col("v")) / (norm(qarr) * norm(F.col("v"))), 6
    )
    cands = (
        ev.filter(F.col("cand_id") != query_id)
        .select("cand_id", "v", simq.alias("simq"))
        .orderBy(F.desc("simq"), F.asc("cand_id"))
        .limit(shortlist_n)
        .localCheckpoint(eager=True)
    )
    a = cands.select(F.col("cand_id").alias("a"), F.col("v").alias("va"))
    b = cands.select(F.col("cand_id").alias("b"), F.col("v").alias("vb"))
    pairs = (
        a.join(b, F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (norm(F.col("va")) * norm(F.col("vb"))),
                6,
            ).alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    selected: list[int] = []
    out: list[tuple] = []
    for r in range(1, k + 1):
        elig = cands.filter(~F.col("cand_id").isin(selected or [-1]))
        if not selected:
            scored = elig.select(
                "cand_id", F.round(lam * F.col("simq"), 6).alias("mmr")
            )
        else:
            pen = (
                pairs.filter(F.col("b").isin(selected))
                .groupBy("a")
                .agg(F.max("s").alias("mp"))
            )
            scored = elig.join(
                pen, elig["cand_id"] == pen["a"]
            ).select(
                "cand_id",
                F.round(
                    lam * F.col("simq") - mu * F.col("mp"), 6
                ).alias("mmr"),
            )
        pick = scored.orderBy(F.desc("mmr"), F.asc("cand_id")).limit(1).collect()[0]
        selected.append(int(pick["cand_id"]))
        out.append((r, int(pick["cand_id"]), float(pick["mmr"])))
    return corpus.sparkSession.createDataFrame(
        out, "sel_rank long, cand_id long, mmr_score double"
    )


def sign_bit_fingerprints(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """1-bit (sign) quantization of an embedding column — the most
    aggressive point on the quantization curve (64× smaller than fp32;
    int8 twin: :func:`quantize_int8`): bit i = 1 iff ``v[i] > 0``,
    packed into two 32-bit words ``(sig_lo, sig_hi)`` so dim-64 vectors
    never touch the BIGINT sign bit and hamming distance is
    ``bit_count(lo⊕lo') + bit_count(hi⊕hi')``.

    The packing is a per-row map-side 32-term sum with the bit weights
    ``1<<i`` folded in as LITERAL longs (32 Add nodes — well under the
    r6 expression-chain threshold; the double-cast vector is
    materialized ONCE in a sub-select so the 64 element_at terms don't
    each re-run the cast, the split() trap from SCALING.md) — no
    shuffle, no UDF; the 16-byte signature is what ships to the ANN
    index at 100 TB (the corpus scan reads only the two packed columns
    thereafter)."""
    base = corpus.select(
        F.col(id_col), _to_double(F.col(vec_col)).alias("v")
    )

    def pack(lo: int, hi: int) -> Column:
        terms = [
            F.when(
                F.element_at(F.col("v"), i + 1) > 0.0,
                F.lit(1 << (i - lo)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(lo, hi)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    return base.select(
        F.col(id_col),
        pack(0, 32).alias("sig_lo"),
        pack(32, 64).alias("sig_hi"),
    )


def sign_bit_ann(
    corpus: DataFrame,
    query_id: int = 0,
    shortlist_n: int = 32,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN over 1-bit sign signatures: hamming-distance
    shortlist on the packed 16-byte fingerprints (charikar-style — the
    sign of each coordinate IS a fixed hyperplane; random-plane twin:
    :func:`hyperplane_lsh_neardups`), then exact-cosine rerank of the
    ``shortlist_n`` survivors, top-``k`` under (cos desc, id asc).

    Scale shape: the hamming stage scans ONLY the packed signature
    columns (two longs/row — at 100 TB this is the entire point: the
    fp32 vectors are read back for just ``shortlist_n`` rows via the
    candidate semi-join); both stages are TakeOrderedAndProject top-k,
    never a full sort; the query's signature and vector enter as
    literals (one codegen'd fold per row, the mmr_rerank pattern).
    Determinism: hamming is integer-exact, the shortlist order is the
    total (hamming asc, id asc), cosines are 6dp-rounded before the
    final (cos desc, id asc) rank."""
    sigs = sign_bit_fingerprints(corpus, id_col=id_col, vec_col=vec_col)
    qsig = sigs.filter(F.col(id_col) == query_id).collect()[0]
    qrow = (
        corpus.filter(F.col(id_col) == query_id)
        .select(_to_double(F.col(vec_col)).alias("v"))
        .collect()[0]
    )
    qarr = F.array(*[F.lit(float(x)) for x in qrow["v"]])
    shortlist = (
        sigs.filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            (
                F.bit_count(
                    F.col("sig_lo").bitwiseXOR(F.lit(int(qsig["sig_lo"])))
                )
                + F.bit_count(
                    F.col("sig_hi").bitwiseXOR(F.lit(int(qsig["sig_hi"])))
                )
            ).alias("hamming"),
        )
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(shortlist_n)
    )
    vecs = corpus.select(
        F.col(id_col), _to_double(F.col(vec_col)).alias("v")
    )
    return (
        shortlist.join(vecs, id_col)
        .select(
            F.col(id_col),
            "hamming",
            F.round(
                dot(qarr, F.col("v")) / (norm(qarr) * norm(F.col("v"))), 6
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def _route_residuals(base: DataFrame, coarse: DataFrame) -> DataFrame:
    """Route each ``(vec_id, v)`` row to its nearest coarse cell
    (``_nearest_cell``), re-attach the k-row centroid table (broadcast;
    the pick drops the centroid array) and form the residual
    ``v − c_cell`` → ``(vec_id, cell, rv)``, eagerly pinned: it feeds
    the m subspace trains or assignments plus the cell re-attach (the
    iterative-state multi-consumer rule)."""
    return (
        _nearest_cell(base, coarse)
        .select("vec_id", "cell", "v")
        .join(F.broadcast(coarse), "cell")
        .select(
            "vec_id",
            "cell",
            F.zip_with(F.col("v"), F.col("c"), lambda x, y: x - y).alias(
                "rv"
            ),
        )
        .localCheckpoint(eager=True)
    )


def _ivfpq_route_residuals(
    corpus: DataFrame,
    k_coarse: int,
    iterations: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared IVF-PQ front end: train the coarse quantizer (pinned — it
    tops the iterative Lloyd tree) and route every vector through
    ``_route_residuals``. Returns ``(coarse, routed)``."""
    base = corpus.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    )
    coarse = kmeans_centroids(
        corpus, k=k_coarse, iterations=iterations, id_col=id_col,
        vec_col=vec_col,
    ).localCheckpoint(eager=True)
    return coarse, _route_residuals(base, coarse)


def _ivfpq_codes(
    routed: DataFrame,
    m: int,
    sub_dim: int,
    k_pq: int,
    iterations: int,
) -> DataFrame:
    """Per-subspace residual PQ with the coarse cell re-attached → long
    form ``(vec_id, cell, subspace, pq_cell, dist)``. All m residual
    trains run as one ``_subspace_kmeans_assign`` chain over the
    subspace-tagged residual slice stream — one scan of the (pinned)
    routed frame per Lloyd pass."""
    codes = _subspace_kmeans_assign(
        routed.select("vec_id", F.col("rv").alias("v")),
        m, sub_dim, k_pq, iterations,
    ).select(
        "vec_id", "subspace", F.col("cell").alias("pq_cell"), "dist"
    )
    return routed.select("vec_id", "cell").join(codes, "vec_id")


def ivfpq_residual_codes(
    corpus: DataFrame,
    k_coarse: int = 4,
    m: int = 2,
    sub_dim: int = 32,
    k_pq: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ residual encoding (Jégou et al., TPAMI 2011 §IV — the
    composition FAISS ships as IndexIVFPQ, the production ANN index):
    a coarse quantizer routes each vector to a cell, and product
    quantization encodes the RESIDUAL ``v − c_cell`` instead of the
    raw vector — residuals concentrate near 0, so the same m·k_pq
    codebook budget quantizes far finer than raw-vector PQ.

    Output is long form ``(vec_id, cell, subspace, pq_cell, dist)`` —
    the coarse routing and the per-subspace residual code for every
    vector; ``dist`` is the residual subspace's rounded squared-L2 to
    its codebook centroid (the assignment's own ranking value).

    Determinism/parity: the coarse quantizer is ``kmeans_centroids``'
    6dp-lattice Lloyd; the residual is an element-wise IEEE subtract of
    a raw double and a 6dp-lattice double (no summation → no order
    sensitivity → bit-identical cross-engine); the per-subspace
    codebooks train on residual slices with the SAME lattice recipe,
    so a DuckDB oracle replays coarse train → residual → PQ train
    CTE by CTE.

    100 TB: coarse train + one broadcast assignment pass (the
    ``build_ivf_index`` shape), residuals are map-side zip_with, each
    PQ train is Lloyd over ``sub_dim``-wide slices; the emitted codes
    are 2+m small ints per vector — the scan artifact."""
    _coarse, routed = _ivfpq_route_residuals(
        corpus, k_coarse, iterations, id_col, vec_col
    )
    return _ivfpq_codes(routed, m, sub_dim, k_pq, iterations)


def ivfpq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k_coarse: int = 4,
    m: int = 2,
    sub_dim: int = 32,
    k_pq: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk: int = 3,
    probe: int = 1,
) -> DataFrame:
    """IVF-PQ search with asymmetric distance, one shot: train the
    coarse quantizer and route the corpus once, train and assign the
    residual codes with their coarse cell (``_ivfpq_codes``), recompute
    each subspace's residual codebook as the 6dp-rounded per-dim means
    of its final members (the ``pq_adc_topk`` recompute convention,
    which the oracle replays with the same cent CTEs as
    sim_pq_adc_topk), then search them with the index read path
    ``ivfpq_index_adc_topk`` at ``probe``. The one-shot search IS the
    index search over these recomputed codebooks.

    The coarse train and the corpus routing run ONCE and feed both the
    encoder and the codebook recompute (calling the encoder and then
    re-training coarse for routing executed the whole coarse Lloyd
    twice — measured 6.5 s → 4.3 s min-of-2 at sf0.1)."""
    coarse, routed = _ivfpq_route_residuals(
        corpus, k_coarse, iterations, id_col, vec_col
    )
    # pin the codes: the search pivots them and the recompute joins them,
    # and their Lloyd trees are expensive
    codes = _ivfpq_codes(
        routed, m, sub_dim, k_pq, iterations
    ).localCheckpoint(eager=True)
    cents = _recomputed_codebooks(
        routed.select("vec_id", F.col("rv").alias("v")), codes, "pq_cell",
        sub_dim,
    )
    return ivfpq_index_adc_topk(
        coarse, cents, codes, queries, m, sub_dim, id_col, vec_col, topk,
        probe,
    )


def delete_from_vector_index(
    rows: DataFrame,
    deletes: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Retract vectors from a persisted ANN index — the vector twin of
    the dedup-index deletion (r15, completing the persisted-index
    family's CRUD surface: build / apply / search / delete for every
    member). Works uniformly on IVF postings ``(vec_id, cell)``, PQ
    codes ``(vec_id, subspace, cell)`` and IVF-PQ codes ``(vec_id,
    cell, subspace, pq_cell)`` because ANN index rows are PER-VECTOR:
    unlike the dedup indexes there is no keeper to re-elect and no
    compaction to repair — retraction is exactly "this vector's rows
    disappear", and the result equals a from-scratch encode of
    corpus-minus-deleted under the same frozen quantizers (assignment
    is per-vector, so removing one vector cannot move another's code).

    100 TB shape: one anti-join, no read of any raw vector. The id set
    is NOT hint-broadcast — the batch is caller-controlled (the
    registered query deliberately feeds a corpus-proportional one), so
    AQE picks from RUNTIME sizes: a routine retraction batch broadcasts
    into a map-side anti-join, while an oversized one degrades to a
    shuffle join instead of an 8 GB broadcast abort (the semdedup
    drop-set convention; contrast the dedup delete twins, whose
    re-election machinery documents and relies on a delete-sized
    broadcast contract). Deleting ids absent from the index is a no-op
    (idempotent retraction). The frozen quantizers are untouched:
    deletion never justifies a retrain any more than an append does
    (the drift monitor ``ivf_assignment_drift`` is the retrain signal
    either way)."""
    del_ids = deletes.select(F.col(id_col).alias("vec_id")).distinct()
    return rows.join(del_ids, "vec_id", "left_anti")


def _frozen_codes_on_routed(
    routed: DataFrame,
    codebooks: DataFrame,
    m: int,
    sub_dim: int,
) -> DataFrame:
    """Assign an already-routed residual frame ``(vec_id, cell, rv)``
    against FROZEN per-subspace codebooks → ``(vec_id, cell, subspace,
    pq_cell)``. The slice assignment is the broadcast in-row argmin
    against the m·k_pq codebook rows; the coarse cell rides back on via
    the id join.

    r17: the m per-subspace ``_nearest_cell`` passes (each a scan of
    the routed frame) fuse into ONE ``_nearest_cell_per_subspace`` pass
    — per-row picks bit-identical."""
    cb = codebooks.select(
        "subspace", F.col("pq_cell").alias("cell"), F.col("cent").alias("c")
    )
    out = _nearest_cell_per_subspace(
        _subspace_slices(
            routed.select("vec_id", F.col("rv").alias("v")), m, sub_dim
        ),
        cb,
    ).select("vec_id", "subspace", F.col("cell").alias("pq_cell"))
    return routed.select("vec_id", "cell").join(out, "vec_id").select(
        "vec_id", "cell", "subspace", "pq_cell"
    )


def _assign_ivfpq_codes(
    coarse: DataFrame,
    codebooks: DataFrame,
    df: DataFrame,
    m: int = 2,
    sub_dim: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors against a FROZEN IVF-PQ quantizer pair: route each
    vector to its nearest coarse cell (rounded squared-L2, cell-id
    tie-break — the ``_nearest_cell`` contract), form the residual
    ``v − c_cell``, and assign every ``sub_dim``-wide residual slice to
    its nearest frozen per-subspace codebook centroid → long form
    ``(vec_id, cell, subspace, pq_cell)``.

    Both quantizer tables broadcast (k_coarse rows + m·k_pq rows), so
    cost is rows × (k_coarse + m·k_pq) regardless of how much history
    the index holds — the persisted-index family's delta-cost
    contract. Routing is ``_route_residuals``, the same pinned router
    the build uses."""
    base = df.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("v")
    )
    return _frozen_codes_on_routed(
        _route_residuals(base, coarse), codebooks, m, sub_dim
    )


def build_ivfpq_index(
    corpus: DataFrame,
    k_coarse: int = 4,
    m: int = 2,
    sub_dim: int = 32,
    k_pq: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Resumable IVF-PQ index, build step: ``(coarse, codebooks,
    codes)`` — the composed member of the persisted-index family
    (exact-hash, LSH-band, IVF, PQ, now IVF-PQ). ``coarse`` is the
    frozen routing quantizer (``cell``, ``c``); ``codebooks`` is the
    frozen per-subspace RESIDUAL quantizer (``subspace``, ``pq_cell``,
    ``cent``) — trained on ``v − c_cell`` exactly like
    ``ivfpq_residual_codes`` (Jégou et al., TPAMI 2011 §IV, the FAISS
    IndexIVFPQ composition); ``codes`` is one ``(vec_id, cell,
    subspace, pq_cell)`` row per (base vector, subspace). All three
    parquet-persist; resuming NEVER retrains either quantizer
    (retraining the coarse would re-route every stored residual,
    retraining a codebook would re-lattice every stored code — a
    DOUBLE invalidation, which is why FAISS freezes both at add()
    time).

    ``codes`` comes from ``_frozen_codes_on_routed`` against the frozen
    codebooks — the SAME slice-assignment every future delta takes
    (``apply_ivfpq_index`` = route + that helper; the build skips the
    re-route because it already holds the pinned routed frame and
    routing against the frozen coarse is deterministic) — rather than
    the training pass's own final assignment; ``kmeans_centroids``
    returns the generation ``kmeans_assign`` ranks against, so the two
    coincide (asserted by the resume-equals-from-scratch tests) and
    the build/apply split point is provably arbitrary.

    100 TB: one coarse Lloyd train + one broadcast routing pass, m
    residual Lloyd trains over ``sub_dim``-wide slices, and the
    persisted codes are 1+m small ints per vector — the scan artifact
    ANN reads stream instead of raw vectors."""
    coarse, routed = _ivfpq_route_residuals(
        corpus, k_coarse, iterations, id_col, vec_col
    )
    # r17: one fused _subspace_kmeans_centroids chain over the pinned
    # routed residuals replaces the m independent kmeans_centroids
    # trees (one routed scan per Lloyd pass instead of m)
    cb = _subspace_kmeans_centroids(
        routed.select("vec_id", F.col("rv").alias("v")),
        m, sub_dim, k_pq, iterations,
    ).select(
        "subspace",
        F.col("cell").alias("pq_cell"),
        F.col("c").alias("cent"),
    ).localCheckpoint(eager=True)
    # the build reuses ITS OWN routed frame (already pinned) instead of
    # re-routing through _assign_ivfpq_codes — routing against the
    # frozen coarse is deterministic, so the result is identical and
    # the coarse broadcast-argmin pass runs once, not twice
    codes = _frozen_codes_on_routed(routed, cb, m, sub_dim)
    return coarse, cb, codes


def apply_ivfpq_index(
    coarse: DataFrame,
    codebooks: DataFrame,
    delta: DataFrame,
    m: int = 2,
    sub_dim: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Resume an IVF-PQ index from its persisted frozen quantizers:
    route + residual-encode a delta batch against them and return the
    delta codes — append to the saved codes to get the updated index.
    Assignment is per-vector against broadcast quantizers, so resume ≡
    from-scratch encoding for ANY arrival order or batch split; cost is
    delta × (k_coarse + m·k_pq), independent of indexed history."""
    return _assign_ivfpq_codes(
        coarse, codebooks, delta, m, sub_dim, id_col, vec_col
    )


def ivfpq_index_adc_topk(
    coarse: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    m: int = 2,
    sub_dim: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk: int = 3,
    probe: int = 1,
) -> DataFrame:
    """Search a persisted ``(coarse, codebooks, codes)`` IVF-PQ index —
    the read path after any number of ``apply_ivfpq_index`` appends:
    route each query to its ``probe`` nearest coarse cells by the SAME
    rounded-L2 argmin the corpus was assigned under, compute the query
    residual PER PROBED CELL (residual LUTs are cell-dependent — the
    defining IVF-PQ subtlety), LUT against the FROZEN residual
    codebooks, and score only the probed cells' stored codes: adc =
    Σ_j LUT[cell, j, code_j]; global (adc asc, id asc) top-k per query
    across probed cells.

    LUTs use whatever residual codebooks the caller passes: for a
    persisted index, the frozen quantizers the stored codes were
    assigned under (centroid means recomputed from current assignments
    drift as deltas append); the one-shot ``ivfpq_adc_topk`` is this
    search over codebooks recomputed from its own final assignment.

    100 TB: candidates stream (cell, m codes) per vector; the probed-
    cell pruning is the broadcast LUT join on cell (only probed cells
    have LUT rows, so the join drops every unprobed cell map-side),
    LUTs are queries × probe × m × k_pq rows and BROADCAST, and no
    candidate's raw vector is ever touched."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    )
    qdist = F.round(_sq_l2(F.col("qv"), F.col("c")), 6)
    wq = Window.partitionBy("query_id").orderBy("qd", "cell")
    qrouted = (
        q.join(F.broadcast(coarse))
        .select(
            "query_id",
            "cell",
            qdist.alias("qd"),
            F.zip_with(F.col("qv"), F.col("c"), lambda x, y: x - y).alias(
                "qres"
            ),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= probe)
        .select("query_id", "cell", "qres")
    )
    # Wide code row via ONE conditional-aggregation pivot (r17): the
    # stored codes are one row per (vec_id, subspace) with a constant
    # coarse cell per vec_id, so max() recovers both exactly; one
    # exchange replaces the (m-1) vec_id self-joins and the persisted
    # code table is scanned once instead of m times (guide §2.4).
    wide = codes.groupBy("vec_id").agg(
        F.max("cell").alias("cell"),
        *[
            F.max(F.when(F.col("subspace") == j, F.col("pq_cell"))).alias(
                f"c{j}"
            )
            for j in range(m)
        ],
    )
    luts = []
    for j in range(m):
        cents = codebooks.filter(F.col("subspace") == j).select(
            F.col("pq_cell").alias(f"c{j}"), F.col("cent")
        )
        qsub = qrouted.select(
            "query_id",
            "cell",
            F.slice(F.col("qres"), j * sub_dim + 1, sub_dim).alias("qs"),
        )
        d2 = F.round(_sq_l2(F.col("qs"), F.col("cent")), 6)
        luts.append(
            qsub.join(F.broadcast(cents)).select(
                "query_id", "cell", f"c{j}", d2.alias(f"d{j}")
            )
        )
    scored = wide  # (vec_id, cell, c0..c{m-1})
    for j, lut in enumerate(luts):
        keys = (
            ["cell", f"c{j}"] if j == 0 else ["query_id", "cell", f"c{j}"]
        )
        scored = scored.join(F.broadcast(lut), keys)
    adc = F.round(_adc_fold(m), 6)
    scored = scored.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        "cell",
        adc.alias("adc"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("cand_id"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= topk)
