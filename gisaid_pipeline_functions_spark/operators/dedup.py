"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): the reference's
pipeline *presupposes* an external dereplication step (USEARCH cluster
files consumed at Time_Series.py:471–478 but never produced in-repo);
these operators make dedup native.

Design for 100 TB:
- All hashing is ``md5`` (JVM-side, codegen'd) — portable across engines
  (the DuckDB oracle computes identical values), no Python in the path.
- Exact dedup: one hash-groupBy — the canonical map-side-combinable
  aggregation; shuffles only (hash, count) pairs, never document bodies.
- MinHash: shingles explode once, ONE groupBy computes all H min-hashes
  as H aggregate expressions (no H-fold re-scan).
- LSH: band signatures → self-equi-join on (band, signature). The join is
  on a high-cardinality hash key, so it shuffles evenly; candidate pairs
  are a vanishing fraction of n².
- SimHash: bit votes via generated native expressions over the exploded
  words; no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .layout import spread


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, distinct: bool = True
) -> DataFrame:
    """Word k-gram shingles, one row per (id, shingle).

    The word array is materialized as a column FIRST so the shingle lambda
    references an attribute, not the ``split()`` expression — otherwise
    every ``element_at`` re-evaluates the split (3k× per doc).

    ``distinct=True`` (default) dedupes (id, shingle) — REQUIRED for
    intersection counting (jaccard/containment). Signature-only consumers
    should pass ``distinct=False``: ``min()`` in MinHash is
    duplicate-insensitive, and the distinct is a full extra shuffle of
    every shingle row (measured 13% off the whole LSH pipeline at sf0.1,
    identical output)."""
    words = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("w")
    )
    w = F.col("w")
    # guard: sequence(0, negative) would generate a DESCENDING range for
    # docs shorter than k words — emit an empty array instead
    shingle = F.when(F.size(w) >= k, F.transform(
        F.sequence(F.lit(0), F.size(w) - k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(k)]
        ),
    )).otherwise(F.array().cast("array<string>"))
    out = words.select("id", F.explode(shingle).alias("shingle")).filter(
        F.length("shingle") > 0
    )
    return out.distinct() if distinct else out


def benchmark_contamination(
    corpus_shingles: DataFrame, bench_shingles: DataFrame
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM n-gram-overlap check):
    for every corpus document, how many benchmark documents share at least
    one word k-gram with it. Inputs are ``word_shingles`` outputs.

    Scale shape: the benchmark side is small by construction (eval sets,
    not corpora), so its shingle set BROADCASTS — the 100 TB corpus side
    is a map-side hash-join probe, and the only shuffle is the final
    groupBy on doc id. Never an all-pairs comparison."""
    hits = (
        corpus_shingles.alias("t")
        .join(
            F.broadcast(bench_shingles.alias("b")),
            F.col("t.shingle") == F.col("b.shingle"),
        )
        .select(
            F.col("t.id").alias("doc_id"), F.col("b.id").alias("bench_id")
        )
        .distinct()
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bench_hits")
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one group per distinct text,
    keeper = min id, n_copies = group size."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signatures(shingles: DataFrame, n_hashes: int = 8) -> DataFrame:
    """H min-hashes per id in ONE grouped pass.

    Hash family: each seeded ``md5(seed || '|' || shingle)`` yields FOUR
    independent 32-bit hashes (8-hex chunks), so H hashes cost ⌈H/4⌉ md5
    evaluations per shingle instead of H. Min over the hex chunk
    (lexicographic min of a uniform hash ≡ numeric min).
    """
    n_md5 = (n_hashes + 3) // 4
    seeded = shingles.select(
        "id",
        *[
            F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle"))).alias(f"h{s}")
            for s in range(n_md5)
        ],
    )
    aggs = [
        F.min(F.substring(f"h{h // 4}", (h % 4) * 8 + 1, 8)).alias(f"mh{h}")
        for h in range(n_hashes)
    ]
    return seeded.groupBy("id").agg(*aggs)


# Hot-bucket guard threshold for the bucket pair-generators (r18,
# guide §2.5; VERDICT r17 #1): a (band,sig)/variant/prefix-token bucket
# above this size is positionally CHUNKED so (a) no generated row's
# left-chunk slice exceeds this many elements and (b) a hot bucket's
# quadratic pair output is spread over ceil(n/cap) round-robin-scattered
# tasks instead of ONE. Sized so the guard never fires on
# doc-frequency-bounded corpora (test SFs peak at bucket sizes in the
# hundreds) while a degenerate exact-duplicate-heavy corpus at 100 TB
# (10⁶–10⁸ ids in one bucket — the normal case for dedup!) no longer
# funnels the whole pair expansion through a single straggler task.
_PAIR_BUCKET_CAP = 100_000


def bucket_pair_rows(
    buckets: DataFrame,
    ids_col: str,
    a_name: str,
    b_name: str,
    cap: int = _PAIR_BUCKET_CAP,
) -> DataFrame:
    """All ordered element pairs ``(arr[i], arr[j]), i < j`` of each
    bucket's sorted array — the r17 two-step-explode pair generator,
    shared by the four bucket sites (LSH bands, PPJoin prefix tokens,
    deletion variants, mllib truth shingles), now with a hot-bucket
    guard.

    Normal buckets (size ≤ cap) run the r17 shape unchanged:
    ``posexplode`` the array, ``explode`` the per-position tail slice.
    A bucket LARGER than cap is split into ⌈n/cap⌉ positional chunk
    rows (chunk u owns source positions [u·cap, (u+1)·cap)); a keyless
    round-robin repartition scatters the chunk rows across the cluster,
    and each chunk row generates exactly the pairs whose LEFT element
    falls in its chunk — the same tail slice, started at the global
    position u·cap + i. The union over chunks partitions the i-range of
    the single-row generator, so the pair multiset is IDENTICAL (pair
    order is irrelevant: every consumer groups or distincts downstream).

    What the guard bounds and what it doesn't: the left elements per
    hot chunk row (≤ cap) and pair-generation parallelism (⌈n/cap⌉
    tasks, per-task output within 2× of the mean — the triangular tail
    skew). It does NOT bound per-row memory: every exploded left row, in
    both the ``lefts`` and ``hlefts`` branches, carries the whole
    ``ids_col`` array for its tail slice, so each row is O(n). The
    ``collect_list`` aggregation buffer upstream also holds the full
    bucket in one task (O(n) memory, ~16 MB at 10⁶ ids); splitting THAT
    would need a pre-aggregation count pass that re-evaluates the
    upstream pipeline — the exact 2× map CPU the r17 bucket rewrite
    removed — so it stays, documented, as a residual O(bucket-size)
    term. Both branches consume the same bucket-groupBy exchange
    (runtime ReusedExchange), so the upstream pipeline is still
    evaluated once.
    """
    arr = F.col(ids_col)
    n = F.size(arr)
    normal = buckets.filter(n <= F.lit(cap))
    lefts = normal.select(F.posexplode(ids_col).alias("_i", a_name), ids_col)
    normal_pairs = lefts.select(
        a_name,
        F.explode(
            F.slice(F.col(ids_col), F.col("_i") + F.lit(2), F.size(ids_col))
        ).alias(b_name),
    ).select(a_name, b_name)
    # hot branch: empty on doc-frequency-bounded data (filters to zero
    # rows right after the reused exchange — no extra pipeline pass)
    nchunks = F.floor((n - F.lit(1)) / F.lit(cap)).cast("int")
    hot = buckets.filter(n > F.lit(cap)).select(
        F.explode(F.sequence(F.lit(0), nchunks)).alias("_u"), ids_col
    )
    hot = hot.repartition(buckets.sparkSession.sparkContext.defaultParallelism)
    hlefts = hot.select(
        (F.col("_u") * F.lit(cap)).alias("_off"),
        F.posexplode(
            F.slice(F.col(ids_col), F.col("_u") * F.lit(cap) + F.lit(1), cap)
        ).alias("_i", a_name),
        ids_col,
    )
    hot_pairs = hlefts.select(
        a_name,
        F.explode(
            F.slice(
                F.col(ids_col),
                F.col("_off") + F.col("_i") + F.lit(2),
                F.size(ids_col),
            )
        ).alias(b_name),
    ).select(a_name, b_name)
    return normal_pairs.unionByName(hot_pairs)


def lsh_candidate_pairs(
    signatures: DataFrame, n_bands: int = 2, rows_per_band: int = 4
) -> DataFrame:
    """Banded LSH: docs sharing any band signature become candidate pairs.

    Collision threshold ≈ (1/B)^(1/R) — B=2, R=4 targets jaccard ≳ 0.84,
    i.e. true near-duplicates, keeping the candidate set tiny relative to
    n² even at 10⁹ documents.

    r17 (guide §2.4): pairs come from a bucket groupBy + in-row ordered
    pair generation, NOT the former ``stacked ⋈ stacked`` self-join on
    (band, sig). The self-join evaluated the whole shingle→md5→minhash
    pipeline TWICE (once per join side — the r16 final-plan audit showed
    0 ReusedExchange because the build side is a BroadcastExchange and
    the probe side a shuffle, which never unify), and its build side was
    a corpus-growing frame handed to the static planner's estimate. Now
    the pipeline is evaluated once: group ids per (band, sig) bucket
    (``array_sort(collect_list)``), then posexplode each bucket and
    explode the per-position tail slice — (ids[i], ids[j]) for i < j is
    EXACTLY the old ``a.id < b.id`` join condition on the same bucket
    members, so the pair set and per-pair band counts are identical
    (proven value-identical at sf0.01 and sf0.1 before the swap). The
    two-step explode keeps memory O(bucket) per row where a single
    flatten would materialize the O(bucket²) pair array in one row.
    Interleaved min-of-3 at sf0.1/local[32]: 1.045 → 0.981 s on the pair
    subplan — the real win is 2× off the dominant map CPU (one signature
    pipeline instead of two) plus no broadcast build of a corpus-growing
    frame. r18: pair generation moved to ``bucket_pair_rows``, which adds
    the hot-bucket chunking guard (see its docstring).
    """
    bands = []
    for b in range(n_bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        bands.append(
            signatures.select(
                "id",
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("sig"),
            )
        )
    stacked = bands[0]
    for df in bands[1:]:
        stacked = stacked.unionByName(df)
    buckets = (
        stacked.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = bucket_pair_rows(buckets, "ids", "id_a", "id_b")
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )


def jaccard_pairs(shingles: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard for a bounded candidate-pair set: shared-shingle
    counts via a two-sided join, |A∪B| = |A|+|B|−|A∩B|."""
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    sa = shingles.alias("sa")
    sb = shingles.alias("sb")
    inter = (
        pairs.join(sa, F.col("sa.id") == F.col("id_a"))
        .join(
            sb,
            (F.col("sb.id") == F.col("id_b"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .na.fill(0, ["n_inter"])
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_shingles", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_shingles", "nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )


def connected_components(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Transitive dedup clusters: connected components over a near-dup
    pair graph by iterative min-label propagation.

    Input: ``(id_a, id_b)`` undirected edges. Output: ``(id, component)``
    with component = min id reachable. Iterates to fixpoint (checked per
    round with a count — an *iterative algorithm*, the one place a driver
    loop is the algorithm, not an anti-pattern). Label propagation
    converges in O(graph diameter) rounds; near-dup graphs are
    overwhelmingly tiny cliques, so 2–3 rounds in practice. For web-scale
    graphs swap in the large-star/small-star contraction — same loop
    skeleton, fewer rounds.
    """
    both = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    # materialize the edge list ONCE: without this every iteration re-runs
    # the whole upstream pipeline that produced the edges (for near-dup
    # dedup that's the full MinHash+LSH join) — rounds × pipeline cost.
    # Standard practice for iterative graph algorithms; the edge list is
    # the small post-candidate-generation set, not the corpus.
    both = both.localCheckpoint(eager=True)
    labels = (
        both.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            both.join(labels, both.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # truncate lineage
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), "id")
            .filter(F.col("o.component") != F.col("n.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def connected_components_star(
    edges: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Web-scale connected components: alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — converges in O(log n) rounds vs label propagation's
    O(diameter), which is the difference between 5 rounds and thousands on
    chain-shaped graphs.

    large-star: every node's neighbors LARGER than it re-point to its
    minimum (neighbor ∪ self). small-star: on the resulting big→small
    edges, every node's smaller neighbors (and itself) point to its
    minimum. The fixpoint is a star forest rooted at each component's
    minimum id. Same output contract as ``connected_components``:
    (id, component=min reachable id) for every node appearing in an edge.
    """
    # canonicalize ONCE and materialize: everything below (the round-0
    # edge set AND the self-loop node audit) derives from this checkpoint,
    # so the upstream pair-generation pipeline — for near-dup dedup the
    # full MinHash+LSH join — runs exactly one time
    pairs = edges.select(
        F.least("id_a", "id_b").alias("s"), F.greatest("id_a", "id_b").alias("b")
    ).localCheckpoint(eager=True)
    e = (
        pairs.filter(F.col("s") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # nodes appearing ONLY in self-loop edges would vanish with the s != b
    # filter, diverging from connected_components (which emits (id, id) for
    # them) — remember them and union back at the end
    self_only = (
        pairs.filter(F.col("s") == F.col("b"))
        .select(F.col("s").alias("id"))
        .distinct()
        .join(
            e.select(F.col("s").alias("id"))
            .unionByName(e.select(F.col("b").alias("id")))
            .distinct(),
            "id",
            "left_anti",
        )
    )

    def _sig(df):
        # bit_xor: order-independent and overflow-free (ANSI mode throws
        # on a long SUM overflow)
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("s", "b")).alias("h"),
        ).first()
        return (r["n"], r["h"])

    prev_sig = _sig(e)
    for _ in range(max_iterations):
        # large-star over the symmetric view: m(u) = min(Γ(u) ∪ {u});
        # emit (v, m(u)) for v ∈ Γ(u), v > u
        sym = e.select(F.col("s").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("s").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on the big→small edges: m(u) = min(Γ(u) ∪ {u});
        # emit (v, m(u)) for the small neighbors plus (u, m(u))
        mins2 = ls.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        ss = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
        )
        new_e = (
            ss.select(
                F.least("u", "v").alias("s"), F.greatest("u", "v").alias("b")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # convergence via a one-job aggregate signature (count + hash xor)
        # instead of two exceptAll shuffles; a collision only costs one
        # wrong early exit with astronomically low probability
        new_sig = _sig(new_e)
        e = new_e
        if new_sig == prev_sig:
            break
        prev_sig = new_sig
    # fixpoint is a star forest: (b → s) with s the component min
    return (
        e.select(F.col("b").alias("id"), F.col("s").alias("component"))
        .unionByName(
            e.select(F.col("s").alias("id"), F.col("s").alias("component")).distinct()
        )
        .unionByName(self_only.select("id", F.col("id").alias("component")))
    )


def mllib_minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_distance_threshold: float = 0.55,
    num_hash_tables: int = 8,
    vocab_size: int = 1 << 18,
) -> DataFrame:
    """Spark MLlib's built-in MinHashLSH as the alternative near-dup path:
    word-shingle sets → HashingTF sparse vectors → approxSimilarityJoin.

    Results aren't oracle-comparable (MLlib's hash family is
    JVM-internal), so the driver gate is the recall contract in
    queries/dedup.py:dedup_mllib_minhash; the md5-portable pipeline above
    is the hash-matched one. Kept because at cluster scale the MLlib
    estimator gives bucketed join pruning with zero custom code — the
    idiomatic first reach.

    The distance threshold only post-filters bucket collisions, so it
    bounds the JOIN OUTPUT, not recall of the hash tables: 0.55 keeps
    every pair with measured similarity ≥ 0.45 — a 0.05 margin under the
    contract's exact-Jaccard ≥ 0.5 band against HashingTF collision
    distortion — and halves the join wall vs the old 0.9 (which dragged
    every sim ≥ 0.1 pair through the exact-distance post-filter)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = word_shingles(df, id_col, text_col).groupBy("id").agg(
        F.collect_list("shingle").alias("shingles")
    )
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=vocab_size, binary=True
    )
    feats = tf.transform(sh).filter(F.expr("size(shingles) > 0"))
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, jaccard_distance_threshold, distCol="jaccard_dist"
    )
    return (
        pairs.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.round(1 - F.col("jaccard_dist"), 6).alias("jaccard_sim"),
        )
    )


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash per document, fully native expressions and fully
    MAP-SIDE — no explode, no shuffle.

    Bit i's vote comes from hex digit i of each word's md5: digits 8..f
    (high bit set) vote +1, else −1; the fingerprint bit is 1 when the
    summed vote is positive. The word hashes are materialized once per row
    (``transform``), then one ``aggregate`` folds them into a 16-long vote
    vector with ``zip_with`` — per-document work only, which is exactly
    what a per-document fingerprint should be at 100 TB."""
    df = spread(df)  # 0.44× on dedup_simhash at sf0.1, local[32]
    hashes = F.transform(
        F.filter(F.split(F.col(text_col), " "), lambda w: F.length(w) > 0),
        lambda w: F.md5(w),
    )
    zeros = F.array_repeat(F.lit(0), 16)
    bitvotes = lambda h: F.transform(
        F.sequence(F.lit(1), F.lit(16)),
        lambda i: F.when(
            F.instr(F.lit("89abcdef"), F.substring(h, i.cast("int"), 1)) > 0, 1
        ).otherwise(-1),
    )
    votes = F.aggregate(
        hashes, zeros, lambda acc, h: F.zip_with(acc, bitvotes(h), lambda a, b: a + b)
    )
    staged = df.select(F.col(id_col).alias("id"), votes.alias("v"))
    sim = None
    for i in range(16):
        bit = F.when(F.element_at(F.col("v"), i + 1) > 0, F.lit(2**i)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return staged.select("id", sim.cast("long").alias("simhash"))


def containment_pairs(shingles: DataFrame, pairs: DataFrame) -> DataFrame:
    """Containment scores for a bounded candidate-pair set:
    C(A,B) = |A∩B| / |A| and C(B,A) = |A∩B| / |B| — the DIRECTIONAL
    near-dup/contamination metric (a small doc fully inside a big one has
    jaccard ≈ |small|/|big| ≈ 0 but containment ≈ 1; benchmark-leak
    checks care about exactly that case). Same two-sided shingle join as
    ``jaccard_pairs``; candidates must come from a bounded generator
    (LSH), never an all-pairs self-join."""
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    sa = shingles.alias("sa")
    sb = shingles.alias("sb")
    inter = (
        pairs.join(sa, F.col("sa.id") == F.col("id_a"))
        .join(
            sb,
            (F.col("sb.id") == F.col("id_b"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .na.fill(0, ["n_inter"])
        .join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed(
                "n_shingles", "na"
            ),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed(
                "n_shingles", "nb"
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_inter") / F.col("na"), 6).alias("containment_a"),
            F.round(F.col("n_inter") / F.col("nb"), 6).alias("containment_b"),
        )
    )


def crossdoc_shingle_overlap(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Per-document cross-corpus duplication score: the fraction of a
    doc's word k-gram shingles that also appear in at least one OTHER
    document — the per-doc signal behind exact-substring training-data
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": spans repeated across documents are the memorization
    risk; this scores each document by how much of it is such a span,
    the triage number a curator reads before running span surgery).

    Scale shape: shingles are md5-hashed BEFORE the shuffle (fixed 32-hex
    keys instead of raw k-word strings), one groupBy over shingle hashes
    counts docs-per-shingle (a count, never a collect), then one
    hash-keyed join back + a per-doc aggregate. Shuffle ∝ total shingle
    volume — the same budget class as the BPE pair counts, with no
    all-pairs stage anywhere."""
    sh = word_shingles(df, id_col, text_col, k=k).select(
        "id", F.md5("shingle").alias("h")
    )
    cnt = sh.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    return (
        sh.join(cnt, "h")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.sum((F.col("nd") >= 2).cast("int")) / F.count(F.lit(1)), 6
            ).alias("dup_frac"),
        )
    )


# The duplicated-key rule shared by span_surgery and exactsubstr_chars —
# "carried by >= 2 DISTINCT documents" ≡ min(id) != max(id) (a second
# distinct id exists iff the id extremes differ; the r13 `_cross_doc_keys`
# helper's rule, 0.83× vs a count_distinct>=2 two-phase rewrite) — is
# computed since r17 as an unbounded min/max WINDOW over the key
# partition at each call site, which replaced the helper's groupBy →
# join-back shape (one fold evaluation and one exchange instead of two
# of each; A/B numbers at the call sites).


def span_surgery(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_run: int = 3,
    cross_doc_only: bool = True,
) -> DataFrame:
    """Span-level exact-substring dedup SURGERY (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): remove from every document the word spans that are
    repeated verbatim across documents, keeping the rest of the text
    intact. This is the operator `crossdoc_shingle_overlap` triages FOR —
    that one scores how much of a doc is duplicated span; this one cuts
    the spans out.

    Semantics (deterministic, oracle-replayable):
    - a word k-gram shingle is *duplicated* when it occurs in ≥ 2
      DISTINCT documents (within-doc repeats alone don't flag);
    - per document, maximal runs of CONSECUTIVE duplicated shingle start
      positions (gaps-and-islands) of length ≥ ``min_run`` become
      removal spans covering words ``[run_start, run_end + k - 1]`` —
      the min_run floor plays the role of the paper's 50-token minimum
      match length, filtering coincidental single-shingle collisions;
    - covered words are removed from EVERY document carrying the span
      (the paper's default: a span that memorization-risks one doc risks
      them all) and the text is rebuilt from the survivors in order.

    Scale shape (suffix arrays don't distribute; shingle runs do):
    - shingles are md5-hashed BEFORE the shuffle (32-hex keys, not raw
      k-word strings); docs-per-shingle is ONE count aggregation — the
      same budget class as crossdoc_shingle_overlap, no pair or span
      enumeration across documents anywhere;
    - the duplicated-hash set joins back WITHOUT a broadcast hint (it
      scales with the corpus — the VERDICT-r4 drop-list anti-pattern);
    - run detection is a per-document window (partitionBy doc id —
      parallel across the corpus) + one groupBy;
    - the rebuild is a map-side higher-order filter over the word array
      against the doc's own (few) spans; overlapping spans (< k words
      apart) union naturally through the per-position membership test,
      so removed-word counts never double-count.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.split(F.col(text_col), " ").alias("w"),
    )
    base = spread(base)  # 0.76× on dedup_span_surgery at sf0.1, local[32]
    w = F.col("w")
    # (pos, hash) per shingle start; the word array is a materialized
    # attribute so element_at doesn't re-evaluate split() (CLAUDE.md rule)
    starts = F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - k),
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                F.md5(
                    F.concat_ws(
                        " ",
                        *[F.element_at(w, (i + j + 1).cast("int")) for j in range(k)],
                    )
                ).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:long,h:string>>"))
    # ONE consumer (r17 optimization round): the duplicated-shingle mark
    # is a window aggregate over the hash partition instead of the old
    # groupBy(h) → join-back pair. The old shape evaluated the md5
    # shingle fold TWICE (the dup groupBy's map side and the join's
    # probe side — no runtime ReusedExchange between them, audited r13;
    # persist() was measured 1.09× SLOWER because materializing the
    # exploded rows blocks the fold from fusing into the map stage).
    # One unbounded min/max window over partitionBy(h) computes the
    # identical per-key extremes from ONE fold evaluation and ONE
    # exchange — at corpus scale that is half the dominant map CPU and
    # one full (id, pos, h) shuffle + dup-side shuffle removed. Trade
    # recorded: a pathologically hot shingle is one window task, while
    # the old SMJ probe could AQE-skew-split above 256 MB — both forms
    # concentrate the hot key on one reducer, the window just lacks the
    # oversized-partition escape hatch (guide §2.5); doc-frequency-
    # bounded shingle keys make that the right trade.
    sh = base.select("id", F.explode(starts).alias("s")).select(
        "id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h")
    )
    from pyspark.sql import Window as _W

    wh = _W.partitionBy("h")
    # cross_doc_only=True: a shingle is duplicated when >= 2 DISTINCT
    # docs carry it (within-doc repeats alone don't flag) — the min!=max
    # extremes rule (algebraically _cross_doc_keys, windowed). False =
    # the paper's full ExactSubstr semantics: ANY second occurrence
    # counts, including a repeat inside the same document — both copies
    # of an internally-repeated span are then removed (the repeated span
    # is the memorization risk, whichever document carries the repeat).
    if cross_doc_only:
        ds = (
            sh.withColumn("_lo", F.min("id").over(wh))
            .withColumn("_hi", F.max("id").over(wh))
            .filter(F.col("_lo") != F.col("_hi"))
            .select("id", "pos")
        )
    else:
        ds = (
            sh.withColumn("_nd", F.count(F.lit(1)).over(wh))
            .filter(F.col("_nd") >= 2)
            .select("id", "pos")
        )

    from pyspark.sql import Window

    win = Window.partitionBy("id").orderBy("pos")
    runs = (
        ds.withColumn("isl", F.col("pos") - F.row_number().over(win))
        .groupBy("id", "isl")
        .agg(
            F.min("pos").alias("lo"),
            (F.max("pos") + F.lit(k - 1)).alias("hi"),
            F.count(F.lit(1)).alias("rl"),
        )
        .filter(F.col("rl") >= min_run)
    )
    spans = runs.groupBy("id").agg(
        F.collect_list(F.struct("lo", "hi")).alias("sp"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    joined = base.join(spans, "id", "left")
    idxs = F.sequence(F.lit(0).cast("long"), (F.size(w) - 1).cast("long"))
    keep = F.filter(
        idxs,
        lambda i: ~F.exists(
            F.col("sp"), lambda s: (i >= s["lo"]) & (i <= s["hi"])
        ),
    )
    touched = F.col("n_spans").isNotNull()
    clean = F.when(
        touched,
        F.array_join(
            F.transform(keep, lambda i: F.element_at(w, (i + 1).cast("int"))), " "
        ),
    ).otherwise(F.col("text"))
    n_removed = (
        F.when(touched, F.size(w) - F.size(keep)).otherwise(F.lit(0)).cast("long")
    )
    return joined.select(
        F.col("id").alias("doc_id"),
        clean.alias("clean_text"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        n_removed.alias("n_removed_words"),
    )


def prefix_filter_pairs(tokens: DataFrame, threshold: float) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the All-Pairs /
    PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08).

    Input: ``(id, token)`` with DISTINCT rows (``word_shingles`` default).
    Output: ``(id_a, id_b, jaccard)`` for every pair with exact Jaccard
    ≥ ``threshold`` — unlike MinHash-LSH there is NO recall loss; the
    prefix filter only prunes pairs that *provably* cannot reach the
    threshold, and survivors are verified with the exact intersection.
    Designed for HIGH thresholds (≥ ~0.7), where prefixes are a small
    fraction of each document — the published algorithm's regime.

    Why it scales to 100 TB (the exact-join complement to the banded-LSH
    path at ``lsh_candidate_pairs``):
    - Tokens are first collapsed to 64-bit ``xxhash64`` ints so every
      downstream shuffle carries fixed 8-byte keys instead of shingle
      strings (~4× narrower; a hash collision merely merges two shingles
      corpus-wide — a one-token Jaccard perturbation at astronomical
      odds, and IDENTICAL on both sides of any pair).
    - Tokens are ranked by ascending document frequency (rarest first,
      hash tie-break — a deterministic global order). A pair with
      Jaccard ≥ τ shares ≥ ⌈τ·|A|⌉ tokens, so the first
      ``|A| − ⌈τ·|A|⌉ + 1`` tokens of each side must collide: only
      those PREFIX tokens are exploded into the join, and because they
      are the rarest tokens, per-key fan-out is minimal.
    - The per-document canonical sort is a map-side ``sort_array`` after
      one groupBy — no global window, no rank shuffle.
    - Length filter ``τ·|A| ≤ |B| ≤ |A|/τ`` AND PPJoin's positional
      filter prune at the join, before the verify: a collision at
      0-based prefix positions (i, j) bounds the overlap by
      ``min(i, j) + min(|A|−i, |B|−j)``, which must reach the
      equivalent-overlap requirement ``⌈τ/(1+τ)·(|A|+|B|)⌉`` — a pair's
      FIRST common token always passes, so the filter is lossless.
    - The doc-frequency table and the prefix frame both GROW WITH THE
      CORPUS (Heaps'-law vocabulary / one row per doc×prefix-token), so
      every remaining join over them carries an explicit ``merge`` hint —
      the inverse of the r4 forced-broadcast anti-pattern: a frame that
      grows without bound must never be broadcast, and the static
      planner's post-explode size estimates are unreliable enough that
      it WILL try (the 10× scale probe caught exactly that: a
      driver-OOM broadcast build of the doc-frequency side at 10×
      sf0.1 under a 1 GiB driver). The candidate generation itself is
      join-free since r17 (bucket groupBy — see below).
    """
    tok = tokens.select("id", F.xxhash64("token").alias("h")).distinct()
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    doc_freq = tok.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(doc_freq.hint("merge"), "h")
    # ceil over 9dp-rounded products: when τ·|A| is mathematically integral
    # an IEEE over-representation (e.g. 0.1*30 = 3.0000000000000004) would
    # over-ceil and silently SHORTEN the prefix below the safe bound,
    # dropping true pairs (ADVICE r6 — not triggerable at τ=0.8, latent
    # for other thresholds). Same guard on the alpha bound below.
    prefix_len = (
        F.col("sz")
        - F.ceil(F.round(F.lit(threshold) * F.col("sz"), 9)).cast("int")
        + F.lit(1)
    )
    prefixes = (
        ranked.groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("toks"))
        .join(sizes, "id")
        .select(
            "id",
            "sz",
            F.posexplode(F.slice(F.col("toks"), F.lit(1), prefix_len)).alias(
                "pos", "t"
            ),
        )
        .select("id", "sz", "pos", F.col("t.h").alias("h"))
    )
    # r17 (guide §2.4/§3): candidates come from a per-prefix-token bucket
    # groupBy + in-row ordered pair generation (the lsh_candidate_pairs
    # pattern), NOT the former ``prefixes ⋈ prefixes`` merge self-join on
    # ``h``. The self-join evaluated the whole tok→doc_freq→rank→prefix
    # pipeline once per side; a bucket holds exactly the docs whose
    # prefix contains token ``h`` (one entry per doc — ``tok`` is
    # distinct per (id, h)), sorted by struct order = (id, sz, pos) =
    # ascending id since ids are unique, so (mem[i], mem[j]) for i < j
    # is exactly the old ``pa.id < pb.id`` condition on the same
    # collisions, per token, filters included. Prefix tokens are the
    # RAREST tokens of each doc, so buckets are small by construction; a
    # hot token is split across tasks by the r18 ``bucket_pair_rows``
    # guard. Per-row memory stays O(bucket): every exploded left row
    # carries the whole member array for its tail slice.
    tau = F.lit(float(threshold))
    pbuckets = (
        prefixes.groupBy("h")
        .agg(
            F.array_sort(F.collect_list(F.struct("id", "sz", "pos"))).alias(
                "mem"
            )
        )
        .filter(F.size("mem") >= 2)
    )
    ppairs = bucket_pair_rows(pbuckets, "mem", "a", "b")
    # equivalent-overlap requirement: jaccard ≥ τ  ⇔  |A∩B| ≥ τ/(1+τ)·(|A|+|B|)
    alpha = F.ceil(
        F.round(tau / (F.lit(1.0) + tau) * (F.col("a.sz") + F.col("b.sz")), 9)
    )
    ubound = F.least(F.col("a.pos"), F.col("b.pos")) + F.least(
        F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
    )
    candidates = (
        ppairs.filter(
            # length filter: jaccard ≥ τ forces τ·|A| ≤ |B| ≤ |A|/τ.
            # Compare against the 9dp-rounded product — the same IEEE
            # over-representation as the prefix ceiling (τ=0.28, |A|=25
            # → τ·|A| = 7.000000000000001 > the legitimate |B| = 7)
            # would otherwise drop a true pair at exactly-threshold
            # jaccard. Rounding can only ADMIT borderline candidates,
            # and every candidate is exact-verified below.
            (F.col("b.sz") >= F.round(tau * F.col("a.sz"), 9))
            & (F.col("a.sz") >= F.round(tau * F.col("b.sz"), 9))
            # PPJoin positional filter
            & (ubound >= alpha)
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # Verify with the exact intersection. Unlike ``jaccard_pairs`` (whose
    # LSH-bounded pair sets legitimately broadcast), EVERY frame here —
    # candidates, the intersection, the per-doc sizes — grows with the
    # corpus, so every join is merge-hinted. A candidate pair shares at
    # least its colliding prefix token, so n_inter ≥ 1 and the inner
    # join loses no pair.
    sa = tok.select(F.col("id").alias("id_a"), "h")
    sb = tok.select(F.col("id").alias("id_b"), "h")
    inter = (
        candidates.join(sa.hint("merge"), "id_a")
        .join(sb.hint("merge"), ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("na")).hint("merge"),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("nb")).hint("merge"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau)
    )


def exactsubstr_chars(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 25,
    w: int = 8,
    min_run: int = 26,
    prefilter: bool = True,
) -> DataFrame:
    """Character-level exact-substring dedup surgery (Lee et al. 2022's
    ExactSubstr at its PUBLISHED granularity; VERDICT r7 #8): remove from
    every document the character spans repeated verbatim across >= 2
    distinct documents, where a removable span is a maximal run of
    >= ``min_run`` consecutive duplicated char ``k``-gram starts — i.e.
    matches of >= min_run + k - 1 chars (defaults: 26 + 25 - 1 = 50, the
    paper's length-50 threshold). ``dedup.span_surgery`` is the word-
    shingle approximation of this; here the unit is the character, so
    matches that cross word boundaries or differ in tokenization are
    caught too.

    The paper builds a suffix array, which doesn't distribute; the scale
    path here is a winnowing anchor PREFILTER (Schleimer et al. SIGMOD'03)
    in front of the exact pass:

    1. anchors: winnow the per-position gram hashes (window ``w``, keep
       each window's min, distinct per doc) — ~2/(w+1) of positions;
    2. candidate docs: docs sharing an anchor hash with >= 1 other doc.
       The winnowing guarantee (any shared run of >= k + w - 1 chars
       shares a fingerprint) plus w <= min_run means every doc carrying
       a flaggable span IS a candidate — the prefilter only sheds docs
       that cannot be cut;
    3. exact pass restricted to candidates: per-position dup marking
       (>= 2 distinct candidate docs), gaps-and-islands runs, span
       rebuild — the span_surgery chain at char granularity.

    Non-candidates pass through untouched, so the output covers every
    input doc. The restriction is part of the SEMANTICS (the oracle
    replays it): versus an unfiltered pass, flagged spans can differ only
    where a sub-(k+w-1)-char coincidental collision with an otherwise-
    unrelated doc abuts a real span; ``prefilter=False`` runs the
    unfiltered variant and the parity test pins equality on the test
    corpus.

    Scale shape: the anchor phase shuffles ~2/(w+1) of positions (32-hex
    keys); the exact phase's full position explode — the expensive part
    a suffix array would also pay in sort volume — runs only on the
    candidate subcorpus (74% pruned on the synthetic corpus); the
    anchor-candidacy join is merge-hinted (the anchor set grows with
    the corpus — r6 rule), while the exact-phase dup/spans joins stay
    hint-free like span_surgery's (AQE re-plans them from runtime
    sizes); the candidate id set persists (two consumers: the dup
    pipeline and the rebuild join); islands use per-doc windows only."""
    if prefilter and w > min_run:
        raise ValueError("w must be <= min_run for the no-lost-span guarantee")
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    base = spread(base)  # 3.3× end to end on dedup_exactsubstr_chars at sf0.1
    t = F.col("text")
    grams = F.when(
        F.length(t) >= k,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - (k - 1)),
            lambda i: F.md5(t.substr(i.cast("int"), F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = base.select("id", "text", grams.alias("h"))
    h = F.col("h")

    from pyspark.sql import Window

    if prefilter:
        winmins = (
            F.when(
                F.size(h) >= w,
                F.transform(
                    F.sequence(F.lit(1), F.size(h) - (w - 1)),
                    lambda i: F.array_min(F.slice(h, i, w)),
                ),
            )
            .when(F.size(h) > 0, F.array(F.array_min(h)))
            .otherwise(F.array().cast("array<string>"))
        )
        anch = staged.select(
            "id", F.explode(F.array_distinct(winmins)).alias("ah")
        )
        # r17: candidacy via ONE window pass over the anchor-hash
        # partition (min!=max extremes ≡ _cross_doc_keys) instead of the
        # groupBy → merge-hinted semi-join pair — the old shape
        # evaluated the gram fold + winnow fold TWICE (the dup groupBy's
        # map side and the semi-join's probe side; no ReusedExchange),
        # and the anchor set's corpus-growing merge hint disappears with
        # the join itself. Identical id set: a doc is a candidate iff
        # any of its anchors has differing id extremes.
        wah = Window.partitionBy("ah")
        cand = (
            anch.withColumn("_lo", F.min("id").over(wah))
            .withColumn("_hi", F.max("id").over(wah))
            .filter(F.col("_lo") != F.col("_hi"))
            .select("id")
            .distinct()
            .persist()
        )
        heavy = staged.join(cand, "id", "semi")
    else:
        heavy = staged

    # r17: duplicated-gram mark via ONE window pass over the gram-hash
    # partition (min!=max ≡ _cross_doc_keys) — the old groupBy + join
    # replayed the md5 gram fold on both consumers (no ReusedExchange,
    # r13 audit; persist() measured 1.08× SLOWER — it defeats the
    # fold's fusion into the map stage). One fold evaluation, one
    # exchange; the hot-gram trade is recorded at span_surgery.
    sh = heavy.select(
        "id", F.posexplode(h).alias("pos", "gh")
    ).select("id", F.col("pos").cast("long").alias("pos"), "gh")
    wgh = Window.partitionBy("gh")
    ds = (
        sh.withColumn("_lo", F.min("id").over(wgh))
        .withColumn("_hi", F.max("id").over(wgh))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("id", "pos")
    )

    win = Window.partitionBy("id").orderBy("pos")
    runs = (
        ds.withColumn("isl", F.col("pos") - F.row_number().over(win))
        .groupBy("id", "isl")
        .agg(
            F.min("pos").alias("lo"),
            (F.max("pos") + F.lit(k - 1)).alias("hi"),
            F.count(F.lit(1)).alias("rl"),
        )
        .filter(F.col("rl") >= min_run)
    )
    spans = runs.groupBy("id").agg(
        F.collect_list(F.struct("lo", "hi")).alias("sp"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    joined = heavy.join(spans, "id", "left")
    idxs = F.sequence(F.lit(0).cast("long"), (F.length(t) - 1).cast("long"))
    keep = F.filter(
        idxs,
        lambda i: ~F.exists(
            F.col("sp"), lambda s: (i >= s["lo"]) & (i <= s["hi"])
        ),
    )
    touched = F.col("n_spans").isNotNull()
    clean = F.when(
        touched,
        F.array_join(
            F.transform(
                keep, lambda i: t.substr((i + 1).cast("int"), F.lit(1))
            ),
            "",
        ),
    ).otherwise(t)
    n_removed = (
        F.when(touched, F.length(t) - F.size(keep))
        .otherwise(F.lit(0))
        .cast("long")
    )
    cut = joined.select(
        F.col("id").alias("doc_id"),
        clean.alias("clean_text"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        n_removed.alias("n_removed_chars"),
    )
    if not prefilter:
        return cut
    untouched = base.join(cand, "id", "left_anti").select(
        F.col("id").alias("doc_id"),
        t.alias("clean_text"),
        F.lit(0).cast("long").alias("n_spans"),
        F.lit(0).cast("long").alias("n_removed_chars"),
    )
    return cut.unionByName(untouched)


def lsh_band_stack(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 2,
    rows_per_band: int = 4,
) -> DataFrame:
    """``(doc_id, band, sig)`` rows per doc via the BATCH pipeline
    (word_shingles explode → one grouped minhash pass → band stack) —
    bit-identical to the streaming map-side ``streaming.lsh.
    band_signatures`` (pinned by tests/test_streaming_lsh.py and the
    hypothesis bit-parity property) but ~3× faster in batch: the
    explode+groupBy runs in whole-stage codegen while the per-row
    higher-order-function fold is interpreted. Batch callers (the
    resumable index) use this; the HOF fold exists solely so STREAMS
    get signatures without a pre-state shuffle."""
    sh = word_shingles(docs, id_col, text_col, k=3, distinct=False)
    sig = minhash_signatures(sh, n_hashes=n_bands * rows_per_band)
    parts = []
    for b in range(n_bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        parts.append(
            sig.select(
                F.col("id").alias("doc_id"),
                F.lit(b).cast("int").alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("sig"),
            )
        )
    stacked = parts[0]
    for df in parts[1:]:
        stacked = stacked.unionByName(df)
    return stacked.select("band", "sig", "doc_id")


def build_lsh_band_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Compacted resumable LSH dedup index: one ``(band, sig, keeper)``
    row per occupied bucket, keeper = min doc id ever seen in it (VERDICT
    r10 #5 / r11 #3 — the batch-persistable form of the streaming band
    index, ``streaming.lsh`` STATE_SCHEMA).

    100 TB: the index is the SMALL artifact of a dedup run — it grows
    with distinct band signatures (the same bound the LSH self-join
    shuffles and the streaming GroupState holds), never with corpus
    bytes. One hash-groupBy on a high-cardinality 16-byte key; partial
    (map-side) min aggregation means the shuffle carries one row per
    (bucket, input partition), not per document. Signatures come from
    the codegen'd batch pipeline (``lsh_band_stack``), bit-identical to
    the streaming HOF fold, so a batch-built index merges losslessly
    with streaming GroupState contents and vice versa."""
    bands = lsh_band_stack(docs, id_col=id_col, text_col=text_col)
    return bands.groupBy("band", "sig").agg(F.min("doc_id").alias("keeper"))


def apply_lsh_band_index(
    index: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cleanup: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Resume a batch LSH dedup from a persisted compacted index: returns
    ``(drops, updated_index)`` for a delta batch whose ids are strictly
    greater than every indexed id (append-only ingest — the same
    arrival-order contract the streaming twin runs under).

    Semantics are the greedy bucket-min rule (order-free, exactly
    SQL-expressible): a delta doc is dropped iff some bucket of its has a
    merged keeper (prior-index keeper or a smaller-id delta doc) below
    it. Under the monotone-id contract the merged bucket minima equal
    the from-scratch full-corpus minima, so index-resume ≡ from-scratch
    — the equivalence the driver oracle hashes and
    tests/test_dedup_incremental.py proves over a two-delta replay.

    100 TB: cost scales with the DELTA (its shingle folds) plus one
    merge-shuffle against the index on (band, sig) — never a re-scan of
    the historical corpus; that is the entire point of persisting the
    index. Both union sides then groupBy on the same key, and the
    drop-join back is merge-hinted because both sides grow with the
    corpus (the r6 broadcast-OOM lesson: post-aggregation frames carry
    garbage size estimates). The banded delta frame is persisted here
    because it has TWO consumers (the merged-index groupBy and the probe
    side of the drops join) — without it the static plan replays the
    delta's shingle/minhash fold on both sides (the r6 re-inline class;
    AQE exchange reuse is not guaranteed across these subtrees).

    ``cleanup`` (ADVICE r13): the persisted delta frame is dead once
    ``drops``/``updated_index`` are materialized, but the return values
    are lazy so this function cannot unpersist it itself. One-shot
    callers (the registered query, a short-lived session) can ignore it
    — Spark evicts MEMORY_AND_DISK blocks under pressure. Loop-style
    callers (one call per delta batch in a long-lived incremental
    session) should pass a list and ``unpersist()`` its entries after
    materializing both outputs, or the per-batch caches accumulate for
    the life of the session."""
    delta_bands = lsh_band_stack(delta, id_col=id_col, text_col=text_col).persist()
    if cleanup is not None:
        cleanup.append(delta_bands)
    merged = index.select(
        "band", "sig", F.col("keeper").alias("doc_id")
    ).unionByName(delta_bands.select("band", "sig", "doc_id"))
    updated_index = merged.groupBy("band", "sig").agg(
        F.min("doc_id").alias("keeper")
    )
    drops = (
        delta_bands.join(updated_index.hint("merge"), ["band", "sig"])
        .filter(F.col("doc_id") > F.col("keeper"))
        .select("doc_id")
        .distinct()
    )
    return drops, updated_index


def build_exact_dedup_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Compacted resumable EXACT-dedup index (VERDICT r12 #4 — the
    content-hash twin of ``build_lsh_band_index``, and the more common
    production incremental dedup): one ``(fingerprint, keeper_id,
    n_copies)`` row per distinct text, keeper = min id ever seen.
    Identical shape to ``exact_duplicates`` output, so a from-scratch
    dedup IS a valid index (reference analog: the USEARCH dereplication
    the pipeline presupposes, Time_Series.py:471–478).

    100 TB: the index grows with DISTINCT texts, never corpus bytes; the
    build is one hash-groupBy on a 16-byte md5 key with partial
    (map-side) min/count aggregation — the shuffle carries one row per
    (fingerprint, input partition), not per document."""
    return exact_duplicates(docs, id_col, text_col)


def apply_exact_dedup_index(
    index: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cleanup: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Resume an exact dedup from a persisted fingerprint index: returns
    ``(drops, updated_index)`` for a delta batch whose ids are strictly
    greater than every indexed id (append-only ingest, the same
    monotone-id contract as ``apply_lsh_band_index``).

    A delta doc is dropped iff its fingerprint's merged keeper (prior
    index keeper or a smaller-id delta doc) is below it. Under the
    monotone-id contract the merged per-fingerprint minima equal the
    from-scratch full-corpus minima and the counts sum losslessly, so
    index-resume ≡ from-scratch — the equivalence the driver oracle
    hashes and tests/test_dedup_incremental.py proves over a two-delta
    replay.

    100 TB: cost scales with the DELTA (one md5 per delta doc) plus one
    merge-shuffle against the index on the 16-byte fingerprint — never a
    re-scan of the historical corpus. The delta fingerprint frame is
    persisted: it has two consumers (the merge groupBy and the probe
    side of the drops join) and would otherwise re-scan the delta's text
    bytes twice (the r6 re-inline class). Unlike the banded twin no
    ``distinct`` is needed on drops — each doc has exactly ONE
    fingerprint. The drops join is merge-hinted: both sides grow with
    the corpus (the r6 broadcast-OOM lesson).

    ``cleanup`` (ADVICE r13): same contract as ``apply_lsh_band_index``
    — loop-style callers pass a list and ``unpersist()`` its entries
    once both outputs are materialized; one-shot callers may ignore
    it."""
    delta_fp = delta.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("fingerprint"),
    ).persist()
    if cleanup is not None:
        cleanup.append(delta_fp)
    delta_agg = delta_fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    updated_index = (
        index.unionByName(delta_agg)
        .groupBy("fingerprint")
        .agg(
            F.min("keeper_id").alias("keeper_id"),
            F.sum("n_copies").alias("n_copies"),
        )
    )
    drops = (
        delta_fp.join(updated_index.hint("merge"), "fingerprint")
        .filter(F.col("doc_id") > F.col("keeper_id"))
        .select("doc_id")
    )
    return drops, updated_index


def exact_dedup_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The deletion-support companion artifact of the exact-dedup index:
    full postings ``(doc_id, fingerprint)``, one row per document
    (~32 bytes). The compacted index alone cannot re-elect a keeper —
    it forgot every non-min member — so production retraction support
    (DMCA, opt-out) persists the postings beside it; a delete batch
    then never touches corpus text, only this table. One map-side md5
    pass at build time, no shuffle."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("fingerprint"),
    )


def delete_from_exact_dedup_index(
    index: DataFrame,
    postings: DataFrame,
    deletes: DataFrame,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Retract documents from a persisted exact-dedup index (VERDICT
    r14 #4): returns ``(updated_index, updated_postings)`` after
    removing the ``deletes`` ids. When a bucket's keeper is deleted the
    next-lowest SURVIVING id is re-elected from the postings; a bucket
    whose last member is deleted disappears. The merged result equals
    a from-scratch build over corpus-minus-deleted exactly — the
    equivalence the driver oracle hashes (incl. the re-election case)
    and tests/test_dedup_incremental.py proves.

    100 TB shape: a routine retraction batch is tiny, so AQE
    broadcasts its id set and the affected-fingerprint set from
    RUNTIME sizes (no forced hint — the batch is caller-controlled,
    and the registered driver query deliberately feeds a
    corpus-proportional one; forcing the broadcast would abort at the
    8 GB cap where a hint-free plan degrades to shuffle joins — the
    r15 review fix, same as delete_from_vector_index); the postings
    scan is pruned to affected buckets before the re-election
    aggregation, and the untouched index rows pass through an
    anti-join against the same set. Corpus text is never read — that
    is what the postings artifact is for. Deleting ids absent from
    the postings is a no-op (idempotent retraction)."""
    del_ids = deletes.select(F.col(id_col).alias("doc_id")).distinct()
    affected = (
        postings.join(del_ids, "doc_id")
        .select("fingerprint")
        .distinct()
    )
    updated_postings = postings.join(del_ids, "doc_id", "left_anti")
    recomputed = (
        updated_postings.join(affected, "fingerprint")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    updated_index = index.join(
        affected, "fingerprint", "left_anti"
    ).unionByName(recomputed)
    return updated_index, updated_postings


def delete_from_lsh_band_index(
    index: DataFrame,
    postings: DataFrame,
    deletes: DataFrame,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Retract documents from a persisted LSH band index (VERDICT r14
    #4 — the banded twin of ``delete_from_exact_dedup_index``):
    ``postings`` is the full ``(band, sig, doc_id)`` table
    (``lsh_band_stack`` output persisted at build time — n_bands rows
    per doc, still negligible next to text bytes). Per affected
    bucket the minimum surviving id is re-elected; emptied buckets
    disappear; the result equals ``build_lsh_band_index`` over
    corpus-minus-deleted exactly.

    Same scale shape as the exact twin: delete ids → affected
    (band, sig) set → pruned postings re-aggregation + pass-through
    anti-join, all joins AQE-sized rather than hint-broadcast (the
    r15 review fix — see delete_from_exact_dedup_index); no shingle
    fold, no text scan, idempotent for unknown ids."""
    del_ids = deletes.select(F.col(id_col).alias("doc_id")).distinct()
    affected = (
        postings.join(del_ids, "doc_id")
        .select("band", "sig")
        .distinct()
    )
    updated_postings = postings.join(del_ids, "doc_id", "left_anti")
    recomputed = (
        updated_postings.join(affected, ["band", "sig"])
        .groupBy("band", "sig")
        .agg(F.min("doc_id").alias("keeper"))
    )
    updated_index = index.join(
        affected, ["band", "sig"], "left_anti"
    ).unionByName(recomputed)
    return updated_index, updated_postings
