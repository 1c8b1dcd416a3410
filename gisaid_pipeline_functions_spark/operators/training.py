"""Training-data pipeline operators (beyond-reference; BASELINE.json north
star): deterministic sampling, paragraph-level dedup prep, and sequence
packing — the corpus-shaping steps between dedup and training.

Scale posture:
- Sampling is a map-side filter / per-group window on an 8-hex md5 prefix
  (portable across engines, lexicographic = numeric compare) — no RNG
  state, reproducible under retries/speculation, shuffle only for exact
  k-per-group (on the group key).
- Text chunking is a native higher-order function (transform + slice) —
  no Python, no shuffle; the explode feeds a hash-groupBy that shuffles
  16-byte fingerprints, not chunk text.
- Packing is the one genuinely sequential-per-shard step (next-fit needs
  the running fill); it runs as applyInPandas per group — sequential
  WITHIN a shard, parallel ACROSS shards, which is exactly how packing
  runs in production (each output shard is packed independently).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)


def hex_uniform(col: Column) -> Column:
    """Deterministic pseudo-uniform draw: first 8 hex chars of
    ``md5(string(col))``. Fixed-width lowercase hex compares
    lexicographically = numerically in both Spark and DuckDB, so a rate
    ``r`` is the hex threshold ``format('%08x', floor(r * 2^32))`` — no
    integer conversion needed on either engine."""
    return F.substring(F.md5(col.cast("string")), 1, 8)


def rate_to_hex_threshold(rate: float) -> str:
    """Rate in [0,1] → 8-hex threshold string for ``hex_uniform``."""
    return format(min(int(rate * 2**32), 2**32 - 1), "08x")


def stratified_sample(
    df: DataFrame, id_col: str, threshold: Column
) -> DataFrame:
    """Keep rows whose ``hex_uniform(id)`` falls under a (possibly
    per-stratum) hex threshold column. Map-side filter: reproducible,
    shuffle-free, safe under task retries — unlike ``df.sample`` whose
    output changes with partitioning."""
    return df.filter(hex_uniform(F.col(id_col)) < threshold)


def sample_k_per_group(
    df: DataFrame, group_col: str, id_col: str, k: int
) -> DataFrame:
    """Exactly min(k, n) rows per group, chosen by hash order — the
    deterministic equivalent of per-group reservoir sampling. One shuffle
    on the group key; the hash order makes the choice independent of
    physical row order."""
    w = Window.partitionBy(group_col).orderBy(
        hex_uniform(F.col(id_col)), id_col
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def chunk_text(df: DataFrame, text_col: str, chunk_words: int) -> Column:
    """Array of fixed-word-count chunks of a whitespace-tokenized text —
    the unit for paragraph/passage-level dedup. Native higher-order
    functions only (split is materialized once per row, then sliced)."""
    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / chunk_words).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(words, i * chunk_words + 1, chunk_words)
        ),
    )


def chunk_text_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_words: int = 32,
    stride_words: int = 16,
) -> DataFrame:
    """Overlapping sliding-window chunking — the RAG/context-window
    shape ``chunk_text``'s disjoint paragraphs don't cover: one row per
    (doc, window), windows of ``window_words`` words starting every
    ``stride_words``, with word offsets so downstream spans map back
    into the source. Start positions are 0, stride, 2·stride, … up to
    the smallest multiple of stride whose window reaches the document's
    end, so every word is covered, consecutive windows overlap by
    window−stride words, and every doc (however short) emits at least
    one window. The window count is pure integer arithmetic
    (1 + ⌈max(n−window, 0)/stride⌉ via (x+stride−1) div stride), so
    both engines land on identical lattices.

    100 TB: map-side only — one split per row (materialized in the row
    before multi-referencing, the r5 rule), no shuffle, no UDF; output
    bytes ≈ (window/stride)× the corpus, the usual chunking
    amplification a deployment tunes with stride.

    Plan audit (ADVICE r14 → r15): the executed plan contains exactly
    ONE ``split(text, ' ')`` — the pre-explode select/withColumn chain
    does NOT re-inline it, because the Generate (explode) node is a
    projection barrier CollapseProject never crosses; the ``_n``/
    ``_w`` references below the explode read the generated attribute.
    (Verified via executedPlan at sf0.001; the r5 re-inline class only
    bites when every reference sits in one collapsed Project.)"""
    if not 1 <= stride_words <= window_words:
        raise ValueError(
            f"need 1 <= stride_words <= window_words, got "
            f"stride_words={stride_words}, window_words={window_words}"
        )
    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("_w"),
    ).withColumn("_n", F.size("_w"))
    # ⌈extra/stride⌉ as (extra + stride−1)/stride with a truncating cast
    # — exact for these magnitudes, identical to the oracle's `//`
    extra = F.greatest(F.col("_n") - F.lit(window_words), F.lit(0))
    n_win = F.lit(1) + (
        (extra + F.lit(stride_words - 1)) / F.lit(stride_words)
    ).cast("long")
    d = d.withColumn(
        "win_id",
        F.explode(F.sequence(F.lit(0).cast("long"), n_win - 1)),
    )
    start = F.col("win_id") * stride_words
    return d.select(
        "doc_id",
        F.col("win_id").cast("long").alias("win_id"),
        start.cast("long").alias("start_word"),
        F.least(F.lit(window_words).cast("long"), F.col("_n") - start)
        .cast("long")
        .alias("n_words"),
        F.concat_ws(
            " ", F.slice("_w", (start + 1).cast("int"), window_words)
        ).alias("chunk"),
    )


def shard_bucket(col: Column, n_buckets: int) -> Column:
    """Portable deterministic shard in [0, n_buckets): the first TWO hex
    digits of ``md5(col)`` as a value in [0, 256), mod n_buckets — so up
    to 256 distinct buckets (one digit capped the lattice at 16), uniform
    whenever n_buckets divides 256. The identical expression exists in
    DuckDB (``strpos``), so oracles replay the exact sharding — unlike
    xxhash64, which is Spark-internal."""
    h = F.md5(col.cast("string"))
    hexdigits = F.lit("0123456789abcdef")
    idx1 = F.instr(hexdigits, F.substring(h, 1, 1)) - 1
    idx2 = F.instr(hexdigits, F.substring(h, 2, 1)) - 1
    return ((idx1 * 16 + idx2) % n_buckets).cast("long")


def pack_next_fit(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 50,
    shards: int = 8,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Next-fit sequence packing: walk each shard's docs in id order,
    appending to the current bin while the token budget holds, else open
    a new bin. The running fill makes this inherently sequential per
    shard — applyInPandas keeps shards parallel while the walk stays a
    tight pandas loop. A doc larger than the budget gets its own bin.

    The shard key is COMPOSITE — ``(group, shard_bucket(id, shards))`` —
    not the raw group: web corpora are dominated by one source, and
    grouping on source alone would serialize the dominant source's walk
    onto a single core and a single task's memory (VERDICT.md r2 #3).
    Bin ids are local to their shard; ``(group, shard, bin_id)`` is the
    global bin identity. ``extra_cols`` ride through unchanged (string
    columns carried per doc, e.g. a language tag) so pipelines don't have
    to re-join them after packing."""
    out_cols = [group_col, "shard", *extra_cols, id_col, tokens_col, "bin_id"]
    schema = StructType(
        [
            StructField(group_col, StringType()),
            StructField("shard", LongType()),
            *[StructField(c, StringType()) for c in extra_cols],
            StructField(id_col, LongType()),
            StructField(tokens_col, LongType()),
            StructField("bin_id", LongType()),
        ]
    )

    def pack(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins = []
        bin_id, fill = 0, 0
        for t in pdf[tokens_col]:
            t = int(t)
            if bin_id == 0 or fill + t > budget:
                bin_id += 1
                fill = t
            else:
                fill += t
            bins.append(bin_id)
        pdf["bin_id"] = bins
        return pdf[out_cols]

    inp = df.select(
        group_col,
        shard_bucket(F.col(id_col), shards).alias("shard"),
        *extra_cols,
        id_col,
        F.col(tokens_col).cast("long"),
    )
    return inp.groupBy(group_col, "shard").applyInPandas(pack, schema)


def hex_uniform_u32(col: Column) -> Column:
    """The ``hex_uniform`` draw as an exact 32-bit integer (first 8 md5
    hex digits positionally decoded) — for weighted-sampling math that
    needs a number, not a comparable string. Pure integer construction,
    identical in DuckDB via ``strpos``."""
    h = F.md5(col.cast("string"))
    hexdigits = F.lit("0123456789abcdef")
    v = F.lit(0).cast("long")
    for i in range(8):
        # cast BEFORE the scale multiply: instr yields int32 and
        # 15 * 16^7 overflows it under ANSI mode
        digit = (F.instr(hexdigits, F.substring(h, i + 1, 1)) - 1).cast("long")
        v = v + digit * F.lit(16 ** (7 - i)).cast("long")
    return v


def weighted_sample_k_per_group(
    df: DataFrame, group_col: str, id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis & Sirivianos A-ES,
    IPL 2006): each row draws u ∈ (0,1) deterministically from its id
    hash and scores ``key = u^(1/w)``; the top-k keys per group ARE a
    weighted-without-replacement sample. The quality/length-weighted
    corpus draw a training pipeline runs ("sample 10M docs ∝ quality").

    Map-side key computation (no RNG state, retry/partition-invariant —
    the same guarantee as ``stratified_sample``), one shuffle on the
    group key for the top-k window. The key is rounded to 6dp on both
    engines (pow's last-ulp may differ across libms) with the id as the
    deterministic tie-break."""
    u = (hex_uniform_u32(F.col(id_col)) + F.lit(0.5)) / F.lit(float(2**32))
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 6
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("sample_key"), F.col(id_col)
    )
    return (
        df.withColumn("sample_key", key)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def select_to_token_budget(
    df: DataFrame,
    order_col: str,
    token_col: str,
    budget_col: str = "budget",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
) -> DataFrame:
    """Greedy budgeted selection: walk the corpus best-first (``order_col``
    DESCENDING, ``id_col`` tie-break) and keep rows while the running
    token total stays ≤ the budget — "take the highest-quality documents
    until the token budget is spent", the final cut of every curated
    training mix.

    The running total over a global ordering is pagination's walk
    (operators/topk.py:_block_prefix) run DESCENDING: every row of a
    range bucket outranks every row of the next bucket down, the token
    sums of the higher buckets give the row's prefix, and the cumulative
    sum inside each bucket is a PARTITIONED window; one evaluation of
    the cut points feeds both a row's bucket and its prefix. No
    single-partition stage anywhere. NULL order keys walk LAST (DESC NULLS LAST) and
    still consume budget when reached.

    ``df`` must carry ``budget_col`` (a per-row constant, typically
    crossJoined from a 1-row aggregate). Emits ``cum_tokens`` for
    auditability.
    """
    from .topk import _block_prefix

    parts = _block_prefix(
        df, order_col, num_buckets, {"_prefix": F.sum(token_col)}, descending=True
    )
    w = (
        Window.partitionBy("_bkt")
        .orderBy(F.desc(order_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        parts.withColumn("cum_tokens", F.col("_prefix") + F.sum(token_col).over(w))
        .filter(F.col("cum_tokens") <= F.col(budget_col))
        .drop("_bkt", "_prefix")
    )


def sliding_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_words: int = 10,
    stride: int = 5,
) -> DataFrame:
    """Overlapping sliding-window chunking — the standard pre-embedding
    split (window W, stride S < W keeps cross-boundary context that
    ``chunk_text``'s disjoint chunks lose). Map-side only: one split per
    row (materialized ONCE — the split() rematerialization trap,
    SCALING.md), one posexplode of the start-index sequence, one
    ``slice``; no shuffle, no Python."""
    words = F.split(F.col(text_col), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("_w"), F.lit(1)), F.lit(stride)
    )
    return (
        df.withColumn("_w", words)
        .select(
            F.col(id_col),
            F.posexplode(starts).alias("chunk_no", "_start"),
            F.col("_w"),
        )
        .select(
            id_col,
            F.col("chunk_no").cast("long").alias("chunk_no"),
            F.array_join(
                F.slice("_w", F.col("_start"), window_words), " "
            ).alias("chunk"),
        )
    )


def linreg_normal_eq(
    df: DataFrame,
    y_col: str,
    x_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group simple linear regression by the closed-form normal
    equations — the one-pass training job every feature pipeline runs
    (per-segment trend fits, target calibration): slope =
    (n·Σxy − Σx·Σy) / (n·Σxx − Σx²), intercept = (Σy − slope·Σx)/n.

    Determinism: ``x`` and ``y`` must be INTEGER-valued columns (cast to
    long here) so every sufficient statistic is an exact BIGINT — no
    float lattice anywhere until the final two quotients, which are
    6dp-rounded, and the intercept is computed from the ALREADY-ROUNDED
    slope so both engines use the identical double. Overflow bound:
    n·Σxy must stay below 2⁶³ — holds to ~10⁹ rows per group at these
    feature magnitudes; beyond that, shift to per-group means first
    (Welford) or DECIMAL sums.

    Scale shape: ONE groupBy with five map-side-partial integer sums —
    the whole regression is a single shuffle of |groups| tiny rows;
    degenerate groups (zero x-variance) return NULL slope/intercept
    rather than dividing by zero.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    stats = (
        df.select(F.col(group_col).alias("grp"), x.alias("x"), y.alias("y"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        det != 0,
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / det.cast("double"),
            6,
        ),
    )
    return stats.select(
        F.col("grp"),
        F.col("n").alias("n_rows"),
        slope.alias("slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
            6,
        ).alias("intercept"),
    )


def pack_best_fit(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 200,
    shards: int = 8,
) -> DataFrame:
    """Best-fit-decreasing sequence packing — the offline bin-packing
    heuristic context-window builders actually use (docs sorted by
    token count DESC, each placed into the open bin with the LEAST
    residual capacity that still fits; ties -> lowest bin id; no fit ->
    new bin). Same composite ``(group, shard_bucket)`` parallelism as
    ``pack_next_fit`` (a dominant source must not serialize onto one
    task); the walk itself is inherently sequential per shard, so
    applyInPandas runs one tight loop per shard. Deterministic: the
    sort key is (n_tokens DESC, id ASC) and the tie rule is
    first-lowest-index, both replayable by a recursive CTE carrying
    the bin-fill list."""
    out_cols = [group_col, "shard", id_col, tokens_col, "bin_id"]
    schema = StructType(
        [
            StructField(group_col, StringType()),
            StructField("shard", LongType()),
            StructField(id_col, LongType()),
            StructField(tokens_col, LongType()),
            StructField("bin_id", LongType()),
        ]
    )

    def pack(pdf):
        pdf = pdf.sort_values(
            [tokens_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        fills: list[int] = []
        out = []
        for t in pdf[tokens_col]:
            t = int(t)
            best_i, best_fill = -1, -1
            for i, f in enumerate(fills):
                # strictly greater keeps the FIRST (lowest-index) bin
                # among equal fills — the list_position tie rule
                if f + t <= budget and f > best_fill:
                    best_fill, best_i = f, i
            if best_i < 0:
                fills.append(t)
                out.append(len(fills))
            else:
                fills[best_i] += t
                out.append(best_i + 1)
        pdf["bin_id"] = out
        return pdf[out_cols]

    inp = df.select(
        group_col,
        shard_bucket(F.col(id_col), shards).alias("shard"),
        id_col,
        F.col(tokens_col).cast("long"),
    )
    return inp.groupBy(group_col, "shard").applyInPandas(pack, schema)
