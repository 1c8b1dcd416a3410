"""Text-analysis operators for training-data pipelines (beyond-reference;
BASELINE.json north star): language-ID heuristic, quality scoring, token
counting, document fingerprinting.

All native Column expressions — these run per-document over the full
corpus, so Python-per-row would be the classic 100 TB mistake.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .layout import spread

# tiny English function-word list for the n-gram/stopword heuristic
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

# BPE-ish tokenizer: letter runs, digit runs, single punctuation
TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def words(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda w: F.length(w) > 0)


def stopword_ratio(text: Column) -> Column:
    w = words(text)
    n_stop = F.size(F.filter(w, lambda x: F.lower(x).isin(*STOPWORDS)))
    return F.when(F.size(w) == 0, F.lit(0.0)).otherwise(n_stop / F.size(w))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, "[a-zA-Z0-9\\s]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        F.length(stripped) / F.length(text)
    )


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic language ID: function-word density → 'en' vs 'other'.
    (The container has no langdetect libs; this is the n-gram-heuristic
    path a real pipeline would seed before a model-based pass.)"""
    ratio = stopword_ratio(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        F.round(ratio, 6).alias("stop_ratio"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias("lang_pred"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite quality score from length / punctuation / stopword
    signals, each normalized to [0,1].

    The word array is materialized once as a column — referencing the
    ``split()`` expression from five derived expressions would re-tokenize
    the text five times per row."""
    text = F.col(text_col)
    staged = df.select(
        F.col(id_col).alias("id"),
        F.length(text).alias("n"),
        words(text).alias("w"),
        punct_ratio(text).alias("punct"),
    )
    w = F.col("w")
    n_stop = F.size(F.filter(w, lambda x: F.lower(x).isin(*STOPWORDS)))
    stop = F.when(F.size(w) == 0, F.lit(0.0)).otherwise(n_stop / F.size(w))
    len_score = F.least(F.col("n") / F.lit(500.0), F.lit(1.0))
    avg_wlen = F.when(F.size(w) == 0, F.lit(0.0)).otherwise(
        F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x)) / F.size(w)
    )
    staged = staged.select(
        "id",
        F.round(len_score, 6).alias("len_score"),
        F.round(stop, 6).alias("stop_ratio"),
        F.round(F.col("punct"), 6).alias("punct_ratio"),
        F.round(avg_wlen, 6).alias("avg_word_len"),
        F.round(
            len_score * 0.4
            + F.least(stop * 10, F.lit(1.0)) * 0.3
            + (1 - F.least(F.col("punct") * 10, F.lit(1.0))) * 0.3,
            6,
        ).alias("quality"),
    )
    return staged


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens per document."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.size(words(text)).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0))
        .cast("long")
        .alias("regex_tokens"),
    )


def repetition_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1: duplicate
    word fraction, top-n-gram fraction) — fully map-side, zero shuffle.

    The most-frequent-2-gram count is a per-row mode; instead of
    explode + groupBy (which would shuffle every n-gram of every document
    in the corpus), sort the per-row gram array and fold for the longest
    equal run — O(n log n) per row inside whole-stage codegen, and the
    shuffle disappears entirely. The DuckDB oracle computes the same mode
    the explode-and-group way, so the two engines cross-check the
    algorithm, not just the arithmetic.
    """
    text = F.col(text_col)
    staged = df.select(F.col(id_col).alias("doc_id"), words(text).alias("w"))
    w = F.col("w")
    grams = F.when(
        F.size(w) >= 2,
        F.array_sort(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 1),
                lambda i: F.concat(
                    F.element_at(w, i), F.lit(" "), F.element_at(w, i + 1)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = staged.select("doc_id", w.alias("w"), grams.alias("g"))
    g = F.col("g")
    # longest equal run in the sorted gram array = count of the modal gram
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_n = F.aggregate(g, init, step, lambda acc: acc["best"])
    dup_frac = F.when(F.size(w) == 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(w)) / F.size(w)
    )
    top_frac = F.when(F.size(g) == 0, F.lit(0.0)).otherwise(top_n / F.size(g))
    out = staged.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.round(dup_frac, 6).alias("dup_word_frac"),
        F.round(top_frac, 6).alias("top_2gram_frac"),
    )
    # threshold on the ROUNDED values so the keep decision can't flip on
    # float-epsilon differences between engines
    return out.withColumn(
        "keep",
        (F.col("dup_word_frac") <= 0.5) & (F.col("top_2gram_frac") <= 0.08),
    )


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    MOSS scheme): hash every word k-gram, slide a window of w hashes, keep
    each window's minimum, emit the distinct minima. Guarantees any shared
    run of ≥ k+w-1 words between two documents shares a fingerprint,
    with ~2/(w+1) of the grams kept — the robust middle ground between
    exact chunk dedup (brittle to 1-word shifts) and full shingle sets
    (k× the text volume).

    Fully map-side per document (three staged selects so each array
    materializes once); the exploded output shuffles only 32-byte hashes
    into whatever downstream groupBy consumes them. Hex md5 compares
    lexicographically on both engines, so min-selection is portable.
    Documents with fewer than w grams contribute one whole-array minimum
    (the standard short-document convention); gram-less documents none.
    """
    text = F.col(text_col)
    staged = df.select(F.col(id_col).alias("doc_id"), words(text).alias("w"))
    ws = F.col("w")
    grams = F.when(
        F.size(ws) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (k - 1)),
            lambda i: F.md5(
                F.concat_ws(
                    " ",
                    *[F.element_at(ws, (i + j).cast("int")) for j in range(k)],
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = staged.select("doc_id", grams.alias("h"))
    h = F.col("h")
    windows = (
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
    return staged.select(
        "doc_id", F.explode(F.array_distinct(windows)).alias("fingerprint")
    )


# synthetic-PII masking patterns — same regex dialect subset works in Java
# (Spark) and RE2 (DuckDB): character classes, \b, {n} counts
EMAIL_REGEX = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+"
PHONE_REGEX = "\\b[0-9]{3}-[0-9]+\\b"


def pii_mask(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Mask email / phone-shaped spans and count them — the scrubbing pass
    a training pipeline runs before packing. Pure native regexp
    expressions (Spark ``regexp_replace`` is replace-all, matching
    DuckDB's 'g' flag); emits the md5 of the masked text rather than the
    text itself so the driver hashes a scalar."""
    text = F.col(text_col)
    masked = F.regexp_replace(
        F.regexp_replace(text, EMAIL_REGEX, "[EMAIL]"),
        PHONE_REGEX,
        "[PHONE]",
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_REGEX), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_REGEX), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.md5(masked).alias("masked_md5"),
    )


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprints: md5 of the normalized text (exact-dup key)
    plus the min word-hash (a 1-gram minhash, the rolling-hash-min analog
    used by winnowing-style schemes)."""
    norm = F.lower(F.regexp_replace(F.col(text_col), "\\s+", " "))
    w = words(F.col(text_col))
    min_word_hash = F.array_min(F.transform(w, lambda x: F.md5(F.lower(x))))
    return df.select(
        F.col(id_col).alias("id"),
        F.md5(norm).alias("fingerprint"),
        min_word_hash.alias("min_word_hash"),
    )


def char_entropy(df, id_col: str = "doc_id", text_col: str = "text"):
    """Shannon entropy of the character distribution per document — the
    classic gibberish/boilerplate quality signal (low entropy = repeated
    filler, high = random noise; natural text sits in a band).

    Entirely MAP-SIDE via higher-order functions: distinct chars (sorted,
    so both engines fold the float sum in the IDENTICAL order — unsorted
    first-occurrence order differs across engines and float addition is
    not associative), per-char counts via length-difference, one
    ``aggregate`` fold. No explode, no shuffle; O(len × distinct_chars)
    per row with distinct_chars bounded by the alphabet."""
    text = F.col(text_col)
    chars = F.array_sort(F.array_distinct(F.split(text, "")))
    n = F.length(text).cast("double")
    cnt = lambda c: (n - F.length(F.replace(text, c, F.lit("")))).cast("double")
    p = lambda c: cnt(c) / n
    term = lambda c: -p(c) * F.log2(p(c))
    entropy = F.aggregate(
        F.filter(chars, lambda c: F.length(c) > 0),
        F.lit(0.0),
        lambda acc, c: acc + term(c),
    )
    return df.select(
        F.col(id_col), F.round(entropy, 6).alias("char_entropy")
    )


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 1000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.80,
    min_distinct_stopwords: int = 2,
) -> DataFrame:
    """Gopher quality-rule filter (Rae et al. 2021 §A1.1, as popularized by
    the RedPajama/Dolma reproduction pipelines): per-document structural
    rules — word-count bounds, mean-word-length band, fraction of words
    containing an alphabetic character, and minimum distinct stopwords —
    each emitted as its own boolean plus the conjunction ``pass_gopher``.

    Entirely MAP-SIDE (one ``split`` materialized once, higher-order
    folds over it); at 100 TB this is a pure scan + filter with no
    shuffle, and the per-rule booleans let a pipeline audit rejection
    reasons with one grouped count downstream."""
    text = F.col(text_col)
    staged = df.select(F.col(id_col), words(text).alias("w"))
    w = F.col("w")
    n_words = F.size(w)
    mean_wlen = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x)) / n_words
    )
    alpha_frac = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(w, lambda x: x.rlike("[a-zA-Z]"))) / n_words
    )
    n_stop = F.size(
        F.array_distinct(F.filter(w, lambda x: F.lower(x).isin(*STOPWORDS)))
    )
    rule_words = (n_words >= min_words) & (n_words <= max_words)
    rule_wlen = (mean_wlen >= min_mean_word_len) & (mean_wlen <= max_mean_word_len)
    rule_alpha = alpha_frac >= min_alpha_word_frac
    rule_stop = n_stop >= min_distinct_stopwords
    return staged.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        n_stop.cast("long").alias("n_distinct_stopwords"),
        rule_words.alias("rule_word_count"),
        rule_wlen.alias("rule_mean_word_len"),
        rule_alpha.alias("rule_alpha_words"),
        rule_stop.alias("rule_stopwords"),
        (rule_words & rule_wlen & rule_alpha & rule_stop).alias("pass_gopher"),
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-trained unigram language-model scoring — the cheap
    perplexity proxy (the CCNet/KenLM-style quality signal with the
    n-gram order dropped to 1 so the model is trainable in one
    aggregation pass over the corpus itself). High mean_neg_logprob =
    rare-word-heavy documents; perplexity = exp of it.

    Two passes, both shuffle-light at scale:
    1. TRAIN: explode words → per-word count (map-side partial aggregation
       shrinks the shuffle to distinct-word cardinality) + one scalar
       total, cross-joined back (1-row broadcast).
    2. SCORE: exploded words join the frequency table on the word — NO
       broadcast hint: the vocabulary of a 100 TB corpus (heavy-tailed,
       grows ~corpus^0.7 by Heaps' law) is not broadcastable, so AQE
       picks broadcast only when the measured size fits. Then one
       groupBy(doc) for count/avg. Documents with zero words drop out on
       both engines (explode of an empty array emits nothing).
    """
    w = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("word")
    )
    freq = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    scored = (
        w.join(freq, "word")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.avg(-F.log(F.col("c") / F.col("total"))).alias("nlp"),
        )
    )
    return scored.select(
        F.col(id_col),
        "n_tokens",
        F.round(F.col("nlp"), 6).alias("mean_neg_logprob"),
        F.round(F.exp(F.col("nlp")), 6).alias("perplexity"),
    )


def vocab_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 25,
) -> DataFrame:
    """Top-V vocabulary build + per-document out-of-vocabulary rate — the
    tokenizer-prep audit (how much of each document a V-word vocabulary
    covers). Deterministic vocabulary: count DESC, word ASC, taken via
    orderBy+limit (plans as distributed TakeOrderedAndProject — no
    single-partition window, same shape as the kmeans init in
    operators/similarity.py). The V-row vocabulary broadcasts to the
    exploded-word scoring join; one groupBy(doc) finishes.
    """
    w = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("word")
    )
    vocab = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("word"))
        .limit(vocab_size)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    return (
        w.join(F.broadcast(vocab), "word", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


def classifier_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """The hashed-feature stage shared by classifier training, batch
    scoring, and the streaming-scoring twin: per document, the
    structural weak label (Gopher word-count + mean-word-length rules)
    and one row per unigram/bigram md5-hashed into ``n_buckets`` —
    ``(id, pos, b)``. Works on BATCH and STREAMING frames alike (every
    expression is map-side)."""
    base = spread(  # 10 s → ~2 s on the classifier pipeline at sf0.1
        df.select(F.col(id_col).alias("id"), words(F.col(text_col)).alias("w"))
    )
    w = F.col("w")
    n_words = F.size(w)
    mean_wlen = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x)) / n_words
    )
    label = (
        (n_words >= 10)
        & (n_words <= 1000)
        & (mean_wlen >= 3.0)
        & (mean_wlen <= 10.0)
    )
    bigrams = F.when(
        n_words >= 2,
        F.transform(
            F.sequence(F.lit(0), n_words - 2),
            lambda i: F.concat_ws(
                "_",
                F.element_at(w, (i + 1).cast("int")),
                F.element_at(w, (i + 2).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    labeled = base.filter(n_words > 0).select(
        "id", label.alias("pos"), F.concat(w, bigrams).alias("grams")
    )
    return labeled.select("id", "pos", F.explode("grams").alias("gram")).select(
        "id",
        "pos",
        (
            F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).alias("b"),
    )


def classifier_train(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> tuple[DataFrame, DataFrame]:
    """Closed-form NB log-odds training pass of ``classifier_score``,
    exposed separately so a STREAM can score against the batch-trained
    model: returns ``(wt, bias_row)`` — the ≤ n_buckets-row weight table
    and the 1-row bias — both legitimate broadcasts (fixed-size model)."""
    gb = classifier_features(df, id_col, text_col, n_buckets)
    return _classifier_train_from_features(gb, df, text_col, n_buckets)


def _classifier_train_from_features(
    gb: DataFrame,
    df: DataFrame,
    text_col: str,
    n_buckets: int,
) -> tuple[DataFrame, DataFrame]:
    """NB log-odds weights from an already-built feature stream — split
    out (r17) so ``classifier_score`` can feed the SAME persisted gram
    stream to both the count pass and the scoring probe instead of
    re-running the explode+md5 pipeline per consumer. Expressions are
    unchanged from the r7 shape — only the gb plumbing moved."""
    pos_i = F.col("pos").cast("int")
    cnt = gb.groupBy("b").agg(
        F.sum(pos_i).alias("np"), F.sum(1 - pos_i).alias("nn")
    )
    tot = cnt.agg(F.sum("np").alias("tp"), F.sum("nn").alias("tn"))
    wt = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log((F.col("np") + 1.0) / (F.col("tp") + F.lit(float(n_buckets))))
            - F.log((F.col("nn") + 1.0) / (F.col("tn") + F.lit(float(n_buckets)))),
            6,
        ).alias("wt"),
    )
    # bias from a DIRECT per-doc pass (words + label only) — deriving it
    # from the gram stream would re-run the expensive explode+md5
    # pipeline a third time plus a dedup shuffle for a 1-row aggregate
    w = words(F.col(text_col))
    n_words = F.size(w)
    mean_wlen = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x)) / n_words
    )
    lbl = (
        (n_words >= 10)
        & (n_words <= 1000)
        & (mean_wlen >= 3.0)
        & (mean_wlen <= 10.0)
    )
    li = lbl.cast("int")
    bias_row = df.filter(n_words > 0).agg(
        F.round(
            F.log((F.sum(li) + 1.0) / (F.sum(1 - li) + 1.0)), 6
        ).alias("bias")
    )
    return wt, bias_row


def classifier_apply(
    gb: DataFrame, wt: DataFrame, bias_row: DataFrame
) -> DataFrame:
    """Inference against a trained (wt, bias) model over a
    ``classifier_features`` stream — batch OR streaming (stream-static
    broadcast join + per-doc aggregation; with a bounded AvailableNow
    backlog the aggregation runs in complete mode)."""
    pos_i = F.col("pos").cast("int")
    scored = (
        gb.join(F.broadcast(wt), "b")
        .groupBy("id")
        .agg(
            (F.max(pos_i) == 1).alias("label_weak"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.avg("wt").alias("mw"),
        )
    )
    # streams don't support crossJoin — a literal-key equi-join against
    # the broadcast 1-row bias is the same plan
    return (
        scored.withColumn("_k", F.lit(1))
        .join(F.broadcast(bias_row.withColumn("_k", F.lit(1))), "_k")
        .select(
            F.col("id").alias("doc_id"),
            "n_grams",
            "label_weak",
            F.round(F.col("bias") + F.col("mw"), 6).alias("score"),
            ((F.col("bias") + F.col("mw")) > 0).alias("pred"),
        )
    )


def classifier_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """Learned linear quality classifier — the fastText/CCNet-style scorer
    used for pretraining quality filtering (Joulin et al. 2016 fastText;
    Wenzek et al. 2019 CCNet; the GPT-3/LLaMA "looks-like-good-pages"
    stage). Hashed n-gram features → per-bucket log-odds weight vector →
    map-side mean-weight score. Distinct from ``quality_score`` (a fixed
    heuristic ratio): here the weights are LEARNED from the corpus.

    Training is closed-form multinomial Naive-Bayes log-odds — weak
    labels (the Gopher word-count + mean-word-length structural rules)
    split the corpus, and one aggregation pass per (bucket, class) count
    yields ``w_b = ln((np+1)/(Np+D)) − ln((nn+1)/(Nn+D))`` with bias
    ``ln((P+1)/(N+1))``. Deterministic and oracle-replayable — the
    learned-k-means precedent (operators/similarity.py kmeans_assign) for
    gating training + inference in one hash-checked query; weights round
    to 6dp before scoring on BOTH engines.

    Scale shape:
    - features are unigrams + bigrams md5-hashed into a FIXED ``D =
      n_buckets`` space — the weight table is ≤ D rows regardless of
      corpus size, so broadcasting it is legitimate and forced (unlike
      the vocabulary / drop-list frames, which grow with the corpus —
      the VERDICT-r4 anti-pattern does NOT apply to a fixed-dim model);
    - training shuffles ≤ D×2 partial rows per partition (map-side
      combine over bucket ids), inference is a broadcast-join probe +
      one per-doc aggregate. No vocabulary-sized state anywhere.
    - docs with zero words have no features and drop out (the
      unigram_logprob convention).

    r7 refactor: split into ``classifier_features`` / ``classifier_train``
    / ``classifier_apply`` so the STREAMING twin scores live documents
    against the batch-trained model; this composition is value-identical
    (the bias aggregate now dedups (id, pos) from the gram stream instead
    of reading the pre-explode frame — pos is functionally dependent on
    id, so the counts are the same).

    r17 (guide §2.4/§5): ONE persisted feature stream feeds both the
    training count pass and the scoring probe. The gram build
    (explode + md5 over unigrams+bigrams, the dominant map CPU) sits
    DOWNSTREAM of the repartition exchange, so AQE exchange reuse never
    deduplicated it — the pipeline ran once under the weight table's
    broadcast build and again on the probe side (the dsir_resample
    gram-stream precedent; same documented cache lifetime). The bias
    pass stays a direct words+label scan by design (see
    _classifier_train_from_features)."""
    gb = classifier_features(df, id_col, text_col, n_buckets).persist()
    wt, bias_row = _classifier_train_from_features(gb, df, text_col, n_buckets)
    return classifier_apply(gb, wt, bias_row)


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-trained BIGRAM language-model scoring — one n-gram order up
    from ``unigram_logprob``, the closest cheap analog of the KenLM
    perplexity filter CCNet actually ships (Wenzek et al. 2019): score
    each document by the mean ``-ln P(w_i | w_{i-1})`` under the
    corpus-trained conditional table. Word-order sensitivity is the point
    — a shuffled document keeps its unigram score but craters here.

    Model: P(w2|w1) = c(w1,w2) / c(w1→·), where the context count is the
    number of transitions FROM w1 (derived from the bigram table itself,
    so the two counts are consistent by construction and every scored
    transition exists in the table — no smoothing needed when scoring the
    training corpus). Docs with < 2 words have no transitions and drop
    out (the unigram_logprob convention).

    Scale shape: transitions explode once; the bigram count shuffles
    ∝ distinct-bigram cardinality with map-side partial aggregation; the
    context count is a second small aggregate OF THE COUNT TABLE (never a
    rescan); score-time joins are hint-free — a 100 TB corpus's bigram
    vocabulary grows faster than Heaps' law, the exact frame the
    VERDICT-r4 drop-list anti-pattern forbids broadcasting."""
    base = df.select(F.col(id_col), words(F.col(text_col)).alias("w"))
    w = F.col("w")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.struct(
            F.element_at(w, (i + 1).cast("int")).alias("w1"),
            F.element_at(w, (i + 2).cast("int")).alias("w2"),
        ),
    )
    bg = (
        base.filter(F.size(w) >= 2)
        .select(id_col, F.explode(pairs).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cc = bc.groupBy("w1").agg(F.sum("cb").alias("cw"))
    scored = (
        bg.join(bc, ["w1", "w2"])
        .join(cc, "w1")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.avg(-F.log(F.col("cb") / F.col("cw"))).alias("nlp"),
        )
    )
    return scored.select(
        F.col(id_col),
        "n_transitions",
        F.round(F.col("nlp"), 6).alias("mean_neg_logprob"),
        F.round(F.exp(F.col("nlp")), 6).alias("perplexity"),
    )


def _adjacent_pairs(w: Column) -> Column:
    """Adjacent word pairs of an array column as an array of
    ``struct(w1, w2)`` (the bigram_logprob enumeration, shared by the
    PMI and TextRank edge builders)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.struct(
            F.element_at(w, (i + 1).cast("int")).alias("w1"),
            F.element_at(w, (i + 2).cast("int")).alias("w2"),
        ),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 3,
    k: int = 100,
) -> DataFrame:
    """Collocation extraction by pointwise mutual information (Church &
    Hanks 1990) — the classic corpus-linguistics pass a training-data
    pipeline runs to find multi-word expressions worth protecting from
    tokenizer splits: score every adjacent word pair by
    ``PMI = log2( P(w1,w2) / (P(w1)·P(w2)) )`` under corpus unigram /
    bigram frequencies, keep pairs seen ≥ ``min_count`` times, return the
    top-``k`` by (PMI desc, w1, w2) — a total order, so the slice is
    deterministic.

    The ratio is computed as ``(cb/B) / ((c1/T)·(c2/T))`` in doubles —
    NEVER as the integer product ``cb·T²`` (T ~ 10¹³ tokens at 100 TB
    overflows bigint); the fixed expression tree makes the double
    arithmetic bit-identical to the oracle's.

    Scale shape:
    - Unigram and bigram counting are one explode + map-side-partial
      groupBy each — shuffle volume ∝ distinct-gram cardinality, not
      corpus size.
    - The two totals are 1-row aggregates OF THE COUNT TABLES (never a
      corpus rescan) and broadcast.
    - The count-table joins (bigrams ⋈ unigrams on w1, then w2) are
      MERGE-HINTED: vocabulary grows super-Heaps with the corpus, and
      both sides are post-aggregation frames whose static size estimates
      the planner cannot be trusted with (the r6 doc-frequency broadcast
      OOM was exactly this shape).
    - ``min_count`` prunes BEFORE the joins (the overwhelming mass of a
      web corpus's bigrams are hapax pairs), and the final top-k is
      TakeOrderedAndProject — per-partition heaps, no global sort.
    """
    base = df.select(words(F.col(text_col)).alias("w"))
    w = F.col("w")
    bg = (
        base.filter(F.size(w) >= 2)
        .select(F.explode(_adjacent_pairs(w)).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    uc = (
        base.select(F.explode(w).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bc_all = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    bc = bc_all.filter(F.col("cb") >= min_count)
    # both totals are 1-row aggregates OF THE COUNT TABLES — deriving tb
    # from the pre-filter bigram counts (Σcb) instead of re-counting the
    # gram stream saves a full corpus rescan (the bigram_logprob
    # context-count convention); the corpus is read exactly twice (one
    # unigram explode, one bigram explode)
    totals = uc.agg(F.sum("c").alias("tt")).crossJoin(
        bc_all.agg(F.sum("cb").alias("tb"))
    )
    c1 = uc.select(F.col("t").alias("w1"), F.col("c").alias("c1"))
    c2 = uc.select(F.col("t").alias("w2"), F.col("c").alias("c2"))
    # ln(ratio)/ln(2), NOT F.log2: the registered oracle computes the
    # ln-ratio form, and log2() implementations differ in the last ulp
    # across libm builds — spelling the convention out keeps parity
    # independent of how Spark's Log2 happens to be implemented
    # (ADVICE r7).
    ratio = (F.col("cb") / F.col("tb")) / (
        (F.col("c1") / F.col("tt")) * (F.col("c2") / F.col("tt"))
    )
    pmi = F.log(ratio) / F.log(F.lit(2.0))
    return (
        bc.join(c1.hint("merge"), "w1")
        .join(c2.hint("merge"), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("cb").alias("pair_count"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(k)
    )


def textrank_edges(
    df: DataFrame, text_col: str = "text", min_len: int = 4
) -> DataFrame:
    """Word co-occurrence edges for TextRank (Mihalcea & Tarau 2004):
    lowercase the whitespace words, keep candidates of length ≥
    ``min_len`` (the cheap stand-in for the paper's POS filter), link
    ADJACENT candidates (window 2 over the filtered sequence), and emit
    distinct undirected edges ``(u < v)`` — the input shape of
    operators/graph.py:pagerank. Map-side until the final distinct."""
    toks = F.transform(
        F.filter(words(F.col(text_col)), lambda x: F.length(x) >= min_len),
        lambda x: F.lower(x),
    )
    base = df.select(toks.alias("w"))
    w = F.col("w")
    pairs = (
        base.filter(F.size(w) >= 2)
        .select(F.explode(_adjacent_pairs(w)).alias("p"))
        .filter(F.col("p.w1") != F.col("p.w2"))
    )
    return pairs.select(
        F.least("p.w1", "p.w2").alias("u"),
        F.greatest("p.w1", "p.w2").alias("v"),
    ).distinct()


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    iterations: int = 5,
    damping: float = 0.85,
    min_len: int = 4,
    k: int = 50,
) -> DataFrame:
    """Corpus-level TextRank keyword extraction: run the fixed-iteration
    6dp-lattice PageRank power method (operators/graph.py:pagerank —
    same kernel, same oracle-replayable rounding convention) over the
    word co-occurrence graph of ``textrank_edges`` and keep the top-``k``
    words by (score desc, word). Vertices are words, so every
    graph-sized join inherits pagerank's merge hints — the word graph
    grows with the vocabulary, never broadcastable."""
    from .graph import pagerank

    scores = pagerank(
        textrank_edges(df, text_col, min_len), iterations, damping
    )
    return (
        scores.select(
            F.col("vertex").alias("word"), F.col("pagerank").alias("score")
        )
        .orderBy(F.desc("score"), "word")
        .limit(k)
    )


def _bpe_merge_fold(syms: Column, a: Column, b: Column) -> Column:
    """Apply ONE BPE merge (a, b) → ab to a symbol array with the
    canonical greedy semantics: leftmost occurrence first, non-overlapping
    — "a a a a" under merge (a, a) becomes "(aa) (aa)", never "(aa) a a".
    A single map-side ``aggregate`` fold: state = (rebuilt prefix,
    pending symbol), where a hit emits the merged token and clears the
    pending slot so the merged token can never chain into the next
    occurrence within the same pass. '' is a safe pending-sentinel:
    symbols are never empty (chars of non-empty words plus '</w>')."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit("").alias("prev")
    )

    def step(acc, x):
        hit = (acc["prev"] == a) & (x == b)
        flushed = F.when(acc["prev"] == "", acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        )
        return F.struct(
            F.when(hit, F.concat(acc["out"], F.array(F.concat(a, b))))
            .otherwise(flushed)
            .alias("out"),
            F.when(hit, F.lit("")).otherwise(x).alias("prev"),
        )

    return F.aggregate(
        syms,
        init,
        step,
        lambda acc: F.when(acc["prev"] == "", acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        ),
    )


def bpe_learn(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """Byte-Pair-Encoding tokenizer TRAINING — the merge-application loop
    (Sennrich et al., ACL 2016, "Neural Machine Translation of Rare Words
    with Subword Units"; the tokenizer-training job every LLM corpus
    pipeline runs). ``text_bpe_pair_counts`` computes one round's pair
    statistics; this runs the actual loop: ``n_merges`` rounds of (count
    adjacent symbol pairs corpus-wide → take the max-count pair under a
    deterministic (count DESC, pair ASC) tie-break → apply the merge →
    re-count).

    Each round's vocab is localCheckpoint'ed (eager), not persist'ed:
    the vocab feeds BOTH the next round's pair count and the next
    rebuild, so the LOGICAL plan doubles per round — persist dedupes
    execution but the analyzer still walks the 2^N tree (measured: a
    ~9000-Exchange plan string at N=6), and a real tokenizer run is
    thousands of merges. Checkpointing truncates lineage to a leaf per
    round — the standard iterative-algorithm pattern (same call as
    sim_ivf_learned / pq_adc_topk, operators/similarity.py) — at the
    cost of one tiny vocab-sized materialization per round, exactly
    what a production loop would persist anyway.

    Returns ``(merges, vocab)``:
    - merges: (merge_rank, pair_a, pair_b, merged, cnt) — one row per
      learned merge, the model artifact a tokenizer ships;
    - vocab: (word, freq, syms, n_tokens) after all merges — the lookup
      table ``bpe_token_counts`` scores documents against.

    Scale shape (the classic BPE-on-Spark formulation): the loop runs
    over the DISTINCT-WORD table weighted by corpus frequency —
    vocabulary-sized state (Heaps' law), never corpus-sized — so each
    round is one explode+groupBy over ≤ Σ|word| symbol pairs of ≤ |vocab|
    rows with map-side partial aggregation, one distributed top-1
    (TakeOrderedAndProject — no global window), one broadcast of the
    1-row winner, and one map-side fold rebuilding symbol arrays; the
    per-round checkpoint (see above) keeps both the execution AND the
    analyzer tree linear in the number of merges. The checkpointed
    blocks outlive the call — long multi-query sessions should
    clearCache() between queries (tools/sweep.py does).

    Merge application is the canonical greedy semantics via
    ``_bpe_merge_fold``; the DuckDB oracle implements the SAME semantics
    with a run-parity rule (a matching position merges iff an even number
    of consecutive matches immediately precede it), so the two engines
    cross-check the algorithm, not just the arithmetic."""
    base = df.select(F.explode(words(F.col(text_col))).alias("word"))
    vocab = base.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    syms0 = F.concat(
        F.filter(F.split(F.col("word"), ""), lambda c: F.length(c) > 0),
        F.array(F.lit("</w>")),
    )
    vocab = vocab.select("word", "freq", syms0.alias("syms")).localCheckpoint(
        eager=True
    )
    merges: DataFrame | None = None
    for r in range(1, n_merges + 1):
        s = F.col("syms")
        pairs = F.transform(
            F.sequence(F.lit(1), F.size(s) - 1),
            lambda i: F.struct(
                F.element_at(s, i.cast("int")).alias("a"),
                F.element_at(s, (i + 1).cast("int")).alias("b"),
            ),
        )
        pc = (
            vocab.filter(F.size(s) >= 2)
            .select("freq", F.explode(pairs).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )
        top = (
            pc.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .select(
                F.lit(r).cast("long").alias("merge_rank"),
                F.col("a").alias("pair_a"),
                F.col("b").alias("pair_b"),
                F.concat("a", "b").alias("merged"),
                F.col("cnt").cast("long").alias("cnt"),
            )
        )
        merges = top if merges is None else merges.unionByName(top)
        # LEFT join on a constant key, not a crossJoin: when NO pair is
        # left to merge (every word fully collapsed — degenerate corpora
        # only), top is EMPTY and a crossJoin would wipe the vocabulary;
        # with null pair columns the fold's hit predicate is NULL →
        # otherwise-branch, i.e. a clean no-op pass-through (hypothesis
        # caught this on a single-word corpus).
        vocab = (
            vocab.withColumn("_k", F.lit(1))
            .join(
                F.broadcast(
                    top.select("pair_a", "pair_b").withColumn("_k", F.lit(1))
                ),
                "_k",
                "left",
            )
            .select(
                "word",
                "freq",
                _bpe_merge_fold(
                    F.col("syms"), F.col("pair_a"), F.col("pair_b")
                ).alias("syms"),
            )
            .localCheckpoint(eager=True)
        )
    out_vocab = vocab.select(
        "word", "freq", "syms", F.size("syms").cast("long").alias("n_tokens")
    )
    assert merges is not None
    return merges, out_vocab


def bpe_token_counts(
    df: DataFrame, vocab: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Score documents against a learned BPE vocabulary: per-document
    whitespace-word count and total subword-token count (the sequence
    length a tokenizer would produce — the number every packing/budget
    stage downstream consumes). The word→n_tokens join is HINT-FREE: a
    corpus vocabulary grows with the corpus (Heaps' law) and must never
    be force-broadcast (the VERDICT-r4 drop-list rule); AQE broadcasts
    only when the measured size fits."""
    w = df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("word"))
    return (
        w.join(vocab.select("word", "n_tokens"), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_bpe_tokens"),
        )
    )


def langid_ngram_profiles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    profile_size: int = 40,
    doc_ranks: int = 20,
) -> DataFrame:
    """Character-n-gram rank-order language ID (Cavnar & Trenkle 1994,
    "N-Gram-Based Text Categorization" — the classic pre-fastText langid
    and the upgrade path from the stopword-density heuristic of
    ``language_id``): per-label char-trigram profiles (top
    ``profile_size`` grams ranked by frequency), per-doc top
    ``doc_ranks`` gram ranks, out-of-place distance (absent gram =
    ``profile_size`` penalty), predict the min-distance label.

    Training and inference in one plan, both oracle-replayed (the
    learned-model gating precedent of text_classifier_score). Scale
    shape: trigram explosion shuffles ∝ corpus; BOTH model frames are
    bounded by construction — profiles ≤ labels × profile_size rows and
    the label set is a language inventory, not corpus-growing — so their
    forced broadcasts are legitimate (the fixed-size-model rule, not the
    vocab anti-pattern). Per-doc work after ranking is ≤ doc_ranks ×
    labels rows. Deterministic ties everywhere: (count DESC, gram) for
    ranks, (dist, label) for prediction."""
    from pyspark.sql import Window

    t = F.col(text_col)
    grams_arr = F.when(
        F.length(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - 2),
            lambda i: F.substring(t, i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # r17 (guide §2.4/§5): persist the trigram stream — its two consumers
    # shuffle by DIFFERENT keys ((lbl, gram) for the profile build, which
    # then broadcasts, and (doc_id, gram) for the doc ranks), so AQE
    # exchange reuse never unifies them and the char-trigram explode (the
    # dominant map CPU) ran once per consumer. The classifier_score /
    # dsir_resample gram-stream precedent; same documented cache
    # lifetime.
    g = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).alias("lbl"),
        F.explode(grams_arr).alias("gram"),
    ).persist()
    lp = (
        g.groupBy("lbl", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "prank",
            F.row_number().over(
                Window.partitionBy("lbl").orderBy(F.desc("c"), F.asc("gram"))
            ),
        )
        .filter(F.col("prank") <= profile_size)
        .select(F.col("lbl").alias("cand_lbl"), "gram", "prank")
    )
    dp = (
        g.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "drank",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("gram"))
            ),
        )
        .filter(F.col("drank") <= doc_ranks)
        .select("doc_id", "gram", "drank")
    )
    labels = df.select(F.col(label_col).alias("cand_lbl")).distinct()
    scored = (
        dp.crossJoin(F.broadcast(labels))
        .join(F.broadcast(lp), ["cand_lbl", "gram"], "left")
        .groupBy("doc_id", "cand_lbl")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("drank") - F.col("prank")),
                    F.lit(profile_size),
                )
            ).alias("dist")
        )
    )
    # r17: per-doc argmin as a map-side-combinable min(struct) — struct
    # order (dist ASC, cand_lbl ASC) ≡ the old row_number window's pick
    # exactly (integer dist; (doc_id, cand_lbl) rows unique). Replaces
    # the window's two sorted passes with two hash passes.
    pred = (
        scored.groupBy("doc_id")
        .agg(F.min(F.struct("dist", "cand_lbl")).alias("p"))
        .select(
            "doc_id",
            F.col("p.cand_lbl").alias("pred_lang"),
            F.col("p.dist").cast("long").alias("dist"),
        )
    )
    truth = df.select(F.col(id_col).alias("doc_id"), F.col(label_col).alias("lang"))
    return pred.join(truth, "doc_id").select(
        "doc_id",
        "lang",
        "pred_lang",
        "dist",
        (F.col("pred_lang") == F.col("lang")).alias("correct"),
    )


def dsir_resample(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    k: int = 100,
    scores_only: bool = False,
) -> DataFrame:
    """DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
    NeurIPS; the standard targeted data-selection stage between quality
    filtering and corpus shaping): score every document by the hashed
    n-gram log-likelihood ratio of a TARGET domain model vs the RAW
    corpus model, then draw a fixed-size sample via Gumbel top-k — which
    is exactly sampling-without-replacement with probability ∝ the
    importance weight.

    Deterministic throughout, so the whole pipeline is oracle-replayable:
    - features: unigrams + bigrams md5-hashed into ``n_buckets`` (the
      classifier_score feature space);
    - target domain: the same structural weak label classifier_score
      trains on (docs that look like curated prose) — DSIR's target
      would normally be a trusted corpus; deriving it from a
      deterministic predicate keeps the oracle exact while exercising
      the identical dataflow;
    - per-bucket log-ratio ``λ_b = ln((nt+1)/(tt+D)) − ln((nr+1)/(tr+D))``
      rounded to 6dp (the lattice convention), per-doc ``logw = Σ λ``
      rounded to 6dp;
    - Gumbel noise from the md5-u32 lattice draw (hex_uniform_u32):
      ``g = −ln(−ln((u32+0.5)/2^32))`` rounded to 6dp — no RNG state,
      retry/partition-invariant like every sampler in
      operators/training.py;
    - selection: global top-``k`` by (key DESC, doc_id) — plans as a
      distributed TakeOrderedAndProject, no single-partition window.

    Scale shape: the λ table is ≤ ``n_buckets`` rows regardless of corpus
    size — the fixed-size-model rule makes its broadcast legitimate (it
    is the model, like the classifier's weight vector); the gram stream
    is persisted because BOTH the count pass and the scoring pass consume
    it (without the barrier the split+bigram+md5 pipeline — the expensive
    part — runs twice; same documented cache lifetime as bpe_learn)."""
    from .training import hex_uniform_u32

    base = spread(df.select(F.col(id_col).alias("id"), words(F.col(text_col)).alias("w")))
    w = F.col("w")
    n_words = F.size(w)
    mean_wlen = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x)) / n_words
    )
    is_tgt = (
        (n_words >= 10)
        & (n_words <= 1000)
        & (mean_wlen >= 3.0)
        & (mean_wlen <= 10.0)
    )
    bigrams = F.when(
        n_words >= 2,
        F.transform(
            F.sequence(F.lit(0), n_words - 2),
            lambda i: F.concat_ws(
                "_",
                F.element_at(w, (i + 1).cast("int")),
                F.element_at(w, (i + 2).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    labeled = base.filter(n_words > 0).select(
        "id", is_tgt.alias("tgt"), F.concat(w, bigrams).alias("grams")
    )
    gb = labeled.select("id", "tgt", F.explode("grams").alias("gram")).select(
        "id",
        "tgt",
        (
            F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).alias("b"),
    ).persist()
    tgt_i = F.col("tgt").cast("int")
    cnt = gb.groupBy("b").agg(
        F.count(F.lit(1)).alias("nr"), F.sum(tgt_i).alias("nt")
    )
    tot = cnt.agg(F.sum("nr").alias("tr"), F.sum("nt").alias("tt"))
    dd = F.lit(float(n_buckets))
    lam = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log((F.col("nt") + 1.0) / (F.col("tt") + dd))
            - F.log((F.col("nr") + 1.0) / (F.col("tr") + dd)),
            6,
        ).alias("lam"),
    )
    scored = (
        gb.join(F.broadcast(lam), "b")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.round(F.sum("lam"), 6).alias("logw"),
        )
    )
    if scores_only:
        # the pre-Gumbel importance-weight frame (doc_id, n_grams,
        # logw) — consumed by the r9 ESS diagnostic, which needs the
        # WEIGHTS, not the draw
        return scored.select(
            F.col("id").alias("doc_id"), "n_grams", "logw"
        )
    u = (hex_uniform_u32(F.col("id")) + F.lit(0.5)) / F.lit(float(2**32))
    g6 = F.round(-F.log(-F.log(u)), 6)
    return (
        scored.select(
            F.col("id").alias("doc_id"),
            "n_grams",
            "logw",
            F.round(F.col("logw") + g6, 6).alias("gumbel_key"),
        )
        .orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(k)
    )


def bpe_segment(
    words_df: DataFrame,
    merges: DataFrame,
    n_merges: int,
    word_col: str = "word",
) -> DataFrame:
    """Tokenizer INFERENCE: segment arbitrary — including unseen — words
    with a LEARNED ranked merge list (the encode step of Sennrich et al.
    2016: apply each merge in training rank order to the char+'</w>'
    symbol sequence). ``bpe_token_counts`` covers corpus words via the
    trained vocab join; this is the path for words the training never
    saw — the actual production tokenizer shape.

    Each rank's merge is a 1-row frame LEFT-joined on a constant key
    (broadcast; a missing rank — merges list shorter than ``n_merges`` —
    yields null pairs and the fold no-ops, the bpe_learn convention) and
    applied with the same canonical leftmost-first fold. ``n_merges``
    is passed explicitly so the model row count never needs a driver
    action. Lineage is linear (each step has one consumer), and the
    per-step work is a map-side fold — no shuffle at all after the
    merges broadcast: segmentation of a 100 TB corpus is embarrassingly
    parallel once the (tiny, fixed) merge table ships."""
    out = words_df.select(
        F.col(word_col).alias("word"),
        F.concat(
            F.filter(F.split(F.col(word_col), ""), lambda c: F.length(c) > 0),
            F.array(F.lit("</w>")),
        ).alias("syms"),
    )
    for r in range(1, n_merges + 1):
        mk = (
            merges.filter(F.col("merge_rank") == r)
            .select("pair_a", "pair_b")
            .withColumn("_k", F.lit(1))
        )
        out = (
            out.withColumn("_k", F.lit(1))
            .join(F.broadcast(mk), "_k", "left")
            .select(
                "word",
                _bpe_merge_fold(
                    F.col("syms"), F.col("pair_a"), F.col("pair_b")
                ).alias("syms"),
            )
        )
    return out.select(
        "word",
        F.size("syms").cast("long").alias("n_tokens"),
        F.array_join("syms", " ").alias("segmented"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 retrieval (Robertson–Spärck Jones; the Lucene/Okapi ranking
    every search stack ships) for a fixed conjunctive-OR term set:
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with
    the Lucene idf form ln(1 + (N−df+0.5)/(df+0.5)). Top-k docs under
    the (6dp-rounded score desc, id) total order.

    Scale shape: the corpus-sized frames are the token explode and the
    per-doc (tf, dl) aggregates; everything query-term-sized (df table,
    N, avgdl) is a broadcast — the classic inverted-index probe
    expressed relationally. The rounded-score ranking is a
    TakeOrderedAndProject top-k, never a global sort."""
    from pyspark.sql import Window

    w = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    ).filter(F.length("word") > 0)
    dl = w.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    terms = w.filter(F.col("word").isin(list(query_terms)))
    tf = terms.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = (
        tf.join(F.broadcast(df_t), "word")
        .join(dl.hint("merge"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.round(F.sum("c"), 6).alias("bm25")
    )
    # top-k FIRST (TakeOrderedAndProject — per-partition heaps + driver
    # merge), THEN rank the k-row frame: an unpartitioned row_number
    # over `scored` would single-partition every doc matching any query
    # term. The (rounded bm25, doc_id) order is total, so rank-then-cut
    # and cut-then-rank agree exactly.
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)
    wd = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.select(
        "doc_id", "bm25", F.row_number().over(wd).cast("long").alias("rank")
    )


def chi2_keywords(
    docs: DataFrame,
    class_col: str = "lang",
    top_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-class discriminative keywords by chi-squared over the 2×2
    document-presence table (the classic feature-selection statistic —
    Yang & Pedersen 1997): for each (class, word), a = docs in class
    containing word, b = docs outside class containing it, c/d the
    complements; χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)). Top-k words per
    class under (χ² desc, word).

    Scale shape: presence pairs are DISTINCT (doc, word) — one explode +
    distinct; the (class, word) contingency derives from two vocab-sized
    count tables joined on word (merge-hinted: vocab grows with the
    corpus); class sizes and N are a broadcast dict-sized frame. All
    counts integers; the single float expression is fixed-tree + round 6."""
    from pyspark.sql import Window

    # persisted: FOUR consumers (class-word counts, word totals, class
    # sizes, N) would each replay the explode + distinct shuffle — the
    # r6 persist-before-fanout rule; 60× precedent on phash
    pres = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(class_col).alias("cls"),
            F.explode(F.split(F.col(text_col), " ")).alias("word"),
        )
        .filter(F.length("word") > 0)
        .distinct()
        .persist()
    )
    cls_word = pres.groupBy("cls", "word").agg(F.count(F.lit(1)).alias("a"))
    word_tot = pres.groupBy("word").agg(F.count(F.lit(1)).alias("wt"))
    cls_tot = pres.select("doc_id", "cls").distinct().groupBy("cls").agg(
        F.count(F.lit(1)).alias("ct")
    )
    n = pres.select("doc_id").distinct().agg(F.count(F.lit(1)).alias("n"))
    j = (
        cls_word.join(word_tot.hint("merge"), "word")
        .join(F.broadcast(cls_tot), "cls")
        .crossJoin(F.broadcast(n))
    )
    a = F.col("a").cast("double")
    bb = (F.col("wt") - F.col("a")).cast("double")
    c = (F.col("ct") - F.col("a")).cast("double")
    d = (F.col("n") - F.col("ct") - (F.col("wt") - F.col("a"))).cast("double")
    chi2 = (
        F.col("n").cast("double")
        * (a * d - bb * c)
        * (a * d - bb * c)
        / ((a + bb) * (c + d) * (a + c) * (bb + d))
    )
    # a word present in EVERY document has (c+d) = 0 → 0/0 NaN on both
    # engines (and zero discriminative power): filter it before scoring
    scored = j.filter(F.col("wt") < F.col("n")).select(
        "cls", "word", F.round(chi2, 6).alias("chi2")
    )
    wd = Window.partitionBy("cls").orderBy(F.desc("chi2"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(wd).cast("long"))
        .filter(F.col("rank") <= top_k)
    )


def perceptron_train(
    docs: DataFrame,
    rounds: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    positive: str = "en",
) -> DataFrame:
    """Batch-gradient perceptron (Rosenblatt 1958, the batch update
    w += Σ_{misclassified} y·x) on INTEGER features — the iteration-
    exact training loop: every quantity is an integer (labels ±1,
    features counts, weights integer sums), so the DuckDB oracle
    replays each round bit-for-bit with no float lattice at all — the
    strongest form of the Lloyd/BPE replay convention.

    Features per doc: x = (1 bias, word count, char count). One
    aggregation job per round computes the misclassified-set sums with
    map-side partials (three longs + a count); the weight vector is
    FIXED-SIZE driver state between rounds (the fixed-size-model rule —
    same shape as classifier_train's 1024-bucket table, smaller).
    Output: one row per round with the post-update weights and that
    round's misclassified count."""
    y = F.when(F.col(label_col) == positive, F.lit(1)).otherwise(F.lit(-1))
    feats = docs.select(
        y.alias("y"),
        F.lit(1).cast("long").alias("x0"),
        F.size(words(F.col(text_col))).cast("long").alias("x1"),
        F.length(F.col(text_col)).cast("long").alias("x2"),
    ).localCheckpoint(eager=True)  # two+ consumers: one agg per round

    w = [0, 0, 0]
    out_rows = []
    for r in range(1, rounds + 1):
        margin = F.col("y") * (
            w[0] * F.col("x0") + w[1] * F.col("x1") + w[2] * F.col("x2")
        )
        mis = F.when(margin <= 0, F.lit(1)).otherwise(F.lit(0))
        row = feats.agg(
            F.sum(mis * F.col("y") * F.col("x0")).alias("d0"),
            F.sum(mis * F.col("y") * F.col("x1")).alias("d1"),
            F.sum(mis * F.col("y") * F.col("x2")).alias("d2"),
            F.sum(mis).alias("n_miss"),
        ).collect()[0]
        w = [
            w[0] + int(row["d0"] or 0),
            w[1] + int(row["d1"] or 0),
            w[2] + int(row["d2"] or 0),
        ]
        out_rows.append((r, w[0], w[1], w[2], int(row["n_miss"] or 0)))
    return docs.sparkSession.createDataFrame(
        out_rows,
        "round long, w_bias long, w_words long, w_chars long, n_miss long",
    )


def kn_heldout_score(
    train: DataFrame,
    heldout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Held-out bigram LM scoring with interpolated Kneser–Ney smoothing
    (Kneser & Ney 1995; Chen & Goodman 1998 §2.7) — the piece
    ``bigram_logprob`` deliberately lacks: that model scores its OWN
    training corpus (every transition exists, no smoothing needed),
    which is useless for the real CCNet filter shape of "train on clean
    text, score NEW crawl text" where unseen bigrams are the norm and an
    unsmoothed model emits -inf. Per held-out transition:

        P_cont(w2) = (N1+(·w2) + 1) / (B + V)          continuation
        P(w2|w1)   = (max(c(w1,w2) − D, 0)
                      + D · N1+(w1·) · P_cont(w2)) / c(w1·)   if w1 seen
                   = P_cont(w2)                               if w1 unseen

    with D = ``discount`` (0.75, exact in binary), B = distinct bigram
    types, V = train unigram vocabulary. The +1/(B+V) floor on the
    continuation distribution (add-one at the TYPE level, not the token
    level) keeps fully-unseen w2 scoreable — textbook KN assigns such
    words zero mass, which would reintroduce the -inf this operator
    exists to remove. P ≤ 1 by construction (the discounted mass Σmax(c−D,0)
    = c(w1·) − D·N1+(w1·) and the redistributed mass ≤ D·N1+(w1·)).

    Determinism: each transition's −ln P is snapped to the 1e-6 BIGINT
    lattice BEFORE the per-doc sum (the time-decay rule: integer sums
    are order-independent, so no float-reassociation drift across
    partitionings); the mean is then rounded to the lattice in INTEGER
    arithmetic — (2·Σ + n) div (2n), half-up by construction — so the
    reported mean never depends on either engine's float-tie rule (an
    odd lattice sum over 2 transitions lands exactly on a .5×10⁻⁶ tie,
    where Spark's HALF_UP and a libm-round disagree; caught by the
    Python-replay test).

    Scale shape: one corpus explode per split; the three model tables
    (bigram counts, per-context stats, per-continuation stats) shuffle
    ∝ bigram-type cardinality with map-side partials; score-time joins
    against them are merge-hinted (bigram vocabulary grows super-Heaps —
    the r6 broadcast-OOM rule); the (B, V) totals are a 1-row broadcast.

    Reference scope: beyond GISAID_Pipeline_Functions (an LLM-pipeline
    extension; nearest kin is the frequency tables of
    Mutation_Functions.py count aggregation)."""
    w = F.col("w")
    base_t = train.select(words(F.col(text_col)).alias("w"))
    bg_t = (
        base_t.filter(F.size(w) >= 2)
        .select(F.explode(_adjacent_pairs(w)).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bc = bg_t.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    ctx = bc.groupBy("w1").agg(
        F.sum("cb").alias("cw"), F.count(F.lit(1)).alias("n1f")
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    totals = bc.agg(F.count(F.lit(1)).alias("bt")).crossJoin(
        base_t.select(F.explode(w).alias("tok")).agg(
            F.count_distinct("tok").alias("v")
        )
    )

    bg_h = (
        heldout.select(F.col(id_col), words(F.col(text_col)).alias("w"))
        .filter(F.size(w) >= 2)
        .select(id_col, F.explode(_adjacent_pairs(w)).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    d = F.lit(float(discount))
    pcont = (F.col("n1b_f") + F.lit(1.0)) / (F.col("bt") + F.col("v"))
    seen_p = (
        F.greatest(F.col("cb_f") - d, F.lit(0.0))
        + d * F.col("n1f") * pcont
    ) / F.col("cw")
    p = F.when(F.col("cw").isNull(), pcont).otherwise(seen_p)
    lat = F.round(-F.log(p) * F.lit(1000000.0), 0).cast("long")
    scored = (
        bg_h.join(bc.hint("merge"), ["w1", "w2"], "left")
        .join(ctx.hint("merge"), "w1", "left")
        .join(cont.hint("merge"), "w2", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.coalesce(F.col("cb"), F.lit(0)).cast("double").alias("cb_f"),
            F.coalesce(F.col("n1b"), F.lit(0)).cast("double").alias("n1b_f"),
            "cw",
            "n1f",
            "bt",
            "v",
        )
        .select(
            F.col(id_col),
            lat.alias("lat"),
            F.when(F.col("cb_f") == 0.0, F.lit(1)).otherwise(F.lit(0)).alias("unseen"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.sum("unseen").cast("long").alias("n_unseen_bigrams"),
            F.sum("lat").alias("sl"),
        )
    )
    me6 = F.expr("(2 * sl + n_transitions) div (2 * n_transitions)")
    mean = me6.cast("double") / F.lit(1000000.0)
    return scored.select(
        F.col(id_col),
        "n_transitions",
        "n_unseen_bigrams",
        mean.alias("mean_neg_logprob"),
        F.round(F.exp(mean), 6).alias("perplexity"),
    )


def naive_bayes_confusion(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """Multinomial Naive Bayes with add-one smoothing, trained and
    scored on the corpus itself (the self-consistency convention of
    bigram_logprob), returning the label confusion matrix
    ``(actual, predicted, n_docs)`` — the classic bag-of-words
    language/domain classifier (McCallum & Nigam, AAAI'98 workshop).

    Parity: token and class counts are exact integers; the only floats
    are ``ll(w,c) = ln((count+1)/(total_c+V))`` and the prior, both
    6dp-rounded (ln is the proven cross-engine libm call —
    bigram_logprob/PMI precedent); per-doc scores are
    Σ cnt·ll + prior, re-rounded to 6 before the (score desc, label
    asc) argmax so summation order can't flip a prediction. Docs with
    no tokens fall back to the prior-only score via the left join.

    Scale shape: one explode + two grouped passes build the model (all
    map-side partial); the DENSE word×label likelihood table is
    |V|·|labels| rows (labels a small constant) built with a broadcast
    of the label totals and the 1-row vocab size — the word-keyed join
    of doc term counts against it is merge-hinted on both sides (vocab
    and corpus both grow); the argmax is a per-doc window, never
    global.
    """
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(label_col).alias("actual"),
        F.col(text_col).alias("text"),
    )
    tok = base.select(
        "doc_id", "actual", F.explode(words(F.col("text"))).alias("word")
    )
    docword = tok.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wl = tok.groupBy("word", F.col("actual").alias("label")).agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = wl.groupBy("label").agg(F.sum("c").alias("t"))
    vocab = wl.select("word").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    dense = (
        vocab.crossJoin(F.broadcast(tot))
        .join(wl.hint("merge"), ["word", "label"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "word",
            "label",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("t") + F.col("v")).cast("double")
                ),
                6,
            ).alias("ll"),
        )
    )
    sumll = (
        docword.join(dense.hint("merge"), "word")
        .groupBy("doc_id", "label")
        .agg(F.sum(F.col("cnt") * F.col("ll")).alias("s"))
    )
    ndocs = base.agg(F.count(F.lit(1)).alias("n_total"))
    priors = (
        base.groupBy(F.col("actual").alias("label"))
        .agg(F.count(F.lit(1)).alias("n_label"))
        .crossJoin(F.broadcast(ndocs))
        .select(
            "label",
            F.round(
                F.log(F.col("n_label").cast("double") / F.col("n_total")), 6
            ).alias("prior"),
        )
    )
    scored = (
        base.select("doc_id", "actual")
        .crossJoin(F.broadcast(priors))
        .join(sumll.hint("merge"), ["doc_id", "label"], "left")
        .select(
            "doc_id",
            "actual",
            "label",
            F.round(
                F.col("prior") + F.coalesce(F.col("s"), F.lit(0.0)), 6
            ).alias("score"),
        )
    )
    # r17: per-doc argmax as a map-side-combinable min(struct) — min
    # over (-score, label) ≡ the old (score DESC, label ASC) window pick
    # (IEEE negation is exact and order-reversing, -0.0 < 0.0 keeps the
    # 0-tie orientation; (doc_id, label) rows unique). Two hash passes
    # instead of the window's two sorted passes.
    # ADVICE r17: this identity additionally RELIES ON score never being
    # NaN — min(struct) sorts NaN greatest so a NaN-scored label would
    # never win, while the old row_number over desc(score) picked it
    # first. Unreachable today (score = round(prior + finite log terms)),
    # but any score-expression change must re-run the recheck reasoning.
    pred = (
        scored.groupBy("doc_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("score")).alias("ns"), F.col("label"), F.col("actual")
                )
            ).alias("p")
        )
        .select(
            F.col("p.actual").alias("actual"),
            F.col("p.label").alias("predicted"),
        )
    )
    return pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def span_corruption(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 3,
    mask_rate_16ths: int = 4,
) -> DataFrame:
    """T5-style span corruption (Raffel et al., JMLR 2020 §3.1.4) as a
    deterministic batch transform — the denoising-objective data prep a
    pretraining pipeline runs over the whole corpus: words are grouped
    into fixed ``span_words`` spans, a span is masked iff the first hex
    digit of ``md5(doc_id|span_no)`` is below ``mask_rate_16ths`` (a
    portable hash draw, the stratified-sample convention — identical
    literals in both engines, reproducible under retries), and each
    masked span collapses to a numbered sentinel ``<extra_id_k>`` in
    reading order.

    Output: ``(doc_id, corrupted, n_spans, n_words_masked)`` with
    canonical single-space joins; word-free docs pass through with an
    empty corruption.

    Scale shape: one explode + two grouped rebuilds, all map-side
    expressions (md5 draw, array_sort+transform reassembly) — the only
    shuffles are the two doc-keyed groupBys; the sentinel numbering is
    a per-doc window over MASKED spans only, never global."""
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    toks = base.select(
        "doc_id", F.posexplode(words(F.col("text"))).alias("pos", "w")
    )
    grp = (
        toks.groupBy("doc_id", F.floor(F.col("pos") / span_words).alias("g"))
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
            ).alias("chunk"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .withColumn(
            "masked",
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit("|"),
                            F.col("g").cast("string"),
                        )
                    ),
                    1,
                    1,
                ),
            )
            <= mask_rate_16ths,
        )
    )
    grp = grp.withColumn(
        "k",
        F.when(
            F.col("masked"),
            F.row_number().over(
                Window.partitionBy("doc_id", "masked").orderBy("g")
            )
            - 1,
        ),
    ).select(
        "doc_id",
        "g",
        F.when(
            F.col("masked"),
            F.concat(F.lit("<extra_id_"), F.col("k"), F.lit(">")),
        )
        .otherwise(F.col("chunk"))
        .alias("token"),
        F.col("masked"),
        F.when(F.col("masked"), F.col("n_words")).otherwise(F.lit(0)).alias(
            "mw"
        ),
    )
    rebuilt = grp.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("g", "token"))),
                lambda s: s["token"],
            ),
        ).alias("corrupted"),
        F.sum(F.col("masked").cast("long")).alias("n_spans"),
        F.sum("mw").alias("n_words_masked"),
    )
    return (
        base.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("corrupted"), F.lit("")).alias("corrupted"),
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("n_words_masked"), F.lit(0)).alias(
                "n_words_masked"
            ),
        )
    )


def unigram_lm_em(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece_len: int = 4,
    min_count: int = 2,
    rounds: int = 2,
) -> DataFrame:
    """SentencePiece-style unigram language-model tokenizer training
    (Kudo, ACL 2018) — the EM alternative to :func:`bpe_learn`: seed a
    substring vocabulary, then alternate Viterbi-best segmentation of
    every word (E-step) with piece-probability re-estimation from the
    segment counts (M-step).

    Determinism/parity: piece log-probs live on an INTEGER micro
    lattice (ll_u = half-up(ln((cnt+1)/(total+V))·10⁶), Laplace over
    the fixed seed vocab so M-step zeros stay finite), which makes
    every Viterbi path score an EXACT BIGINT sum — the DP argmax
    compares integers with the (score desc, start asc) tie-break
    encoded as one comparable key, so segmentations can never drift
    between engines; the oracle replays both EM rounds position by
    position with unrolled DP CTEs.

    Scale shape (why this is the 100 TB tokenizer-training plan):
    - Everything after the first explode is VOCABULARY-sized, not
      corpus-sized: word frequencies are one map-side-partial groupBy
      over the corpus; the E-step DP runs per DISTINCT word (a fold
      over ≤ |word| positions with ≤ max_piece_len·|word| candidate
      pieces — interpreted HOF over short arrays), and the M-step is a
      groupBy over path pieces weighted by word frequency.
    - The piece-lookup join (word substrings × current vocab) is
      merge-hinted on both sides — vocabulary and substring tables both
      grow with the corpus (Heaps' law), the r6 estimate rule.
    - Per-round model state (the vocab ll table) is vocab-sized and
      feeds two consumers (next E-step join + the output), so it is
      localCheckpoint-ed per round (the r7 iterative-state rule).
    Candidate-vocab PRUNING (drop pieces whose EM count stays 0 and
    re-normalize, SentencePiece's shrinking schedule) is the documented
    next step for open-vocabulary corpora; the fixed-seed-vocab EM here
    is the complete inner loop it wraps.
    """
    wf = (
        docs.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)
    )
    L = max_piece_len
    # seed vocabulary: every substring (s, e) of every distinct word,
    # length <= L, weighted by word frequency with multiplicity
    subs = wf.select(
        "word",
        "freq",
        F.explode(
            F.sequence(F.lit(0), F.length("word") - 1)
        ).alias("s"),
    ).select(
        "word",
        "freq",
        "s",
        F.explode(
            F.sequence(
                F.col("s") + 1,
                F.least(F.col("s") + L, F.length("word")),
            )
        ).alias("e"),
    ).select(
        F.expr("substr(word, s + 1, e - s)").alias("piece"), "freq"
    )
    vocab = (
        subs.groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .filter(
            (F.col("cnt") >= min_count) | (F.length("piece") == 1)
        )
        .localCheckpoint(eager=True)
    )
    vtot = vocab.agg(
        F.count(F.lit(1)).alias("v"), F.sum("cnt").alias("total")
    )

    def llu(cnt_col, total_col, v_col):
        return F.floor(
            F.log(
                (cnt_col + 1).cast("double") / (total_col + v_col).cast("double")
            )
            * 1000000.0
            + 0.5
        ).cast("long")

    model = vocab.crossJoin(F.broadcast(vtot)).select(
        "piece", llu(F.col("cnt"), F.col("total"), F.col("v")).alias("ll_u")
    ).localCheckpoint(eager=True)

    acc_type = (
        "array<struct<su:bigint,path:array<struct<s:int,e:int>>>>"
    )
    counts = None
    for _ in range(rounds):
        # E-step: per distinct word, collect candidate pieces with their
        # current scores, then Viterbi via an integer-score fold
        cand = (
            wf.select(
                "word",
                "freq",
                F.explode(F.sequence(F.lit(0), F.length("word") - 1)).alias(
                    "s"
                ),
            )
            .select(
                "word",
                "freq",
                "s",
                F.explode(
                    F.sequence(
                        F.col("s") + 1,
                        F.least(F.col("s") + L, F.length("word")),
                    )
                ).alias("e"),
            )
            .select(
                "word",
                "freq",
                F.col("s").cast("int").alias("s"),
                F.col("e").cast("int").alias("e"),
                F.expr("substr(word, s + 1, e - s)").alias("piece"),
            )
            .join(model.hint("merge"), "piece")
            .groupBy("word", "freq")
            .agg(
                F.collect_list(F.struct("s", "e", "ll_u")).alias("pieces")
            )
        )
        init = F.array(
            F.struct(
                F.lit(0).cast("bigint").alias("su"),
                F.array().cast("array<struct<s:int,e:int>>").alias("path"),
            )
        ).cast(acc_type)

        def step(acc, j):
            cs = F.filter(
                F.col("pieces"), lambda p: p["e"] == j.cast("int")
            )
            scored = F.transform(
                cs,
                lambda p: F.struct(
                    (
                        F.element_at(acc, p["s"] + 1)["su"] + p["ll_u"]
                    ).alias("su"),
                    p["s"].alias("s"),
                    p["e"].alias("e"),
                ),
            )
            keys = F.transform(
                scored,
                lambda c: c["su"] * 128 + (127 - c["s"].cast("bigint")),
            )
            bk = F.array_max(keys)
            best = F.element_at(
                F.filter(
                    scored,
                    lambda c: (c["su"] * 128 + (127 - c["s"].cast("bigint")))
                    == bk,
                ),
                1,
            )
            entry = F.struct(
                best["su"].alias("su"),
                F.concat(
                    F.element_at(acc, best["s"] + 1)["path"],
                    F.array(F.struct(best["s"].alias("s"), best["e"].alias("e"))),
                ).alias("path"),
            )
            return F.concat(acc, F.array(entry))

        folded = F.aggregate(
            F.sequence(F.lit(1), F.length("word")), init, step
        )
        segs = cand.select(
            "word",
            "freq",
            F.explode(
                F.element_at(folded, F.length("word") + 1)["path"]
            ).alias("pc"),
        ).select(
            F.expr("substr(word, pc.s + 1, pc.e - pc.s)").alias("piece"),
            "freq",
        )
        counts = segs.groupBy("piece").agg(F.sum("freq").alias("cnt"))
        # M-step: Laplace re-estimate over the FIXED seed vocab
        joined = (
            vocab.select("piece")
            .join(counts.hint("merge"), "piece", "left")
            .select(
                "piece", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
            )
        )
        tot = joined.agg(
            F.count(F.lit(1)).alias("v"), F.sum("cnt").alias("total")
        )
        model = (
            joined.crossJoin(F.broadcast(tot))
            .select(
                "piece",
                "cnt",
                llu(F.col("cnt"), F.col("total"), F.col("v")).alias("ll_u"),
            )
            .localCheckpoint(eager=True)
        )
    return model.select(
        "piece",
        F.col("cnt").cast("long").alias("n_count"),
        (F.col("ll_u").cast("double") / 1000000.0).alias("ll"),
    )
