"""Scale-linearity probe: run selected operators at 1x and Nx the
documents table (union with shifted ids — same distribution, N times the
rows) and report the wall ratio. An operator whose plan is linear in the
corpus should scale ~Nx or better (more rows amortize fixed overhead); a
super-linear ratio flags a hidden quadratic (all-pairs stage, global
window, driver collect).

Usage:  python tools/scale_probe.py [sf_dir] [N] [cpus]
        (defaults: /root/testdata/sf0.1, 10, 16)

The probe reuses the REGISTERED query functions where possible by
swapping the documents scan for the replicated frame via a temp view —
operators that read via load_table can't be intercepted, so the probe
calls the operator functions directly on the replicated DataFrame.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gisaid_pipeline_functions_spark.session import get_spark  # noqa: E402
from tools.harness import time_noop  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 16

    from pyspark.sql import functions as F

    # the bench session: its 8 GiB heap holds the TWO localCheckpointed
    # corpora (1x and Nx, plus the disjoint-vocab pair) in block storage
    # while timing, so storage pressure doesn't masquerade as an operator
    # OOM; the RATIO is the signal
    spark = get_spark("gisaid-pipeline-scale-probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    from gisaid_pipeline_functions_spark.sources.tables import load_table

    docs1 = load_table(spark, sf_dir, "documents")
    base_n = docs1.count()
    # N copies with disjoint ids; localCheckpoint so the union cost isn't
    # re-paid inside every timed pipeline
    docsN = docs1
    for i in range(1, n):
        docsN = docsN.unionByName(
            docs1.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        )
    docsN = docsN.repartition(cpus).localCheckpoint(eager=True)
    docs1 = docs1.repartition(cpus).localCheckpoint(eager=True)
    print(f"rows: 1x={base_n}  {n}x={docsN.count()}")

    # Hot-key canary (ADVICE r17): the windowed dup-marking in
    # span_surgery / exactsubstr_chars concentrates each gram/anchor key
    # on ONE window task (no AQE skew split for windows), a trade
    # justified by doc-frequency-bounded keys; and the r18 pair-generator
    # hot-bucket guard chunks buckets above ~1e5 members. Report the max
    # per-key row count for the two marking key families on the Nx
    # corpus so a corpus that breaks the bounded assumption is caught
    # BEFORE a window task OOMs or straggles. The anchor stream (ah) is a
    # winnowed SUBSET of the char-gram occurrences, so the char-gram max
    # upper-bounds the per-key anchor count too.
    w5 = F.split(F.col("text"), " ")
    word_keys = docsN.select(
        F.explode(
            F.when(
                F.size(w5) >= 5,
                F.transform(
                    F.sequence(F.lit(0), F.size(w5) - 5),
                    lambda i: F.concat_ws(
                        " ",
                        *[F.element_at(w5, (i + j + 1).cast("int")) for j in range(5)],
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("k")
    )
    t25 = F.col("text")
    char_keys = docsN.select(
        F.explode(
            F.when(
                F.length(t25) >= 25,
                F.transform(
                    F.sequence(F.lit(1), F.length(t25) - 24),
                    lambda i: t25.substr(i.cast("int"), F.lit(25)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("k")
    )
    for label, keyed in (("word-5gram (span_surgery h)", word_keys),
                         ("char-25gram (exactsubstr gh, bounds ah)", char_keys)):
        mx = keyed.groupBy("k").count().agg(F.max("count")).collect()[0][0]
        flag = "  ** EXCEEDS 1e5 window/bucket assumption **" if (mx or 0) > 100_000 else ""
        print(f"hot-key canary {label:42s}: max per-key rows = {mx}{flag}")

    from gisaid_pipeline_functions_spark.operators.dedup import span_surgery
    from gisaid_pipeline_functions_spark.operators.multimodal import (
        media_with_header,
        phash_near_dups,
    )
    from gisaid_pipeline_functions_spark.operators.text import (
        bigram_logprob,
        classifier_score,
        langid_ngram_profiles,
    )

    # Disjoint-vocabulary replication for PAIR-GENERATING operators:
    # plain replication makes every copy of a doc an exact duplicate of
    # its N−1 siblings, so the OUTPUT grows ~N² for data reasons and the
    # probe would flag a false quadratic. Prefixing every word with the
    # copy index keeps each copy's within-copy near-dup structure intact
    # while zeroing cross-copy similarity — the ratio then measures the
    # algorithm, not the manufactured duplicates.
    def _tag_words(df, i):
        return df.withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda w: F.concat(F.lit(f"c{i}_"), w),
                ),
                " ",
            ),
        )

    docs1_tag = _tag_words(docs1, 0).localCheckpoint(eager=True)
    docsN_tag = _tag_words(docs1, 0)
    for i in range(1, n):
        docsN_tag = docsN_tag.unionByName(
            _tag_words(docs1, i).withColumn(
                "doc_id", F.col("doc_id") + F.lit(i * 10_000_000)
            )
        )
    docsN_tag = docsN_tag.repartition(cpus).localCheckpoint(eager=True)

    from gisaid_pipeline_functions_spark.operators.dedup import (
        prefix_filter_pairs,
        word_shingles,
    )

    def _prefix_filter(d):
        tokens = word_shingles(d, "doc_id", "text", k=3, distinct=True).select(
            "id", F.col("shingle").alias("token")
        )
        return prefix_filter_pairs(tokens, threshold=0.5)

    from gisaid_pipeline_functions_spark.operators.text import (
        bpe_learn,
        dsir_resample,
    )

    ops = {
        "span_surgery": lambda d: span_surgery(d, "doc_id", "text", k=5, min_run=3),
        "classifier_score": lambda d: classifier_score(d),
        "bigram_logprob": lambda d: bigram_logprob(d),
        "langid_profiles": lambda d: langid_ngram_profiles(d),
        "phash_near_dups": lambda d: phash_near_dups(
            media_with_header(d), skip_header_bytes=10
        ),
        # r7: DSIR — gram pipeline is corpus-linear, model state fixed-D
        "dsir_resample": lambda d: dsir_resample(d),
    }

    def timed(fn, d) -> float:
        return time_noop(lambda: fn(d)).total_s

    print(f"{'operator':22s} {'1x':>8s} {f'{n}x':>8s} {'ratio':>7s}  (linear = {n}.0)")
    for name, fn in ops.items():
        t1 = timed(fn, docs1)
        tn = timed(fn, docsN)
        print(f"{name:22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}")
    # r7: BPE training on the DISJOINT-VOCAB copies — plain replication
    # leaves the distinct-word table unchanged (the loop would do
    # identical work at Nx); tagged copies grow the vocabulary Nx, so
    # the ratio measures the vocab-linear merge loop honestly.
    from gisaid_pipeline_functions_spark.operators.text import (
        pmi_collocations,
        textrank_keywords,
    )

    for name, fn, note in (
        ("prefix_filter_pairs", _prefix_filter, "disjoint-vocab copies"),
        (
            "bpe_learn",
            lambda d: bpe_learn(d, n_merges=6)[0],
            "disjoint-vocab copies",
        ),
        # r7b: PMI counts are gram-table-linear; tagged copies grow the
        # unigram/bigram vocabularies Nx (plain replication would leave
        # the count tables' KEYS unchanged and only scale the explode)
        ("pmi_collocations", lambda d: pmi_collocations(d), "disjoint-vocab copies"),
        # r7b: TextRank word graph — tagged copies give an Nx-vertex
        # graph with zero cross-copy edges (N disjoint word components)
        (
            "textrank_keywords",
            lambda d: textrank_keywords(d, iterations=5),
            "disjoint-vocab copies",
        ),
    ):
        t1 = timed(fn, docs1_tag)
        tn = timed(fn, docsN_tag)
        print(f"{name:22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  ({note})")

    # r8: chi2 presence state is vocab×class-sized — tagged copies grow
    # the vocabulary Nx (the BPE/PMI convention); BM25 runs on PLAIN
    # copies (tagged words would empty the literal query-term postings —
    # the corpus-side work is the explode + per-doc length table, which
    # plain replication grows Nx honestly); the pixel dHash runs on
    # tagged copies so cross-copy rasters differ and the pair count
    # can't go quadratic for data reasons; WAV stats is per-row.
    from gisaid_pipeline_functions_spark.operators.multimodal import (
        bmp_phash_near_dups,
        documents_as_bmp,
        documents_as_wav,
        wav_decode_stats,
    )
    from gisaid_pipeline_functions_spark.operators.text import (
        bm25_topk,
        chi2_keywords,
    )

    for name, fn, d1, dn, note in (
        ("chi2_keywords", lambda d: chi2_keywords(d), docs1_tag, docsN_tag,
         "disjoint-vocab copies"),
        ("bm25_topk", lambda d: bm25_topk(d, ["data", "merge", "vector"]),
         docs1, docsN, "plain copies"),
        ("bmp_pixel_phash", lambda d: bmp_phash_near_dups(documents_as_bmp(d)),
         docs1_tag, docsN_tag, "disjoint-vocab copies"),
        ("wav_stats", lambda d: wav_decode_stats(documents_as_wav(d)),
         docs1, docsN, "plain copies"),
    ):
        t1 = timed(fn, d1)
        tn = timed(fn, dn)
        print(f"{name:22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  ({note})")

    # graph linearity: N disjoint vertex-shifted copies of the co-purchase
    # graph → triangle output exactly N× (degree distribution preserved,
    # zero cross-copy edges), so a super-linear wall ratio means the wedge
    # bound or the persist regressed, never the data
    from gisaid_pipeline_functions_spark.operators.graph import triangle_counts

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 35)
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    bb = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    edges1 = (
        a.join(bb, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    edgesN = edges1
    for i in range(1, n):
        shift = F.lit(i * 10_000_000)
        edgesN = edgesN.unionByName(
            edges1.select(
                (F.col("u") + shift).alias("u"), (F.col("v") + shift).alias("v")
            )
        )
    edgesN = edgesN.repartition(cpus).localCheckpoint(eager=True)
    t1 = timed(triangle_counts, edges1)
    tn = timed(triangle_counts, edgesN)
    print(f"{'triangle_counts':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (disjoint vertex-shifted copies)")

    # r7: PageRank on the same disjoint copies — per-copy rank mass is
    # 1/(N·V) vs 1/V, but the JOIN/agg volume is exactly N×, which is
    # what the ratio measures
    from gisaid_pipeline_functions_spark.operators.graph import pagerank

    t1 = timed(lambda e: pagerank(e, iterations=5), edges1)
    tn = timed(lambda e: pagerank(e, iterations=5), edgesN)
    print(f"{'pagerank':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (disjoint vertex-shifted copies)")

    # r7b: LPA on the same disjoint copies — per-round join/vote volume
    # is exactly Nx; the per-dst window ranks within vertices, so copies
    # can't interact
    from gisaid_pipeline_functions_spark.operators.graph import label_propagation

    t1 = timed(lambda e: label_propagation(e, iterations=4), edges1)
    tn = timed(lambda e: label_propagation(e, iterations=4), edgesN)
    print(f"{'label_propagation':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (disjoint vertex-shifted copies)")

    # r7b: k-core peeling — per-copy peel cascades are identical, so
    # output and per-round work are exactly Nx
    from gisaid_pipeline_functions_spark.operators.graph import kcore_peel

    t1 = timed(lambda e: kcore_peel(e, k=10, rounds=4), edges1)
    tn = timed(lambda e: kcore_peel(e, k=10, rounds=4), edgesN)
    print(f"{'kcore_peel':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (disjoint vertex-shifted copies)")

    # r8: link prediction with the degree cap ACTIVE on a graph whose
    # HUBS GROW with scale (VERDICT r7 #6 — the vertex-shifted copies
    # above can't test this: they replicate hubs instead of fattening
    # them). Complete bipartite K(H, L): H=40 hub vertices, L leaves,
    # L grows Nx — hub degree L at 1x, N·L at Nx, so the UNCAPPED wedge
    # volume grows N² (hub centers contribute L² wedges each) while the
    # capped plan bounds every hub at cap²; a ~N ratio here means the
    # cap turned the power-law head sub-quadratic.
    from gisaid_pipeline_functions_spark.operators.graph import link_prediction

    H, L = 40, 250
    def _star(mult: int):
        return (
            spark.range(H * L * mult)
            .selectExpr(f"id % {H} AS u", f"{H} + id div {H} AS v")
            .repartition(cpus)
            .localCheckpoint(eager=True)
        )

    star1, starN = _star(1), _star(n)
    t1 = timed(
        lambda e: link_prediction(e, min_cn=2, k=100, degree_cap=64), star1
    )
    tn = timed(
        lambda e: link_prediction(e, min_cn=2, k=100, degree_cap=64), starN
    )
    print(
        f"{'link_pred_capped':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}"
        f"  (K({H},L) with L growing {n}x: hub degree grows {n}x, cap=64)"
    )

    # r8b: KN held-out scoring — tagged copies grow the bigram/unigram
    # vocabularies Nx (the BPE/PMI convention), so all three model
    # tables AND the score-time merge joins scale honestly; char-level
    # ExactSubstr runs on tagged copies too (the c<i>_ word prefixes
    # perturb every 25-char gram, so cross-copy dup is zero and the
    # candidate set stays ~linear — plain replication would make every
    # doc a 100%-duplicated candidate and probe the data, not the plan)
    from gisaid_pipeline_functions_spark.operators.dedup import (
        exactsubstr_chars,
    )
    from gisaid_pipeline_functions_spark.operators.text import (
        kn_heldout_score,
    )

    def _kn(d):
        return kn_heldout_score(
            d.filter(F.col("doc_id") % 5 != 0),
            d.filter(F.col("doc_id") % 5 == 0),
        )

    for name, fn in (
        ("kn_heldout_score", _kn),
        (
            "exactsubstr_chars",
            lambda d: exactsubstr_chars(d, "doc_id", "text"),
        ),
    ):
        t1 = timed(fn, docs1_tag)
        tn = timed(fn, docsN_tag)
        print(f"{name:22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (disjoint-vocab copies)")

    # r9: Naive Bayes on disjoint-vocab copies — vocabulary, the dense
    # V x label model table, and the word-keyed scoring join all grow Nx
    # (labels stay constant); span corruption and WAV energy framing on
    # plain shifted copies (per-doc map-side work, linear by shape)
    from gisaid_pipeline_functions_spark.operators.multimodal import (
        documents_as_wav,
        wav_energy_windows,
    )
    from gisaid_pipeline_functions_spark.operators.text import (
        naive_bayes_confusion,
        span_corruption,
    )

    t1 = timed(lambda d: naive_bayes_confusion(d), docs1_tag)
    tn = timed(lambda d: naive_bayes_confusion(d), docsN_tag)
    print(f"{'naive_bayes':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (disjoint-vocab copies)")

    # r9: unigram-LM EM on disjoint-vocab copies — the word table, seed
    # vocabulary, candidate join and DP all grow Nx (the corpus-sized
    # stage is only the word-frequency scan)
    from gisaid_pipeline_functions_spark.operators.text import (
        unigram_lm_em,
    )

    t1 = timed(lambda d: unigram_lm_em(d), docs1_tag)
    tn = timed(lambda d: unigram_lm_em(d), docsN_tag)
    print(f"{'unigram_lm_em':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (disjoint-vocab copies)")
    for name, fn in (
        ("span_corruption", lambda d: span_corruption(d)),
        ("wav_energy_windows",
         lambda d: wav_energy_windows(documents_as_wav(d))),
    ):
        t1 = timed(fn, docs1)
        tn = timed(fn, docsN)
        print(f"{name:22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (shifted copies)")

    # r9b: HITS on the growing-hub bipartite K(H, L) (the link-pred
    # probe graph): per-iteration join volume is |E| and |E| grows Nx —
    # the deferred-normalization chain must stay linear even as hub
    # degree fattens Nx (AQE handles the dst skew)
    from gisaid_pipeline_functions_spark.operators.graph import hits

    # iterations=3: the probe's K(H, L) is complete bipartite, so raw
    # integer scores grow as (H*L_n)^T — T=4 would pass 2^63 at 10x
    # (the operator's documented exactness bound); T=3 fits both scales
    # and exercises the identical per-round plan shape
    def _hits(e):
        return hits(
            e.select(F.col("u").alias("src"), F.col("v").alias("dst")),
            iterations=3,
        )

    t1 = timed(_hits, star1)
    tn = timed(_hits, starN)
    print(f"{'hits_bipartite':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (K(H,L), hub degree grows {n}x)")

    # r9c: sign-bit ANN on an Nx-replicated embedding corpus (shifted
    # ids) — fingerprint packing is map-side, the hamming shortlist is
    # TakeOrdered (never a full sort), the rerank joins shortlist_n rows
    from gisaid_pipeline_functions_spark.operators.similarity import (
        sign_bit_ann,
    )

    emb1 = load_table(spark, sf_dir, "embeddings")
    embN = emb1
    for i in range(1, n):
        embN = embN.unionByName(
            emb1.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
        )
    emb1 = emb1.repartition(cpus).localCheckpoint(eager=True)
    embN = embN.repartition(cpus).localCheckpoint(eager=True)
    t1 = timed(lambda e: sign_bit_ann(e, query_id=0, shortlist_n=32, k=10), emb1)
    tn = timed(lambda e: sign_bit_ann(e, query_id=0, shortlist_n=32, k=10), embN)
    print(f"{'sign_bit_ann':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (shifted embedding copies)")

    # r9d: the continued-session additions. BFD packing walks each
    # (source, shard) sequentially but shards split every source — Nx
    # rows means Nx docs per shard and the within-shard loop is
    # O(docs x open bins); the probe flags it if the bin list scan ever
    # dominates. Patchify is per-row map-side Python. Fuzzy blocking
    # runs on TAGGED copies (the c<i>_ prefixes land in the 24-char
    # title, so blocks stay within-copy — plain replication would
    # manufacture N^2 cross-copy candidate pairs and probe the data).
    from gisaid_pipeline_functions_spark.operators.multimodal import (
        bmp_patchify,
    )
    from gisaid_pipeline_functions_spark.operators.training import (
        pack_best_fit,
    )

    def _bfd(d):
        sized = d.select(
            "source", "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        return pack_best_fit(sized, budget=200, shards=8)

    def _fuzzy_pairs(d):
        k = d.select(
            "doc_id", F.substring(F.col("text"), 1, 24).alias("title")
        ).select(
            "doc_id", "title",
            F.substring("title", 1, 8).alias("b1"),
            F.substring("title", 17, 8).alias("b2"),
        )
        a = k.select(F.col("doc_id").alias("da"), F.col("title").alias("ta"), "b1", "b2")
        b = k.select(F.col("doc_id").alias("db"), F.col("title").alias("tb"), "b1", "b2")
        c1 = (a.drop("b2").hint("merge").join(b.drop("b2").hint("merge"), "b1")
              .filter(F.col("da") < F.col("db")).select("da", "db", "ta", "tb"))
        c2 = (a.drop("b1").hint("merge").join(b.drop("b1").hint("merge"), "b2")
              .filter(F.col("da") < F.col("db")).select("da", "db", "ta", "tb"))
        cand = c1.unionByName(c2).distinct()
        return cand.select(
            "da", "db", F.levenshtein("ta", "tb").alias("d")
        ).filter(F.col("d") <= 6)

    for name, fn, d1, dn, note in (
        ("pack_best_fit", _bfd, docs1, docsN, "plain copies"),
        ("bmp_patchify",
         lambda d: bmp_patchify(documents_as_bmp(d), grid=2),
         docs1, docsN, "plain copies"),
        ("fuzzy_blocked_pairs", _fuzzy_pairs, docs1_tag, docsN_tag,
         "disjoint-vocab copies"),
    ):
        t1 = timed(fn, d1)
        tn = timed(fn, dn)
        print(f"{name:22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  ({note})")

    # r9d: modularity finish on the disjoint graph copies — the LPA
    # rounds are probed above; this times the label-join + community
    # aggregate tail (labels persist, ONE edges-x-labels join feeds
    # both aggregates)
    from gisaid_pipeline_functions_spark.operators.graph import (
        label_propagation as _lpa,
    )

    def _modularity_tail(e):
        lab = _lpa(e, iterations=2).select("vertex", "label").persist()
        lu = lab.select(F.col("vertex").alias("u"), F.col("label").alias("lu"))
        lv = lab.select(F.col("vertex").alias("v"), F.col("label").alias("lv"))
        joined = (e.join(lu.hint("merge"), "u").join(lv.hint("merge"), "v")
                  .select("lu", "lv").persist())
        intra = (joined.filter(F.col("lu") == F.col("lv"))
                 .groupBy(F.col("lu").alias("label"))
                 .agg(F.count(F.lit(1)).alias("lc")))
        degc = (joined.select(F.col("lu").alias("label"))
                .unionAll(joined.select(F.col("lv").alias("label")))
                .groupBy("label").agg(F.count(F.lit(1)).alias("dc")))
        return degc.join(intra, "label", "left")

    t1 = timed(_modularity_tail, edges1)
    tn = timed(_modularity_tail, edgesN)
    spark.catalog.clearCache()
    print(f"{'modularity_tail':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (disjoint vertex-shifted copies)")

    # r10 (VERDICT r9 #4): the late-r9 spectral / survival /
    # experimentation families. All three run their corpus-scale stage
    # ONCE (the first groupBy) and everything downstream on calendar- or
    # grid-bounded frames, so Nx replication must show ~Nx-or-less
    # walls. The copies deliberately keep event types, days, durations
    # and grid cells FIXED while rows grow Nx — replication therefore
    # cannot fake sub-linearity by shrinking the post-agg state: the
    # post-agg state is SUPPOSED to be scale-invariant, and a
    # super-linear ratio means corpus-sized rows leaked past the first
    # groupBy. The HITS probe caught a 2^63 overflow bound last round;
    # ccf's integer moments are the analogous class here, so the probe
    # also measures the headroom directly (see below).
    from pyspark.sql import Window as W

    ev1 = load_table(spark, sf_dir, "events")
    # ccf copies: same types + days (pair space and calendar fixed);
    # km copies: shifted user_id (users grow Nx, duration distribution
    # identical — same-user duplicates would leave the per-user frame
    # unchanged and probe nothing)
    evN_ccf, evN_km = ev1, ev1
    for i in range(1, n):
        shift = F.lit(i * 10_000_000)
        evN_ccf = evN_ccf.unionByName(
            ev1.withColumn("event_id", F.col("event_id") + shift)
        )
        evN_km = evN_km.unionByName(
            ev1.withColumn("event_id", F.col("event_id") + shift)
            .withColumn("user_id", F.col("user_id") + shift)
        )
    ev1 = ev1.repartition(cpus).localCheckpoint(eager=True)
    evN_ccf = evN_ccf.repartition(cpus).localCheckpoint(eager=True)
    evN_km = evN_km.repartition(cpus).localCheckpoint(eager=True)

    def _ccf_tail(e):
        # the ts_ccf_pairs shape (queries/timeseries.py): daily counts →
        # type-pair align → centered moments → ±3-lag numerators
        daily = e.groupBy(
            F.col("event_type").alias("key"), F.to_date("ts").alias("day")
        ).agg(F.count(F.lit(1)).alias("y"))
        a = daily.select(F.col("key").alias("ka"), "day", F.col("y").alias("ya"))
        b = daily.select(
            F.col("key").alias("kb"), F.col("day").alias("bday"),
            F.col("y").alias("yb"),
        )
        common = a.join(
            b, (F.col("day") == F.col("bday")) & (F.col("ka") < F.col("kb"))
        ).select(
            "ka", "kb", "day", "ya", "yb",
            F.row_number().over(W.partitionBy("ka", "kb").orderBy("day")).alias("rn"),
        )
        st = common.groupBy("ka", "kb").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ya").alias("sa"), F.sum("yb").alias("sb"),
        )
        cz = common.join(F.broadcast(st), ["ka", "kb"]).select(
            "ka", "kb", "rn",
            (F.col("n") * F.col("ya") - F.col("sa")).alias("ca"),
            (F.col("n") * F.col("yb") - F.col("sb")).alias("cb"),
        )
        lg = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
        rhs = cz.select(
            F.col("ka").alias("rka"), F.col("kb").alias("rkb"),
            F.col("rn").alias("brn"), F.col("cb").alias("bcb"),
        )
        return (
            cz.crossJoin(F.broadcast(lg))
            .join(
                rhs,
                (F.col("rka") == F.col("ka"))
                & (F.col("rkb") == F.col("kb"))
                & (F.col("brn") == F.col("rn") - F.col("lag")),
            )
            .groupBy("ka", "kb", "lag")
            .agg(F.sum(F.col("ca") * F.col("bcb")).alias("numer"))
        )

    t1 = timed(_ccf_tail, ev1)
    tn = timed(_ccf_tail, evN_ccf)
    print(f"{'ccf_pairs_tail':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (same-calendar copies: daily y grows {n}x)")
    # overflow headroom: ca scales ~Nx (n and sa both track y), so
    # sum(ca*cb) scales ~N^2 on a fixed calendar — measure the 10x
    # magnitude and report the further corpus multiple that crosses 2^63
    mx = _ccf_tail(evN_ccf).agg(
        F.max(F.abs(F.col("numer"))).alias("m")
    ).collect()[0]["m"]
    crosses = (2**63 / max(mx, 1)) ** 0.5
    print(
        f"{'':22s} ccf int64 headroom at {n}x: max|numer|={mx:.3e} "
        f"(2^63 at a further ~{crosses:.0f}x corpus growth; "
        f"numer scales ~N^2 on a fixed calendar)"
    )

    def _km_fold(e):
        # the window_kaplan_meier shape (queries/windows.py): per-user
        # lifetimes → duration-keyed risk sets → per-cohort lattice fold
        u = e.groupBy("user_id").agg(
            F.min(F.to_date("ts")).alias("first_day"),
            F.max(F.to_date("ts")).alias("last_day"),
        )
        hz = u.agg(F.max("last_day").alias("horizon"))
        fe = (
            e.select(
                "user_id", "event_type",
                F.row_number()
                .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
                .alias("rn"),
            )
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_type").alias("cohort"))
        )
        pu = (
            u.hint("merge").join(fe, "user_id")
            .crossJoin(F.broadcast(hz))
            .select(
                "cohort",
                F.datediff("last_day", "first_day").cast("long").alias("dur"),
                F.when(F.col("last_day") < F.col("horizon"), 1)
                .otherwise(0).alias("observed"),
            )
        )
        g = pu.groupBy("cohort", F.col("dur").alias("t")).agg(
            F.sum("observed").alias("d"),
            F.sum(1 - F.col("observed")).alias("c"),
        )
        wrev = (
            W.partitionBy("cohort").orderBy("t")
            .rowsBetween(W.currentRow, W.unboundedFollowing)
        )
        r = g.select(
            "cohort", "t", "d",
            F.sum(F.col("d") + F.col("c")).over(wrev).alias("n_risk"),
        )
        return (
            r.filter(F.col("d") > 0)
            .groupBy("cohort")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("t", "d", "n_risk"))
                ).alias("steps")
            )
            .select("cohort", F.size("steps").alias("n_steps"))
        )

    t1 = timed(_km_fold, ev1)
    tn = timed(_km_fold, evN_km)
    print(f"{'kaplan_meier_risk':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (shifted user copies: users grow {n}x, durations fixed)")

    # IPF raking: orders replicated with shifted keys — the 5x3 grid and
    # the 3 raking rounds are scale-invariant; only the contingency
    # groupBy scans the corpus. DECIMAL(38,0) w*n headroom is structural
    # (lattice w <= ~2.4e6, n <= corpus), no measurable bound before
    # 1e31 rows.
    ord1 = load_table(spark, sf_dir, "orders")
    ordN = ord1
    for i in range(1, n):
        ordN = ordN.unionByName(
            ord1.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * 100_000_000))
        )
    ord1 = ord1.repartition(cpus).localCheckpoint(eager=True)
    ordN = ordN.repartition(cpus).localCheckpoint(eager=True)

    def _ipf(o):
        cells = o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
        ).agg(F.count(F.lit(1)).alias("n"))
        tot = cells.agg(F.sum("n").cast("long").alias("t"))
        d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731

        def floor_div(a, b):
            return ((a - a % b) / b).cast("decimal(38,0)")

        cur = cells.crossJoin(F.broadcast(tot)).select(
            "priority", "status", "n",
            floor_div(d38(F.col("t")) * 1000000, F.lit(5).cast("decimal(19,0)")).alias("t_row"),
            floor_div(d38(F.col("t")) * 1000000, F.lit(3).cast("decimal(19,0)")).alias("t_col"),
            F.lit(1000000).cast("decimal(38,0)").alias("w"),
        )
        wr, wc = W.partitionBy("priority"), W.partitionBy("status")
        for _ in range(3):
            s_row = F.sum(F.col("w") * d38(F.col("n"))).over(wr)
            cur = cur.withColumn(
                "w", floor_div(2 * F.col("w") * F.col("t_row") + s_row, 2 * s_row)
            )
            s_col = F.sum(F.col("w") * d38(F.col("n"))).over(wc)
            cur = cur.withColumn(
                "w", floor_div(2 * F.col("w") * F.col("t_col") + s_col, 2 * s_col)
            )
        return cur

    t1 = timed(_ipf, ord1)
    tn = timed(_ipf, ordN)
    print(f"{'ipf_raking':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (shifted order copies: 5x3 grid fixed)")

    # r10: the incremental LSH dedup (streaming/lsh.py). Two probes on
    # the DISJOINT-VOCAB copies (cross-copy similarity zero, so the
    # (band, sig) bucket space — the state bound — grows Nx honestly;
    # plain copies would collide every sibling into one bucket and probe
    # the manufactured duplicates, not the operator):
    #   (a) the batch form of the greedy bucket-min rule — map-side
    #       signatures + ONE groupBy + the drop join, the exact
    #       computation the GroupState performs;
    #   (b) the real applyInPandasWithState stream over a file backlog
    #       (maxFilesPerTrigger=cpus forces multiple micro-batches so
    #       cross-batch state is actually exercised). Streaming carries
    #       the documented 3-6 s fixed overhead, so its ratio reads LOW;
    #       the honest signal is (b)'s Nx wall staying under (a)'s
    #       Nx wall + the fixed overhead.
    from gisaid_pipeline_functions_spark.streaming.lsh import (
        band_signatures,
        streaming_lsh_drops,
    )

    def _lsh_greedy_drops(d):
        bands = band_signatures(d)
        mins = bands.groupBy("band", "sig").agg(F.min("doc_id").alias("keeper"))
        return (
            bands.join(mins, ["band", "sig"])
            .filter(F.col("doc_id") > F.col("keeper"))
            .select("doc_id")
            .distinct()
        )

    t1 = timed(_lsh_greedy_drops, docs1_tag)
    tn = timed(_lsh_greedy_drops, docsN_tag)
    print(f"{'lsh_greedy_drops':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (disjoint-vocab copies: bucket space grows {n}x)")

    import shutil
    import tempfile

    def _stream_once(src_df, n_files: int) -> float:
        tmp = tempfile.mkdtemp(prefix="lsh_probe_")
        try:
            src_df.select("doc_id", "text").repartition(n_files).write.parquet(
                f"{tmp}/backlog"
            )
            t = time.perf_counter()
            q = (
                streaming_lsh_drops(
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", str(cpus))
                    .parquet(f"{tmp}/backlog")
                )
                .writeStream.format("noop")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return time.perf_counter() - t
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    t1 = _stream_once(docs1_tag, cpus)
    tn = _stream_once(docsN_tag, cpus * n)
    print(f"{'lsh_stream_stateful':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (file backlog, {n}x files -> {n}x micro-batches; fixed streaming overhead damps the ratio)")

    # r12: the resumable batch dedup (operators/dedup.py:
    # apply_lsh_band_index). The capability's claim is that resuming a
    # FIXED delta against an indexed corpus re-pays only the index merge
    # (16-byte (band, sig) rows), never the historical corpus's shingle
    # folds — so the probe holds the delta constant, grows the INDEXED
    # BASE 10x (disjoint-vocab copies: bucket space x10), pre-persists
    # both indexes to parquet (untimed, that's the prior batch's cost),
    # and times resume-from-disk at both base sizes. Reference points:
    # the from-scratch greedy walls above (lsh_greedy_drops) pay the
    # full corpus fold at every batch; a healthy resume ratio is far
    # below the index growth because the delta fold dominates.
    import shutil as _shutil
    import tempfile as _tempfile

    from gisaid_pipeline_functions_spark.operators.dedup import (
        apply_lsh_band_index,
        build_lsh_band_index,
    )

    delta_fixed = _tag_words(docs1, n + 1).withColumn(
        "doc_id", F.col("doc_id") + F.lit((n + 1) * 10_000_000)
    ).repartition(cpus).localCheckpoint(eager=True)
    idx_dirs = []
    for tag, base in (("1x", docs1_tag), (f"{n}x", docsN_tag)):
        d = _tempfile.mkdtemp(prefix=f"lsh_idx_{tag}_")
        idx_dirs.append(d)
        build_lsh_band_index(base).write.mode("overwrite").parquet(d)

    def _resume(idx_dir):
        def run(delta):
            drops, _ = apply_lsh_band_index(
                spark.read.parquet(idx_dir), delta
            )
            return drops

        return run

    t1 = timed(_resume(idx_dirs[0]), delta_fixed)
    tn = timed(_resume(idx_dirs[1]), delta_fixed)
    print(f"{'lsh_resume_fixed_delta':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (fixed delta, indexed base grows {n}x — only the index merge grows)")
    for d in idx_dirs:
        _shutil.rmtree(d, ignore_errors=True)

    # r13 (VERDICT r12 #4): the EXACT-dedup resume twin. Same probe
    # shape — fixed delta, indexed base grown 10x (disjoint-vocab copies
    # -> 10x distinct fingerprints, the quantity the index grows with),
    # both fingerprint indexes pre-persisted untimed. A healthy ratio is
    # ~flat: the delta pays one md5 per doc and the only growing cost is
    # the 16-byte fingerprint merge shuffle.
    from gisaid_pipeline_functions_spark.operators.dedup import (
        apply_exact_dedup_index,
        build_exact_dedup_index,
    )

    xidx_dirs = []
    for tag, base in (("1x", docs1_tag), (f"{n}x", docsN_tag)):
        d = _tempfile.mkdtemp(prefix=f"exact_idx_{tag}_")
        xidx_dirs.append(d)
        build_exact_dedup_index(base).write.mode("overwrite").parquet(d)

    def _exact_resume(idx_dir):
        def run(delta):
            drops, _ = apply_exact_dedup_index(
                spark.read.parquet(idx_dir), delta
            )
            return drops

        return run

    t1 = timed(_exact_resume(xidx_dirs[0]), delta_fixed)
    tn = timed(_exact_resume(xidx_dirs[1]), delta_fixed)
    print(f"{'exact_resume_fixed_delta':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (fixed delta, fingerprint index grows {n}x — only the 16-byte merge grows)")
    for d in xidx_dirs:
        _shutil.rmtree(d, ignore_errors=True)

    # r14: the resumable IVF index (operators/similarity.py:
    # apply_ivf_index). The maintenance claim is STRONGER than the dedup
    # twins': a delta assignment touches only the frozen k-row centroid
    # table — not even the postings — so a fixed delta resumed against a
    # 10x-indexed corpus should be FLAT (~1.0), not merely sub-linear.
    # Both (centroids, postings) artifact pairs are pre-persisted
    # untimed (the prior batch's cost). The companion search row probes
    # the read path: at FIXED k=4 the probed cell's postings grow 10x
    # with the corpus, so its cost legitimately grows — production
    # scales k with corpus size to bound cells (the FAISS/SemDeDup
    # operating point); the row documents that trade, the resume row
    # carries the capability's claim.
    from gisaid_pipeline_functions_spark.operators.similarity import (
        apply_ivf_index,
        build_ivf_index,
        ivf_index_topk,
    )

    vdelta = emb1.withColumn(
        "vec_id", F.col("vec_id") + F.lit((n + 1) * 10_000_000)
    ).localCheckpoint(eager=True)
    vidx_dirs = []
    for tag, base in (("1x", emb1), (f"{n}x", embN)):
        d = _tempfile.mkdtemp(prefix=f"ivf_idx_{tag}_")
        vidx_dirs.append(d)
        cents, post = build_ivf_index(base, k=4, iterations=2)
        cents.write.mode("overwrite").parquet(f"{d}/centroids")
        post.write.mode("overwrite").parquet(f"{d}/postings")

    def _ivf_resume(idx_dir):
        def run(delta):
            return apply_ivf_index(
                spark.read.parquet(f"{idx_dir}/centroids"), delta
            )

        return run

    t1 = timed(_ivf_resume(vidx_dirs[0]), vdelta)
    tn = timed(_ivf_resume(vidx_dirs[1]), vdelta)
    print(f"{'ivf_resume_fixed_delta':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (fixed delta vs frozen k-row centroids — index size never enters the plan)")

    def _ivf_search(idx_dir, corpus):
        def run(queries):
            return ivf_index_topk(
                spark.read.parquet(f"{idx_dir}/centroids"),
                spark.read.parquet(f"{idx_dir}/postings"),
                corpus,
                queries,
                k=10,
            )

        return run

    vq = emb1.filter(F.col("vec_id") < 5).localCheckpoint(eager=True)
    t1 = timed(_ivf_search(vidx_dirs[0], emb1), vq)
    tn = timed(_ivf_search(vidx_dirs[1], embN), vq)
    print(f"{'ivf_index_search':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (probed cell grows {n}x at fixed k=4 — production scales k to bound cells)")
    for d in vidx_dirs:
        _shutil.rmtree(d, ignore_errors=True)

    # r15: the resumable PQ index (operators/similarity.py:
    # apply_pq_index) — the same flat-resume claim as the IVF twin: a
    # delta quantization touches only the frozen m·k-row codebooks, so
    # a fixed delta resumed against a 10x-indexed corpus must be FLAT
    # (~1.0). The ADC search row documents the complementary trade: PQ
    # is a scan-the-codes design (every candidate's m-int code row is
    # scored via broadcast LUT probes), so the search legitimately
    # grows ~Nx with the code table — the point of PQ is the CONSTANT
    # per-candidate cost (m LUT adds, never 64-dim vector math), not a
    # pruned candidate set; compose with IVF routing when pruning is
    # wanted.
    from gisaid_pipeline_functions_spark.operators.similarity import (
        apply_pq_index,
        build_pq_index,
        pq_index_adc_topk,
    )

    pidx_dirs = []
    for tag, base in (("1x", emb1), (f"{n}x", embN)):
        d = _tempfile.mkdtemp(prefix=f"pq_idx_{tag}_")
        pidx_dirs.append(d)
        cb, codes = build_pq_index(base, m=2, sub_dim=32, k=4, iterations=2)
        cb.write.mode("overwrite").parquet(f"{d}/codebooks")
        codes.write.mode("overwrite").parquet(f"{d}/codes")

    def _pq_resume(idx_dir):
        def run(delta):
            return apply_pq_index(
                spark.read.parquet(f"{idx_dir}/codebooks"),
                delta,
                m=2,
                sub_dim=32,
            )

        return run

    t1 = timed(_pq_resume(pidx_dirs[0]), vdelta)
    tn = timed(_pq_resume(pidx_dirs[1]), vdelta)
    print(f"{'pq_resume_fixed_delta':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (fixed delta vs frozen m·k-row codebooks — index size never enters the plan)")

    def _pq_search(idx_dir):
        def run(queries):
            return pq_index_adc_topk(
                spark.read.parquet(f"{idx_dir}/codebooks"),
                spark.read.parquet(f"{idx_dir}/codes"),
                queries,
                m=2,
                sub_dim=32,
                topk=10,
            )

        return run

    t1 = timed(_pq_search(pidx_dirs[0]), vq)
    tn = timed(_pq_search(pidx_dirs[1]), vq)
    print(f"{'pq_adc_index_search':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (code table grows {n}x — ADC scans codes by design; ~{n}x expected)")
    for d in pidx_dirs:
        _shutil.rmtree(d, ignore_errors=True)

    # r15: the resumable IVF-PQ index (operators/similarity.py:
    # apply_ivfpq_index / ivfpq_index_adc_topk) — the composed freeze:
    # a delta encode touches only the frozen k_coarse-row coarse table
    # plus the frozen m·k_pq-row codebooks (both broadcast), so a fixed
    # delta resumed against a 10x-indexed corpus must be FLAT (~1.0).
    # The multiprobe ADC search scans probe/k_coarse of a 10x code
    # table — sub-Nx expected (the IVF pruning composed with PQ's
    # constant per-candidate cost).
    from gisaid_pipeline_functions_spark.operators.similarity import (
        apply_ivfpq_index,
        build_ivfpq_index,
        ivfpq_index_adc_topk,
    )

    qidx_dirs = []
    for tag, base in (("1x", emb1), (f"{n}x", embN)):
        d = _tempfile.mkdtemp(prefix=f"ivfpq_idx_{tag}_")
        qidx_dirs.append(d)
        coarse, cb, codes = build_ivfpq_index(
            base, k_coarse=4, m=2, sub_dim=32, k_pq=4, iterations=2
        )
        coarse.write.mode("overwrite").parquet(f"{d}/coarse")
        cb.write.mode("overwrite").parquet(f"{d}/codebooks")
        codes.write.mode("overwrite").parquet(f"{d}/codes")

    def _ivfpq_resume(idx_dir):
        def run(delta):
            return apply_ivfpq_index(
                spark.read.parquet(f"{idx_dir}/coarse"),
                spark.read.parquet(f"{idx_dir}/codebooks"),
                delta,
                m=2,
                sub_dim=32,
            )

        return run

    t1 = timed(_ivfpq_resume(qidx_dirs[0]), vdelta)
    tn = timed(_ivfpq_resume(qidx_dirs[1]), vdelta)
    print(f"{'ivfpq_resume_fixed_delta':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (fixed delta vs BOTH frozen quantizers — index size never enters the plan)")

    def _ivfpq_search(idx_dir):
        def run(queries):
            return ivfpq_index_adc_topk(
                spark.read.parquet(f"{idx_dir}/coarse"),
                spark.read.parquet(f"{idx_dir}/codebooks"),
                spark.read.parquet(f"{idx_dir}/codes"),
                queries,
                m=2,
                sub_dim=32,
                topk=10,
                probe=2,
            )

        return run

    t1 = timed(_ivfpq_search(qidx_dirs[0]), vq)
    tn = timed(_ivfpq_search(qidx_dirs[1]), vq)
    print(f"{'ivfpq_index_search':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (probed cells' codes grow {n}x at fixed k_coarse=4 — IVF pruning x PQ constant cost)")
    for d in qidx_dirs:
        _shutil.rmtree(d, ignore_errors=True)

    # r17: the resumable SQ8 index (operators/similarity.py:
    # apply_sq8_index / sq8_index_topk) — the cheapest member of the
    # staple set: the frozen quantizer is ONE dimension-sized row, so a
    # fixed delta resumed against a 10x-indexed corpus must be FLAT
    # (~1.0) and the build is a min/max agg plus one linear encode pass
    # (~Nx). Like PQ, the search is scan-the-codes by design (~Nx with
    # the code table at constant per-candidate integer cost); delete is
    # one anti-join over the codes (~Nx-or-less, no re-election).
    from gisaid_pipeline_functions_spark.operators.similarity import (
        apply_sq8_index,
        build_sq8_index,
        delete_from_vector_index,
        sq8_index_topk,
    )

    def _sq8_build(base):
        def run(_ignored):
            _grid, codes = build_sq8_index(base)
            return codes

        return run

    t1 = timed(_sq8_build(emb1), vq)
    tn = timed(_sq8_build(embN), vq)
    print(f"{'sq8_build':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (min/max agg + one linear encode pass — ~{n}x expected, no training)")

    sidx_dirs = []
    for tag, base in (("1x", emb1), (f"{n}x", embN)):
        d = _tempfile.mkdtemp(prefix=f"sq8_idx_{tag}_")
        sidx_dirs.append(d)
        grid, codes = build_sq8_index(base)
        grid.write.mode("overwrite").parquet(f"{d}/grid")
        codes.write.mode("overwrite").parquet(f"{d}/codes")

    def _sq8_resume(idx_dir):
        def run(delta):
            return apply_sq8_index(
                spark.read.parquet(f"{idx_dir}/grid"), delta
            )

        return run

    t1 = timed(_sq8_resume(sidx_dirs[0]), vdelta)
    tn = timed(_sq8_resume(sidx_dirs[1]), vdelta)
    print(f"{'sq8_resume_fixed_delta':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (fixed delta vs the frozen 1-row grid — index size never enters the plan)")

    def _sq8_search(idx_dir):
        def run(queries):
            return sq8_index_topk(
                spark.read.parquet(f"{idx_dir}/grid"),
                spark.read.parquet(f"{idx_dir}/codes"),
                queries,
                topk=10,
            )

        return run

    t1 = timed(_sq8_search(sidx_dirs[0]), vq)
    tn = timed(_sq8_search(sidx_dirs[1]), vq)
    print(f"{'sq8_index_search':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (code table grows {n}x — SQ scans codes by design at integer per-candidate cost; ~{n}x expected)")

    vdel_batch = (
        emb1.select("vec_id").orderBy("vec_id").limit(20)
        .localCheckpoint(eager=True)
    )

    def _sq8_delete(idx_dir):
        def run(dels):
            return delete_from_vector_index(
                spark.read.parquet(f"{idx_dir}/codes"), dels
            )

        return run

    t1 = timed(_sq8_delete(sidx_dirs[0]), vdel_batch)
    tn = timed(_sq8_delete(sidx_dirs[1]), vdel_batch)
    print(f"{'sq8_index_delete':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (fixed 20-id delete batch, codes grow {n}x — one AQE-sized anti-join, no re-election)")
    for d in sidx_dirs:
        _shutil.rmtree(d, ignore_errors=True)

    # r15: dedup-index deletion (operators/dedup.py:
    # delete_from_{exact_dedup,lsh_band}_index). A FIXED delete batch
    # against 10x postings/index: the affected-bucket set is
    # delete-sized (broadcast), the re-election agg touches only
    # affected buckets, but the pass-through anti-join and the
    # postings prune scan grow 10x — so ~Nx-or-less is healthy and a
    # super-linear ratio means the broadcast prune regressed to a
    # corpus-shuffle. Artifacts pre-persisted untimed (build cost is
    # the build row's business).
    from gisaid_pipeline_functions_spark.operators.dedup import (
        delete_from_exact_dedup_index,
        delete_from_lsh_band_index,
        exact_dedup_postings,
        lsh_band_stack,
    )

    del_batch = (
        docs1.select("doc_id").orderBy("doc_id").limit(20)
        .localCheckpoint(eager=True)
    )
    ddirs = []
    for tag, base in (("1x", docs1), (f"{n}x", docsN)):
        d = _tempfile.mkdtemp(prefix=f"del_idx_{tag}_")
        ddirs.append(d)
        xp = exact_dedup_postings(base).persist()
        xp.write.mode("overwrite").parquet(f"{d}/xpost")
        xp.groupBy("fingerprint").agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        ).write.mode("overwrite").parquet(f"{d}/xidx")
        xp.unpersist()
        lp = lsh_band_stack(base).persist()
        lp.write.mode("overwrite").parquet(f"{d}/lpost")
        lp.groupBy("band", "sig").agg(
            F.min("doc_id").alias("keeper")
        ).write.mode("overwrite").parquet(f"{d}/lidx")
        lp.unpersist()

    def _exact_delete(idx_dir):
        def run(dels):
            upd, _post = delete_from_exact_dedup_index(
                spark.read.parquet(f"{idx_dir}/xidx"),
                spark.read.parquet(f"{idx_dir}/xpost"),
                dels,
            )
            return upd

        return run

    def _lsh_delete(idx_dir):
        def run(dels):
            upd, _post = delete_from_lsh_band_index(
                spark.read.parquet(f"{idx_dir}/lidx"),
                spark.read.parquet(f"{idx_dir}/lpost"),
                dels,
            )
            return upd

        return run

    for name, mk in (
        ("exact_index_delete", _exact_delete),
        ("lsh_index_delete", _lsh_delete),
    ):
        t1 = timed(mk(ddirs[0]), del_batch)
        tn = timed(mk(ddirs[1]), del_batch)
        print(f"{name:22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (fixed 20-id delete batch, postings/index grow {n}x — anti-join scan grows, re-election stays delete-sized)")
    for d in ddirs:
        _shutil.rmtree(d, ignore_errors=True)

    # r12 (VERDICT r10 #6): the block_cumsum riders. agg_ks_test and
    # agg_spearman_rho run block-prefix running sums over VALUE
    # HISTOGRAMS whose distinct-value count grows with the corpus (price
    # cents / quantity), so plain key-shifted replication would leave
    # the histogram keys unchanged and probe nothing — these copies
    # shift the VALUES per copy (distribution shape preserved, value
    # spaces disjoint), growing the histogram, the percentile_approx
    # cuts, the per-bucket windows, and (for spearman) both
    # merge-hinted rank-map joins Nx honestly.
    from gisaid_pipeline_functions_spark.operators.topk import block_cumsum

    ordV = ord1
    for i in range(1, n):
        ordV = ordV.unionByName(
            ord1.withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(i * 1_000_000.0)
            )
        )
    ordV = ordV.repartition(cpus).localCheckpoint(eager=True)

    def _ks_tail(o):
        cents = o.select(
            F.floor(F.col("o_totalprice") * 100.0 + 0.5)
            .cast("long")
            .alias("v"),
            F.col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH")
            .cast("int")
            .alias("g1"),
        )
        pv = cents.groupBy("v").agg(
            F.sum("g1").alias("n1v"), F.sum(1 - F.col("g1")).alias("n2v")
        )
        cum = block_cumsum(pv, "v", ["n1v", "n2v"])
        tot = pv.agg(F.sum("n1v").alias("n1"), F.sum("n2v").alias("n2"))
        d = cum.crossJoin(F.broadcast(tot)).select(
            "v",
            F.abs(
                F.col("cum_n1v") * F.col("n2")
                - F.col("cum_n2v") * F.col("n1")
            ).alias("dn"),
        )
        return d.agg(F.max("dn").alias("d_num"))

    t1 = timed(_ks_tail, ord1)
    tn = timed(_ks_tail, ordV)
    print(f"{'ks_block_cumsum':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (value-shifted copies: distinct prices grow {n}x)")

    li1 = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_extendedprice")
        .repartition(cpus)
        .localCheckpoint(eager=True)
    )
    liV = li1
    for i in range(1, n):
        liV = liV.unionByName(
            li1.withColumn(
                "l_quantity", F.col("l_quantity") + F.lit(i * 1_000.0)
            ).withColumn(
                "l_extendedprice",
                F.col("l_extendedprice") + F.lit(i * 10_000_000.0),
            )
        )
    liV = liV.repartition(cpus).localCheckpoint(eager=True)

    def _spearman_tail(l):
        rows_q = l.select(
            F.col("l_quantity").cast("long").alias("x"),
            F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
            .cast("long")
            .alias("y"),
        )

        def midrank_map(col):
            hist = rows_q.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
            cum = block_cumsum(hist, col, ["cnt"])
            return cum.select(
                col,
                (2 * F.col("cum_cnt") - F.col("cnt") + 1).alias(f"r{col}2"),
            )

        rr = (
            rows_q.join(midrank_map("x").hint("merge"), "x")
            .join(midrank_map("y").hint("merge"), "y")
            .select("rx2", "ry2")
        )
        dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
        return rr.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("rx2") * dec("ry2")).cast("decimal(38,0)").alias("sxy"),
        )

    t1 = timed(_spearman_tail, li1)
    tn = timed(_spearman_tail, liV)
    print(f"{'spearman_block_cumsum':22s} {t1:8.2f} {tn:8.2f} {tn / t1:7.2f}  (value-shifted copies: both rank maps grow {n}x)")
    spark.stop()


if __name__ == "__main__":
    main()
