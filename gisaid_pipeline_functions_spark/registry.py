"""Query registry — the driver-facing correctness surface.

Every implemented operator from SURVEY.md §2 registers here as a named
query (a ``(spark, sf_dir) -> DataFrame`` callable) plus, when
SQL-expressible, the equivalent DuckDB oracle SQL. The driver hash-compares
them at sf0.01; ``tests/test_queries_oracle.py`` runs the same comparison
locally at sf0.001.

Conventions (driver compare is column-name keyed and value-hashed):
- alias every computed column identically on both sides;
- round every float to 6 decimals on both sides (Spark and DuckDB sum
  doubles in different orders — raw float hashes would flap);
- cast DuckDB integer SUMs to BIGINT (DuckDB widens to HUGEINT, Spark
  keeps LongType);
- timestamps are compared as-is only when passed through untouched;
  derived time buckets are DATEs on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    """Decorator: register a query and (optionally) its DuckDB oracle."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return deco


# Re-verification rotation under the driver's ~50-entries-per-round cap.
#
# A green driver row ages the moment the query's code (or a shared
# operator under it) changes, so registration order — the order the
# driver's capped sweep consumes — is computed EVERY round as:
#   1. queries whose implementation changed this round (_RECHECK_FIRST,
#      maintained by hand alongside the code change);
#   2. then ascending by last DRIVER-green round — queries with zero
#      driver evidence EVER sort first (floor), because independent
#      first-proofs outrank re-proofs when the capped window can't fit
#      both; FULLDRIVE (self-reported, tools/fulldrive.py) greens are
#      used ONLY as a tie-break within equal driver rounds, never as a
#      round-global freshness (VERDICT r9 #1: the old "driver round −
#      0.5" weighting let each round's FULLDRIVE flatten the whole
#      ledger, degenerating the window to registration order and
#      starving 92 never-driven queries);
#   3. registration order breaks remaining ties.
# The CORRECTNESS_r*.json files at the repo root are the source of truth
# for driver evidence; if none are present (fresh checkout) the order
# degrades gracefully to plain registration order.

# Queries whose implementation or transitive operator code changed, and
# the round the change was made in — forced to the front until a green
# driver row from that round (or later) exists, then they rotate back
# into the normal staleness order automatically.
_RECHECK_ROUND = 19
# Membership rule (stated once per ADVICE r16 #2, superseding the r14
# any-change precedent): a query enters _RECHECK_FIRST when its
# IMPLEMENTATION changes — its own function body, its oracle SQL, or any
# operator code it transits. Pure comment/docstring edits do NOT force a
# recheck row (the compiled plan is byte-identical); when in doubt, diff
# the generated plan and treat any non-comment source-line change as a
# code change. New registrations always enter (they have no driver
# evidence at all).
#
# r17 cohort (36 names):
# - the two new SQ8 persisted scalar-quantization registrations
#   (explicit budget grant, VERDICT r16 #2: registry bound 335 -> 337);
# - the r17 build's four ADC-fold transit queries (VERDICT r16 #1) are
#   subsumed by the optimization-phase set below;
# - the r17 OPTIMIZATION cohort: operators/similarity.py's
#   `_nearest_cell` became a map-side array-fold argmin (value-identical
#   tie-break, zero exchanges), the four ADC scoring sites pivot the
#   wide code row via one conditional aggregation instead of (m-1)
#   vec_id self-joins, and the two recompute variants build all
#   per-subspace centroids in one corpus ⋈ codes pass — every
#   registered query transiting those functions (18 names, computed by
#   code-only closure over operators+queries similarity modules), plus
#   agg_bootstrap_ab_diff (its repartition(32) became the conditional
#   defaultParallelism guard). All 19 re-driven hash-green at sf0.01
#   via tools/check_queries.py before commit, with NO oracle change.
# - the r17 optimization batch 2: operators/dedup.py
#   `lsh_candidate_pairs` generates ordered pairs from per-(band, sig)
#   buckets in-row (posexplode + tail-slice explode over the sorted
#   member list) instead of the stacked ⋈ stacked self-join, which
#   evaluated the whole shingle→minhash pipeline once per join side.
#   Pair set and band counts are value-identical (same bucket members,
#   i < j ≡ a.id < b.id; proven identical at sf0.01 AND sf0.1 before
#   the swap). The 9 transiting batch queries below re-driven
#   hash-green at sf0.01 before commit, with NO oracle change
#   (streaming_lsh_dedup_hash does NOT transit it — map-side own path).
# - the r17 optimization batch 3: (a) dedup_lsh_pr_eval's own body —
#   union-with-markers + one pair-keyed aggregation replaces the
#   truth⋈cand merge join and the two separate count consumers (each
#   heavy pair pipeline now evaluated ONCE; single-row output proven
#   value-identical at sf0.01 AND sf0.1); (b) operators/joins.py
#   edit_distance_one_pairs — per-variant bucket groupBy + in-row
#   ordered pair generation replaces the variants self-join (the
#   lsh_candidate_pairs pattern; full rowset proven identical at sf0.01
#   AND sf0.1), transited only by join_edit_distance_fuzzy. Both
#   re-driven hash-green at sf0.01 after the swap, NO oracle change.
# - the r17 optimization batch 4: (a) dedup_mllib_minhash's truth
#   generator — per-shingle bucket pair generation replaces the sh ⋈ sh
#   self-join (rowset identical at sf0.01 AND sf0.1); (b)
#   operators/text.py classifier_score — ONE persisted feature stream
#   feeds the NB count pass and the scoring probe (the broadcast model
#   build never exchange-unified with the probe, so the gram md5
#   pipeline ran twice; classifier_train now delegates to
#   _classifier_train_from_features with unchanged expressions —
#   transits text_classifier_score, text_calibration_curve,
#   streaming_classifier_score); (c) operators/text.py
#   langid_ngram_profiles — the char-trigram stream is persisted (its
#   two consumers shuffle by different keys). All five transit queries
#   re-driven hash-green at sf0.01 after the swaps, NO oracle change.
# - the r17 optimization batch 5: operators/similarity.py — the m
#   per-subspace Lloyd/assignment loops (pq_codes, pq_codebooks,
#   _assign_pq_codes, _ivfpq_subspace_codes, _frozen_codes_on_routed,
#   build_ivfpq_index) fused into one subspace-tagged chain
#   (_subspace_kmeans_centroids/_subspace_kmeans_assign/
#   _nearest_cell_per_subspace) — one base scan per Lloyd pass instead
#   of m. Full rowsets proven bit-identical old-vs-new at sf0.001,
#   sf0.01 AND sf0.1; all 8 transit queries (sim_pq_codes,
#   sim_pq_adc_topk, sim_incremental_pq, sim_incremental_pq_search,
#   sim_ivfpq_codes, sim_ivfpq_adc_search, sim_incremental_ivfpq,
#   sim_incremental_ivfpq_search — already recheck rows from the build
#   round) re-driven hash-green at sf0.01, NO oracle change.
# - the r17 optimization batch 6: operators/dedup.py — span_surgery and
#   exactsubstr_chars duplicated-key marking (and the exactsubstr anchor
#   candidacy) rewritten from the _cross_doc_keys groupBy → join-back
#   pair to ONE unbounded min/max window over the key partition (the
#   old shape evaluated the dominant md5 fold once per consumer; no
#   runtime ReusedExchange, r13 audit). Rowsets identical at all three
#   SFs; dedup_span_surgery, dedup_span_surgery_within,
#   dedup_exactsubstr_chars re-driven hash-green at sf0.01, NO oracle
#   change.
# - the r17 optimization batch 7: the rank-1-window argmin/argmax sites
#   (graph.py label_propagation per-round vote pick, text.py langid
#   predict + naive_bayes_confusion predict, multimodal.py
#   aspect_bucket_assign) rewritten to a min(struct(ordering, payload))
#   aggregation — struct order ≡ the old (orderBy, tie-break) pick
#   row-for-row (integer keys, or exact IEEE negation for score DESC;
#   every ordering tuple unique within its group). Rowsets identical at
#   all three SFs; graph_label_propagation, graph_modularity,
#   text_langid_profiles, text_naive_bayes_confusion,
#   multimodal_aspect_bucket re-driven hash-green at sf0.01, NO oracle
#   change.
# - the r17 optimization batch 8: agg_poisson_bootstrap_ci gets the
#   conditional defaultParallelism repartition guard before its 50×
#   md5 replica explode (the agg_bootstrap_ab_diff / span_surgery
#   guard shape; the events scan is one input split at bench scale).
#   Value-free (per-(event_id, b) md5 draw; exact-integer sums are
#   order-independent); re-driven hash-green at sf0.01.
#
# r18 cohort (OPTIMIZATION round 2): the r17 names below were all
# driver-green in CORRECTNESS_r17 and would rotate out on their own;
# the kept/added members are this round's touched set:
# - r18 batch B (hot-bucket guard, VERDICT r17 #1): the four bucket
#   pair-generators route through operators/dedup.py bucket_pair_rows,
#   which chunks buckets above _PAIR_BUCKET_CAP. Pair multiset identical
#   (unit-tested across chunk boundaries in
#   tests/test_bucket_pair_guard.py); all 12 transit queries re-driven
#   hash-green at sf0.01 after the swap, NO oracle change:
#   the 9 lsh_candidate_pairs consumers, dedup_prefix_filter_join (also
#   the VERDICT r17 #3 bookkeeping fix — it transits the r17 batch-3c
#   prefix rewrite and was missing from the r17 cohort),
#   join_edit_distance_fuzzy, dedup_mllib_minhash.
#
# r19 cohort: the r18 batch-B names above were all driver-green in
# CORRECTNESS_r18 and rotate out on their own. The members are every
# query transiting operators/topk.py `_block_prefix`: the registered
# callers of paginate, global_rank, block_cumsum, skyline_2d and
# select_to_token_budget (no operator calls them). Their cut points
# moved into the plan in r18 (cea52af) with no recheck row, and in r19
# the five operators moved onto `_block_prefix` (one cuts evaluation
# per plan, prefixes in one broadcast row, no eager-cuts escape);
# agg_ks_test also folds its max/argmax into one aggregate.
_RECHECK_FIRST = frozenset(
    {
        "topk_pagination",
        "topk_skyline",
        "agg_gini_concentration",
        "agg_mann_whitney",
        "agg_ks_test",
        "agg_spearman_rho",
        "agg_trimmed_mean",
        "agg_abc_analysis",
        "sample_token_budget",
        "sample_curriculum_order",
        "multimodal_byte_budget",
    }
)


def _evidence() -> tuple[dict[str, int], dict[str, int]]:
    """Two separate ledgers: each query's most recent DRIVER-green round
    (CORRECTNESS_r*.json — a recorded rows-only ``err='no_oracle'`` row
    counts; it is the strongest evidence that query can ever get) and its
    most recent FULLDRIVE-green round (FULLDRIVE_r*.json, the builder's
    end-of-round all-registry contract drive in the same schema).
    FULLDRIVE evidence is self-reported: its rows-only entries don't
    count at all, and the ledger is consumed only as a tie-break in
    ``_ordered`` — never merged into driver freshness (VERDICT r9 #1)."""
    import json
    import re
    from pathlib import Path

    driver: dict[str, int] = {}
    fulldrive: dict[str, int] = {}
    root = Path(__file__).resolve().parents[1]
    for p in sorted(root.glob("CORRECTNESS_r*.json")) + sorted(
        root.glob("FULLDRIVE_r*.json")
    ):
        m = re.search(r"r(\d+)$", p.stem)
        if not m:
            continue
        self_reported = p.stem.startswith("FULLDRIVE")
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        ledger = fulldrive if self_reported else driver
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            green = row.get("hash_match") is True or (
                not self_reported and row.get("err") == "no_oracle"
            )
            if green:
                ledger[name] = max(ledger.get(name, 0), rnd)
    return driver, fulldrive


def _ordered(d: dict) -> dict:
    driver, fulldrive = _evidence()

    def force_first(n: str) -> bool:
        return n in _RECHECK_FIRST and driver.get(n, -1) < _RECHECK_ROUND

    # Primary key: last DRIVER-green round, never-driven = 0 (below every
    # real round) so zero-driver-evidence queries drain through the capped
    # window first. Secondary: last FULLDRIVE-green round — among equally
    # driver-stale queries, the one whose self-reported evidence is also
    # oldest (or absent) goes first. Fresh checkout (no records):
    # everything ties and registration order holds.
    names = sorted(
        d,
        key=lambda n, _idx={k: i for i, k in enumerate(d)}: (
            0 if force_first(n) else 1,
            driver.get(n, 0),
            fulldrive.get(n, 0),
            _idx[n],
        ),
    )
    return {n: d[n] for n in names}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return _ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_all()
    return _ordered(_ORACLES)


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (import = registration).

    Import order = registration order = the order the driver iterates.
    CORRECTNESS_r01 recorded exactly the first 50 registered queries and
    dropped the trailing modules, so the signature families (time series,
    variants, top-k, windows) plus the round-1 hash-fail (reshape) register
    FIRST — if the driver caps or budgets its sweep again, these get rows.
    """
    global _LOADED
    if _LOADED:
        return
    from .queries import (  # noqa: F401
        flagship,
        timeseries,
        variants,
        topk,
        windows,
        reshape,
        multimodal,
        training,
        advanced,
        aggregates,
        dedup,
        filters,
        joins,
        misc,
        roundtrip,
        similarity,
        text,
        tpch,
    )

    _LOADED = True
