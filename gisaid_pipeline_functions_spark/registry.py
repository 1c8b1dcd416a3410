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
# r19 cohort:
# - every query transiting operators/topk.py `_block_prefix`: the
#   registered callers of paginate, global_rank, block_cumsum,
#   skyline_2d and select_to_token_budget (no operator calls them).
#   Their cut points moved into the plan in r18 (cea52af) with no
#   recheck row, and in r19 the five operators moved onto
#   `_block_prefix` (one cuts evaluation per plan, prefixes in one
#   broadcast row, no eager-cuts escape); agg_ks_test also folds its
#   max/argmax into one aggregate.
# - every query calling sources/fasta.py `read_fasta`, which became one
#   map-only text scan with "\n>" as the record delimiter:
#   source_fasta_roundtrip and sink_filtered_write_refusal.
# - train_chunk_windows: operators/training.py `chunk_text_windows`
#   checks its stride with a raised ValueError instead of an assert (a
#   non-comment line change, so it enters under the rule above).
# - every query whose build reaches the under-split guard, now the one
#   function operators/layout.py `spread`, which reads the physical plan
#   instead of counting partitions (found by wrapping DataFrame.rdd while
#   building the whole registry).
# - every query whose build reaches a vector-search function that
#   changed when each ANN index got one search (found the same way, by
#   wrapping the changed operators/similarity.py functions while building
#   the whole registry): the one-shot PQ / IVF-PQ ADC searches now call
#   the index read path, ivf_topk took over ivf_topk_multiprobe with a
#   `probe` argument and shares its cosine routing with ivf_index_topk,
#   and the squared-L2 fold, the nearest-centroid pick, the centroid
#   recompute and the residual router are each one helper (kmeans
#   training, PQ/IVF-PQ encoding, kcenter_greedy).
#   plan_udf_discipline (already listed) plans sim_pq_adc_topk.
#   agg_poisson_bootstrap_ci (already listed) also changed then: its
#   point estimate reads the events scan before `spread`.
# - variant_mutation_counts (already listed) is the only query whose
#   build reaches operators/variant_caller.py `mutation_count_table`,
#   now one scan of the events (explode(sequence) and one groupBy, no
#   deletion union and no pivot); found the same way. No query reaches
#   `api.filter_sequences` or `plans/msa_reader.py`.
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
        "source_fasta_roundtrip",
        "sink_filtered_write_refusal",
        "train_chunk_windows",
        "report_mutation_csv",
        "report_text_lines",
        "plan_udf_discipline",
        "variant_substitutions",
        "variant_single_dels",
        "variant_single_ins",
        "variant_call_kernel",
        "variant_mutation_counts",
        "agg_cms_heavy_hitters",
        "agg_poisson_bootstrap_ci",
        "agg_bootstrap_ab_diff",
        "dedup_simhash",
        "dedup_span_surgery",
        "dedup_span_surgery_within",
        "dedup_exactsubstr_chars",
        "text_classifier_score",
        "streaming_classifier_score",
        "text_calibration_curve",
        "sample_dsir",
        "sample_ess_diagnostic",
        "multimodal_decode_dims",
        "multimodal_resize",
        "multimodal_phash_neardup",
        "multimodal_aspect_bucket",
        "multimodal_wav_stats",
        "multimodal_audio_energy",
        "multimodal_patchify",
        "sample_kcenter_coreset",
        "sim_centroid_outlier",
        "sim_incremental_ivf",
        "sim_incremental_ivf_search",
        "sim_incremental_ivfpq",
        "sim_incremental_ivfpq_search",
        "sim_incremental_pq",
        "sim_incremental_pq_search",
        "sim_ivf_drift",
        "sim_ivf_index_delete",
        "sim_ivf_index_multiprobe",
        "sim_ivf_learned",
        "sim_ivf_multiprobe",
        "sim_ivf_topk",
        "sim_ivfpq_adc_search",
        "sim_ivfpq_codes",
        "sim_kmeans_cells",
        "sim_ndcg_eval",
        "sim_pq_adc_topk",
        "sim_pq_codes",
        "sim_recall_at_k",
        "sim_semdedup",
        "streaming_ivf_append_hash",
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
