"""Declared-query registry — the engine's public correctness contract.

Every operator from SURVEY.md §2 (plus the LLM-pipeline extensions) gets:

* a named builder ``(spark, sf_dir) -> DataFrame`` running the Spark-side
  implementation, and
* an ANSI-SQL oracle string (DuckDB-runnable over the same parquet
  views) producing identical column names and values — or ``None`` for
  genuinely non-SQL-expressible ops (driver then does a rows-only check).

Column names are aliased identically on both sides; numeric outputs use
the exact integer-cents discipline of :mod:`flink_snappydata_spark.functions.exact`
so value hashes match bit-for-bit at any parallelism.

The specs themselves live in per-domain modules under
:mod:`flink_snappydata_spark.specs` (import order there = registration
order); THIS module owns only the driver-facing declaration order —
``_HEAD`` (the 50-slot driver-stamp window), ``_HEAD_ROUND``, and the
never-stamped queue — so the ordering contract stays auditable in one
place.
"""

from __future__ import annotations

# Importing the specs package registers every query, in spec-module
# import order, into the shared dict re-exported here.
from flink_snappydata_spark.specs import QUERIES, QueryFn, QuerySpec  # noqa: F401

# Back-compat re-exports for tests that reach into spec internals.
from flink_snappydata_spark.specs.profiling_analytics import (  # noqa: F401
    _scd2_streamed,
)

# ---------------------------------------------------------------------------
# Declaration order
# ---------------------------------------------------------------------------
# The correctness driver verifies registry entries front-to-back with a
# bounded budget (50 stamps per round). Order therefore encodes
# verification priority, not implementation grouping.
#
# ROUND-10 POLICY AMENDMENT (budget math, superseding the round-6
# "every third round" cadence): with 200+ registered queries (218
# after round 11) and a 50-stamp budget, the tightest cadence any
# rotation can sustain is every ceil(len(QUERIES)/50) = FIFTH round —
# 50 stamps/round * 4 rounds = 200 < registry size, so a 3- or even
# 4-round cadence is structurally
# unsatisfiable once every query has been stamped at least once (the
# same arithmetic that forced the round-8 amendment when never-stamped
# backlog first exceeded the window). Effective policy, pinned by
# tests/test_oracle_parity.py::test_stamp_rotation_covers_stale_and_
# unstamped:
#
# (a) every query whose latest stamp is ceil(len(QUERIES)/50)+ rounds
#     old is inside the window (cadence floor, threshold derived from
#     the live registry size so it tightens/relaxes with the budget
#     math instead of silently rotting);
# (b) never-stamped queries are inside the window or head the
#     post-window order (new work first in line, never buried);
# (c) remaining slots go stalest-first.
#
# Local tests/test_oracle_parity.py still verifies ALL registered
# queries (218 after the round-11 additions)
# against their DuckDB oracles every pytest run, so driver-stamp
# staleness never means unverified code, only an older driver receipt.
#
# Round-15 window (_HEAD, 50 names): the 10 round-14 additions
# (never stamped; invariant (b) puts new work first: the bounded-subrun,
# relaxed-NFA and MATCH_RECOGNIZE family), the 31 r10-stamped
# remainder (staleness 5 at r15 — cadence-due under invariant (a):
# typo_pairs … funnel_latency), and the 9 stalest r11-stamped
# queries in declaration order per (c) (all 50 r11 stamps share
# staleness 4, so declaration order is the tiebreak; wordcount_batch …
# dedup_exact make the cut). After the driver stamps this window every
# registered query has a green driver row inside the threshold-5
# cadence: stalest surviving stamps are the 41 r11 remainder
# (staleness 4 at r15), which follow any never-stamped r15 additions in
# _R16_QUEUE and rotate next round at staleness 5.
#
# All queue entries are fully verified locally every pytest run via
# test_oracle_parity plus the per-op semantic suites — driver-stamp
# pending, not unverified.

#: The round this _HEAD window was built for. The rotation tripwire
#: (tests/test_oracle_parity.py::test_stamp_rotation_covers_stale_and_
#: unstamped) computes staleness relative to THIS round, not to
#: max(stamp files)+1, so the suite a round ships stays green both
#: before and after the driver writes its CORRECTNESS_r{N}.json — and
#: goes red only if a round closes without rotating the window.
_HEAD_ROUND = 15

_HEAD = [
    # -- never stamped: the round-14 additions, r15-queue order --
    "cep_bounded_subrun",
    "match_recognize_funnel",
    "cep_relaxed_nfa",
    "cep_relaxed_nfa_within",
    "match_recognize_optional",
    "cep_relaxed_nfa_skiptonext",
    "nfa_streamed",
    "cep_iterative_condition",
    "match_recognize_prev",
    "match_recognize_measures",
    # -- cadence-due: the 31 r10-stamped remainder (staleness 5) --
    "typo_pairs",
    "zorder_key",
    "event_rate_spikes",
    "equidepth_histogram",
    "readability_scores",
    "session_paths",
    "snapshot_diff",
    "merge_upsert",
    "event_transitions",
    "zonemap_skip_stats",
    "weighted_sample",
    "ohlc_bars",
    "trend_regression",
    "conversion_attribution",
    "table_profile",
    "key_skew_profile",
    "bpe_merges",
    "temperature_mix",
    "user_growth",
    "itemset_pairs",
    "referential_audit",
    "graph_triangles",
    "ks_drift",
    "ab_test_report",
    "activity_heatmap",
    "repeat_purchase_stats",
    "session_conversion",
    "quantile_transform",
    "token_drift_topk",
    "rfm_segments",
    "funnel_latency",
    # -- rotation: 9 stalest r11-stamped, declaration order --
    "wordcount_batch",
    "asof_join",
    "pareto_frontier",
    "events_tumbling_window",
    "events_session_window",
    "session_funnel",
    "stream_stream_join",
    "count_window",
    "dedup_exact",
]

#: The r16 stamp queue. Head: any round-15 additions (never stamped —
#: rotation invariant (b) requires never-stamped queries to occupy the
#: FIRST post-window slots; new queries register here, not at the
#: tail). Then the 41 r11-stamped queries that did not fit in the r15
#: window (staleness 5 at r16 — cadence-due under invariant (a)), in
#: declaration order. All queue entries are oracle-verified locally
#: every pytest run.
_R16_QUEUE: list[str] = [
    # -- r11-stamped remainder (cadence-due at r16) --
    "novelty_scores",
    "dedup_ngram_jaccard",
    "containment_pairs",
    "decontamination",
    "source_contamination",
    "repeated_passages",
    "dedup_clusters",
    "dedup_minhash",
    "dedup_simhash",
    "ann_cosine_topk",
    "embedding_neardup",
    "semantic_decontamination",
    "ann_lsh_neardup",
    "ann_ivf_topk",
    "ann_ivf_trained",
    "text_token_count",
    "text_quality",
    "doc_fingerprint",
    "winnowing_fingerprints",
    "winnowing_pairs",
    "curation_pipeline",
    "leakage_safe_split",
    "token_budget_mix",
    "audio_decode_stats",
    "audio_silence_stats",
    "video_decode_stats",
    "seasonal_anomaly",
    "email_domain_stats",
    "source_token_entropy",
    "source_tv_distance",
    "ngram_diversity",
    "benford_audit",
    "bpe_encode_stats",
    "tokenizer_fertility",
    "type_lag_correlation",
    "scd2_state_intervals",
    "rolling_active_users",
    "activity_gini",
    "embedding_top_pc",
    "zipf_fit",
    "html_clean",
]

_TAIL: list[str] = []


def _reorder() -> None:
    order = _HEAD + _R16_QUEUE + _TAIL
    missing = [n for n in order if n not in QUERIES]
    if missing:  # pragma: no cover - guards registry edits
        raise KeyError(f"unknown registry entries in order lists: {missing}")
    middle = [
        n for n in QUERIES if n not in _HEAD and n not in _R16_QUEUE and n not in _TAIL
    ]
    ordered = {n: QUERIES[n] for n in _HEAD + _R16_QUEUE + middle + _TAIL}
    # Reorder IN PLACE: QUERIES is the same dict object the specs
    # package exports, so mutating (rather than rebinding) keeps
    # specs.QUERIES and registry.QUERIES identical — any importer sees
    # the driver-stamp order, not raw registration order.
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder()


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None
    }


def judge_bearing_queries() -> set[str]:
    """Names of queries that embed their own exact judge (bound-verdict
    pattern) — their timings measure sketch + judge, not the raw scale
    path; the bench marks them and times raw variants separately."""
    return {name for name, spec in QUERIES.items() if spec.judge_bearing}
