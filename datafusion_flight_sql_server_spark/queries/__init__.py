"""Declared operator/query catalog (SURVEY.md §2).

Importing this package populates :data:`REGISTRY`; ``__spark_entry__.py``
derives ``queries()`` and ``oracle_sql()`` from it.

The registry is re-ordered after population: the driver's round-1
correctness run covered exactly the first 50 registered queries, so entries
are sorted by verification priority — extension/new operators that have
never received a driver CORRECTNESS row come first, the relational long tail
(every row already fully green in CORRECTNESS_r01.json) last.
"""

from datafusion_flight_sql_server_spark.queries.catalog import REGISTRY, QuerySpec, query

# Register all query modules (import side effects populate REGISTRY).
from datafusion_flight_sql_server_spark.queries import relational  # noqa: F401
from datafusion_flight_sql_server_spark.queries import functions_q  # noqa: F401
from datafusion_flight_sql_server_spark.queries import windows_q  # noqa: F401
from datafusion_flight_sql_server_spark.queries import extensions  # noqa: F401
from datafusion_flight_sql_server_spark.queries import sources_q  # noqa: F401
from datafusion_flight_sql_server_spark.queries import pipeline_q  # noqa: F401
from datafusion_flight_sql_server_spark.queries import mining_q  # noqa: F401
from datafusion_flight_sql_server_spark.queries import streaming_q  # noqa: F401
from datafusion_flight_sql_server_spark.queries import analytics_q  # noqa: F401

#: Verification-priority prefix: the driver produces CORRECTNESS rows for
#: the FIRST 50 registered queries each round, so ordering decides which
#: operators get a row. Standing policy: tier 1 = prior-round
#: registrations that have never received a driver row, tier 2 = this
#: round's registrations AND queries whose implementation materially
#: changed this round (appended as they land, trimming the tier-3 tail
#: to keep the prefix at exactly 50), tier 3 = a rotation of the oldest
#: green rows as regression insurance. Green on the prefix → every
#: registered query driver-verified at least once.
#: Tier 0 = PERMANENTLY PINNED infrastructure-coupled queries —
#: ``scan_flight`` transits the live Flight serving path
#: (execute_stream), so a serving-engine change can break it with no
#: change to its own source; the round-7 rotation
#: proved rotating it out masks exactly that (the r7 serving regression
#: shipped under a 50/50-green CORRECTNESS file). It stays in the prefix
#: every round.
#:
#: FRESHNESS POLICY (round 9, VERDICT r8 #8): with 235 registered
#: queries, a 50-row prefix and ~3 rows/round spent on tier 0 + tier 2,
#: the tier-3 revisit period is ~5 rounds. The driver's row count is
#: fixed at 50, so the lever is the ROTATION DISCIPLINE, now explicit:
#: tier 3 fills every prefix slot tier 0/2 leave with the queries whose
#: latest driver row is OLDEST (oldest-first by CORRECTNESS_r* union,
#: alphabetical within a round), and any query deferred at the cut line
#: goes FIRST next round. Invariants kept per round: (a) no query's
#: latest driver row is ever more than 5 rounds old, (b) a deferred
#: query is never deferred twice, (c) tier 2 covers every query whose
#: implementation (or an operator/cache it rides) materially changed in
#: the round. SURVEY §5 documents the same policy.
#:
#: Round-14 state (second optimization round): tier 2 holds the ELEVEN
#: queries whose implementation (or a shared operator/cache they ride)
#: materially changed — ``dedup_ngram_jaccard`` (int64 gram keys
#: end-to-end), ``graph_triangles`` (grouped pair generation, rebalanced
#: close width, persisted adjacency), ``dedup_near_clusters`` /
#: ``graph_components_star`` (self-loop label join; checkpointed base
#: projection), ``graph_pagerank`` (rank update folded into the
#: contribution aggregation), ``embed_knn_graph`` (cores-wide scoring
#: pass) and the five MinHash-family riders ``dedup_near_minhash``,
#: ``dedup_minhash_eval``, ``dedup_incremental_minhash``,
#: ``dedup_threshold_curve``, ``dedup_containment`` (single-evaluation
#: verify intersects + the front-end cache materialization barrier).
#: No new queries registered (optimization rounds add none). Tier 3
#: head: ``tpch_q22_global_sales`` LEADS (deferred once at the r13 cut
#: line — invariant (b) spends its one deferral), then the three rows
#: tier 2 displaced in r13 (``agg_bitmap_intersect``, ``agg_count_min``,
#: ``agg_hll_rollup``), then the round-9 cohort oldest-first
#: (alphabetical within the round). The cohort is 40 rows for 34 slots:
#: ``text_inverted_index``, ``text_novelty``, ``text_pmi``,
#: ``text_repetition``, ``tpch_q8_market_share``,
#: ``tpch_q9_product_profit`` are DEFERRED ONCE at the cut line (first
#: deferral for each — they lead the next rotation).
_PRIORITY = (
    # tier 0: permanently pinned — rides the serving engine internals
    "scan_flight",
    # tier 2: implementation materially changed this round (round 14)
    "graph_triangles",
    "dedup_ngram_jaccard",
    "graph_components_star",
    "dedup_near_clusters",
    "graph_pagerank",
    "embed_knn_graph",
    "dedup_near_minhash",
    "dedup_minhash_eval",
    "dedup_incremental_minhash",
    "dedup_threshold_curve",
    "dedup_containment",
    # tier 3 head: the r13 cut-line deferral leads, then the three rows
    # displaced by r13's tier 2
    "tpch_q22_global_sales",
    "agg_bitmap_intersect",
    "agg_count_min",
    "agg_hll_rollup",
    # tier 3: round-9 cohort at the freshness limit, oldest-first
    "agg_mode",
    "agg_percentile_approx",
    "agg_topk_sketch",
    "corpus_drift",
    "dedup_exact_keepbest",
    "dedup_incremental",
    "dedup_source_overlap",
    "dedup_substring",
    "doc_sample_temperature",
    "doc_sample_weighted",
    "embed_binary_hamming",
    "embed_matryoshka",
    "embed_outliers",
    "event_anomaly",
    "event_attribution",
    "event_cusum",
    "event_islands",
    "event_ks_drift",
    "event_scd2",
    "event_scd2_lookup",
    "event_sliding_distinct",
    "event_time_weighted",
    "fn_mask",
    "join_bloom_prune",
    "join_fuzzy",
    "multimodal_dedup",
    "multimodal_phash",
    "pipeline_curate_v2",
    "pipeline_curate_v3",
    "sim_topk_ivf",
    "sim_topk_pq",
    "sink_zorder",
    "text_bigram_lm",
    "text_burstiness",
)


def _reorder() -> None:
    ordered = {}
    for name in _PRIORITY:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    for name, spec in REGISTRY.items():
        ordered.setdefault(name, spec)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()

__all__ = ["REGISTRY", "QuerySpec", "query"]
