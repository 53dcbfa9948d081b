"""Central query registry: name -> (spark_callable, oracle_sql | None).

``__spark_entry__.py`` exposes this to the driver.  Every operator family in
SURVEY.md §2 registers its queries here; each callable takes
``(spark, sf_dir)`` and returns a DataFrame whose column names match the
oracle SQL exactly (the driver sorts columns by name and value-hashes).

Entries keep the order of the ``register`` calls below; nothing reorders
them, and a name may be registered only once.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import cohorts as co
from .operators import incremental as inc
from .operators import customers as cu
from .operators import dedup as dd
from .operators import experiments as ex
from .operators import flags as fl
from .operators import graph as gr
from .operators import leads as ld
from .operators import linking as lk
from .operators import multimodal as mm
from .operators import quality as qa
from .operators import retrieval as rt
from .operators import sampling as sp
from .operators import similarity as sim
from .operators import sketches as sketch
from .operators import skew as sk
from .operators import textstats as ts
from .operators import events as ev
from .operators import memberships as mem
from .operators import transactions as txn
from .sources import readers as rd
from .streaming import events_stream as st
from .streaming import stateful as stf

SparkQuery = Callable[[SparkSession, str], DataFrame]

# name -> (spark callable, oracle sql or None for rows-only checks)
REGISTRY: dict[str, tuple[SparkQuery, str | None]] = {}


def register(name: str, fn: SparkQuery, sql: str | None) -> None:
    from .io import release_caches
    from .session import tune_session

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the driver may invoke queries() on a session that never went
        # through entry(); self-tune (UTC, AQE — runtime-mutable settings
        # only, idempotent) so correctness never depends on call order
        tune_session(spark)
        # cache hygiene across a full registry run: a handful of builders
        # tracked_persist() a reused subtree for the duration of THEIR query;
        # release those before building the next one so a full-registry session
        # never accumulates executor storage
        release_caches()
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", name)
    wrapped.__wrapped__ = fn
    REGISTRY[name] = (wrapped, sql)


# --- leads, linking, transactions and check-ins -----------------------------

register("lead_timelines", ld.lead_timelines, ld.lead_timelines_sql())
register("rsvp_party_attendees", ld.rsvp_party_attendees, ld.rsvp_party_attendees_sql())
register("media_features", mm.media_features, mm.media_features_sql())
register("link_refunds", lk.link_refunds, lk.link_refunds_sql())
register("regex_key_enrichment", lk.regex_key_enrichment, lk.regex_key_enrichment_sql())
register("membership_flow", lk.membership_flow, lk.membership_flow_sql())
register("at_risk_report", lk.at_risk_report, lk.at_risk_report_sql())
register("salted_user_spend", sk.salted_user_spend, sk.salted_user_spend_sql())
register("experiment_entries", ex.experiment_entries, ex.experiment_entries_sql())
register(
    "pass_transfer_name_links",
    cu.pass_transfer_name_links,
    cu.pass_transfer_name_links_sql(),
)
register("timeline_json_parse", ld.timeline_json_parse, ld.timeline_json_parse_sql())
register("train_test_split", sp.train_test_split, sp.train_test_split_sql())
register("mixture_sample_summary", sp.mixture_sample_summary, sp.mixture_sample_summary_sql())
register("period_snapshots", co.period_snapshots, co.period_snapshots_sql())
register("checkin_sessions", ev.checkin_sessions, ev.checkin_sessions_sql())
register("transactions_build", txn.build_transactions, txn.transactions_sql())
register(
    "revenue_by_month_category",
    txn.revenue_by_month_category,
    txn.revenue_by_month_category_sql(),
)
register(
    "refund_metrics_by_category",
    txn.refund_metrics_by_category,
    txn.refund_metrics_by_category_sql(),
)
register(
    "day_pass_counts_by_month",
    txn.day_pass_counts_by_month,
    txn.day_pass_counts_by_month_sql(),
)
register("suspicious_price_bands", txn.suspicious_price_bands, txn.suspicious_price_bands_sql())
register("revenue_by_source", txn.revenue_by_source, txn.revenue_by_source_sql())
register("accounting_groups", txn.accounting_groups, txn.accounting_groups_sql())
register("revenue_by_region", txn.revenue_by_region, txn.revenue_by_region_sql())
register("dedup_transactions", txn.dedup_transactions, txn.dedup_transactions_sql())
register("checkins_build", ev.build_checkins, ev.checkins_sql())
register("visit_numbers", ev.visit_numbers, ev.visit_numbers_sql())
register("rolling_60d_visits", ev.rolling_60d_visits, ev.rolling_60d_visits_sql())
register("recency_buckets", ev.recency_buckets, ev.recency_buckets_sql())
register("trailing_window_counts", ev.trailing_window_counts, ev.trailing_window_counts_sql())
register("entry_method_counts", ev.entry_method_counts, ev.entry_method_counts_sql())
register("daily_checkin_stats", ev.daily_checkin_stats, ev.daily_checkin_stats_sql())

# --- window merge, streaming sessions, and the measured-quality evals for
# the approximate ANN and MinHash paths, greedy training-sequence packing
# and batch-vs-stored incremental dedup -----------------------------------

register(
    "merged_transactions_window",
    inc.merged_transactions_window,
    inc.merged_transactions_window_sql(),
)
register("streaming_sessions", stf.streaming_sessions_query, stf.streaming_sessions_sql())
register(
    "streaming_sessions_flush",
    stf.streaming_sessions_flush_query,
    stf.streaming_sessions_flush_sql(),
)
register("expense_categories", txn.expense_categories, txn.expense_categories_sql())
register("bigram_repetition", ts.bigram_repetition, ts.bigram_repetition_sql())
register("kmeans_refine", sim.kmeans_refine, sim.kmeans_refine_sql())
register(
    "source_length_percentiles",
    ts.source_length_percentiles,
    ts.source_length_percentiles_sql(),
)
register("ann_recall_eval", sim.ann_recall_eval, sim.ann_recall_eval_sql())
register("minhash_error_eval", dd.minhash_error_eval, dd.minhash_error_eval_sql())
register("sequence_packing", sp.sequence_packing, sp.sequence_packing_sql())
register("incremental_dedup", dd.incremental_dedup, dd.incremental_dedup_sql())
register("streaming_dedup_counts", st.streaming_dedup_counts, st.streaming_dedup_counts_sql())

# --- embedding LSH, customer master, family links and near-dup dedup ------

register("lsh_buckets", sim.lsh_buckets, sim.lsh_buckets_sql())
register(
    "embedding_near_dup_pairs",
    sim.embedding_near_dup_pairs,
    sim.embedding_near_dup_pairs_sql(),
)
register("customer_master", ld.customer_master, ld.customer_master_sql())
register("leads_table", ld.leads_table, ld.leads_table_sql())
register("family_relationships", cu.family_relationships, cu.family_relationships_sql())
register("simhash_near_pairs", dd.simhash_near_pairs, dd.simhash_near_pairs_sql())
register("dedup_clusters", dd.dedup_clusters, dd.dedup_clusters_sql())
register("minhash_lsh_pairs", dd.minhash_lsh_pairs, dd.minhash_lsh_pairs_sql())

# --- corpus curation: decontamination, stream attribution, cluster
# collapse, the production-width simhash (its width derived from count(*)
# inside the oracle itself), the curation funnel and int8 quantization -----

register("decontamination", dd.decontamination, dd.decontamination_sql())
register(
    "streaming_attribution_join",
    st.streaming_attribution_join,
    st.streaming_attribution_join_sql(),
)
register(
    "cluster_collapse_summary",
    dd.cluster_collapse_summary,
    dd.cluster_collapse_summary_sql(),
)
register(
    "simhash_adaptive_near_pairs",
    dd.simhash_adaptive_near_pairs,
    dd.simhash_adaptive_near_pairs_sql(),
)
register("corpus_funnel", sp.corpus_funnel, sp.corpus_funnel_sql())
register(
    "quantization_error_eval",
    sim.quantization_error_eval,
    sim.quantization_error_eval_sql(),
)

# chunk-granularity boilerplate audit, redaction scrub, temperature mixture
# weights, cross-source leakage rollup, hard-negative mining,
# subword/fertility token stats, stream-static dimension enrichment,
# per-source quality caps, training shard assignment, the mapInPandas resize
# stage, the int8 neighbor-set recall eval, the planted-near-dup recall
# eval, sliding-window chunking, the mixture epoch plan
register("chunk_boilerplate", dd.chunk_boilerplate, dd.chunk_boilerplate_sql())
register("pii_scrub", ts.pii_scrub, ts.pii_scrub_sql())
register(
    "temperature_mixture_weights",
    sp.temperature_mixture_weights,
    sp.temperature_mixture_weights_sql(),
)
register(
    "cross_source_leakage", dd.cross_source_leakage, dd.cross_source_leakage_sql()
)
register(
    "hard_negative_mining", sim.hard_negative_mining, sim.hard_negative_mining_sql()
)
register(
    "subword_token_stats", ts.subword_token_stats, ts.subword_token_stats_sql()
)
register(
    "streaming_static_enrichment",
    st.streaming_static_enrichment,
    st.streaming_static_enrichment_sql(),
)
register("source_quality_cap", sp.source_quality_cap, sp.source_quality_cap_sql())
register(
    "training_shard_assignment",
    sp.training_shard_assignment,
    sp.training_shard_assignment_sql(),
)
register(
    "media_resize_features", mm.media_resize_features, mm.media_resize_features_sql()
)
register(
    "quantized_topk_recall", sim.quantized_topk_recall, sim.quantized_topk_recall_sql()
)
register("dedup_recall_eval", dd.dedup_recall_eval, dd.dedup_recall_eval_sql())
register(
    "sliding_window_chunks", ts.sliding_window_chunks, ts.sliding_window_chunks_sql()
)
register("mixture_epoch_plan", sp.mixture_epoch_plan, sp.mixture_epoch_plan_sql())

# shingle-containment dedup (doc-inside-doc, the case Jaccard misses),
# vocabulary-coverage/OOV curve, tf-idf keyword extraction, the Zipf
# rank-frequency exponent, sketches, graph and revenue reshapes
register("containment_pairs", dd.containment_pairs, dd.containment_pairs_sql())
register("vocab_coverage", ts.vocab_coverage, ts.vocab_coverage_sql())
register("tfidf_keywords", ts.tfidf_keywords, ts.tfidf_keywords_sql())
register("zipf_slope", ts.zipf_slope, ts.zipf_slope_sql())
register("hll_distinct_eval", sketch.hll_distinct_eval, sketch.hll_distinct_eval_sql())
register("cms_heavy_hitters", sketch.cms_heavy_hitters, sketch.cms_heavy_hitters_sql())
register("bloom_join_prune", sketch.bloom_join_prune, sketch.bloom_join_prune_sql())
register("event_funnel", co.event_funnel, co.event_funnel_sql())
register("histogram_quantiles", sketch.histogram_quantiles, sketch.histogram_quantiles_sql())
register("pagerank_proximity", gr.pagerank_proximity, gr.pagerank_proximity_sql())
register("triangle_stats", gr.triangle_stats, gr.triangle_stats_sql())
register("markov_transitions", co.markov_transitions, co.markov_transitions_sql())
register("source_token_entropy", ts.source_token_entropy, ts.source_token_entropy_sql())
register("refund_metrics_long", txn.refund_metrics_long, txn.refund_metrics_long_sql())
register("daily_anomalies", co.daily_anomalies, co.daily_anomalies_sql())
register("pmi_collocations", ts.pmi_collocations, ts.pmi_collocations_sql())

# the Gopher-style hard-filter rule battery, the unigram-LM perplexity-proxy
# scorer, sorted-neighborhood dedup blocking (the sort-key complement to
# the hash/LSH blockers), the PIVOT wide reshape (UNPIVOT's inverse), and
# the cogrouped-applyInPandas as-of spend alignment (the last Pandas-UDF
# surface the engine hadn't exercised).
register(
    "quality_rule_battery", ts.quality_rule_battery, ts.quality_rule_battery_sql()
)
register(
    "unigram_logprob_quality",
    ts.unigram_logprob_quality,
    ts.unigram_logprob_quality_sql(),
)
register(
    "sorted_neighborhood_pairs",
    dd.sorted_neighborhood_pairs,
    dd.sorted_neighborhood_pairs_sql(),
)
register(
    "revenue_pivot_by_category",
    txn.revenue_pivot_by_category,
    txn.revenue_pivot_by_category_sql(),
)
register(
    "cogroup_spend_at_checkin",
    lk.cogroup_spend_at_checkin,
    lk.cogroup_spend_at_checkin_sql(),
)
register(
    "native_session_windows",
    ev.native_session_windows,
    ev.native_session_windows_sql(),
)
register(
    "common_neighbor_recs",
    gr.common_neighbor_recs,
    gr.common_neighbor_recs_sql(),
)
register(
    "warehouse_constraint_audit",
    qa.warehouse_constraint_audit,
    qa.warehouse_constraint_audit_sql(),
)
register("revenue_cube", txn.revenue_cube, txn.revenue_cube_sql())
register("media_frame_sample", mm.media_frame_sample, mm.media_frame_sample_sql())
register("spend_deciles", co.spend_deciles, co.spend_deciles_sql())
register("changeset_merge", inc.changeset_merge, inc.changeset_merge_sql())
register("retention_triangle", co.retention_triangle, co.retention_triangle_sql())
register(
    "sketch_decile_assignment",
    sketch.sketch_decile_assignment,
    sketch.sketch_decile_assignment_sql(),
)
register("daily_revenue_locf", txn.daily_revenue_locf, txn.daily_revenue_locf_sql())
register("purchase_attribution", ev.purchase_attribution, ev.purchase_attribution_sql())
register("category_basket_lift", co.category_basket_lift, co.category_basket_lift_sql())
register("spend_drift_psi", sketch.spend_drift_psi, sketch.spend_drift_psi_sql())
register(
    "visit_spend_correlation",
    co.visit_spend_correlation,
    co.visit_spend_correlation_sql(),
)
register(
    "experiment_conversion_ztest",
    ex.experiment_conversion_ztest,
    ex.experiment_conversion_ztest_sql(),
)
register("revenue_mom_growth", txn.revenue_mom_growth, txn.revenue_mom_growth_sql())
register(
    "seasonal_naive_forecast_eval",
    txn.seasonal_naive_forecast_eval,
    txn.seasonal_naive_forecast_eval_sql(),
)
register("semantic_dedup", sim.semantic_dedup, sim.semantic_dedup_sql())
register("blocker_recall_eval", dd.blocker_recall_eval, dd.blocker_recall_eval_sql())
register("table_diff_audit", inc.table_diff_audit, inc.table_diff_audit_sql())
register("visit_streaks", ev.visit_streaks, ev.visit_streaks_sql())

# --- flags, windowed streaming counts, exact cosine search, memberships,
# customers, cohorts and the base text/dedup operators ---------------------

register("flags_build", fl.build_flags, fl.build_flags_sql())
register("streaming_windowed_counts", st.windowed_event_counts, st.windowed_event_counts_sql())
register("events_unified", fl.events_unified, fl.events_unified_sql())
register("flag_type_summary", fl.flag_type_summary, fl.flag_type_summary_sql())
register("streaming_sliding_counts", st.sliding_event_counts, st.sliding_event_counts_sql())
register("cosine_topk", sim.cosine_topk, sim.cosine_topk_sql())
register("knn_label_vote", sim.knn_label_vote, sim.knn_label_vote_sql())
register("ivf_cell_search", sim.ivf_cell_search, sim.ivf_cell_search_sql())

register("proximity_connections", ev.proximity_connections, ev.proximity_connections_sql())
register("returning_after_break", ev.returning_after_break, ev.returning_after_break_sql())
register("memberships_build", mem.build_memberships, mem.memberships_sql())
register(
    "active_memberships_on_date",
    mem.active_memberships_on_date,
    mem.active_memberships_on_date_sql(),
)
register("daily_active_timeline", mem.daily_active_timeline, mem.daily_active_timeline_sql())
register("revenue_projection", mem.revenue_projection, mem.revenue_projection_sql())
register(
    "revenue_actual_plus_projected",
    mem.revenue_actual_plus_projected,
    mem.revenue_actual_plus_projected_sql(),
)
register(
    "membership_conversion_asof",
    mem.membership_conversion_asof,
    mem.membership_conversion_asof_sql(),
)
register(
    "checkins_membership_coverage",
    mem.checkins_membership_coverage,
    mem.checkins_membership_coverage_sql(),
)
register(
    "visits_before_first_membership",
    mem.visits_before_first_membership,
    mem.visits_before_first_membership_sql(),
)
register("customers_build", cu.build_customers, cu.customers_sql())
register("duplicate_emails", cu.duplicate_emails, cu.duplicate_emails_sql())
register("fuzzy_email_matches", cu.fuzzy_email_matches, cu.fuzzy_email_matches_sql())
register("identifiers_build", cu.identifiers_build, cu.identifiers_build_sql())
register(
    "parent_contact_enrichment",
    cu.parent_contact_enrichment,
    cu.parent_contact_enrichment_sql(),
)
register("customers_with_youth", cu.customers_with_youth, cu.customers_with_youth_sql())
register(
    "purchasers_never_checked_in",
    cu.purchasers_never_checked_in,
    cu.purchasers_never_checked_in_sql(),
)
register("conversion_cohorts", co.conversion_cohorts, co.conversion_cohorts_sql())
register("top_spenders", co.top_spenders, co.top_spenders_sql())
register("customer_mode_category", co.customer_mode_category, co.customer_mode_category_sql())
register("refund_distribution", co.refund_distribution, co.refund_distribution_sql())
register("family_day_pass_groups", co.family_day_pass_groups, co.family_day_pass_groups_sql())
register(
    "members_minus_active_owners",
    co.members_minus_active_owners,
    co.members_minus_active_owners_sql(),
)
register("parent_child_covisits", co.parent_child_covisits, co.parent_child_covisits_sql())
register("same_purchase_pairs", co.same_purchase_pairs, co.same_purchase_pairs_sql())
register("doc_stats", ts.doc_stats, ts.doc_stats_sql())
register("language_id_confusion", ts.language_id_confusion, ts.language_id_confusion_sql())
register("quality_buckets", ts.quality_buckets, ts.quality_buckets_sql())
register("token_frequencies", ts.token_frequencies, ts.token_frequencies_sql())
register("doc_fingerprints", ts.doc_fingerprints, ts.doc_fingerprints_sql())
register("exact_dedup", dd.exact_dedup, dd.exact_dedup_sql())
register("ngram_jaccard_pairs", dd.ngram_jaccard_pairs, dd.ngram_jaccard_pairs_sql())
register("minhash_signatures", dd.minhash_signatures, dd.minhash_signatures_sql())
register("simhash_signatures", dd.simhash_signatures, dd.simhash_signatures_sql())

# the S-family's staged-catalog counts, and the F3 applyInPandas escape
# hatch (its semantics are also pinned by the pytest differential against
# the native flags path)
register("catalog_table_counts", rd.catalog_table_counts, rd.catalog_table_counts_sql())
register(
    "flags_via_applyinpandas",
    fl.flags_via_applyinpandas,
    fl.flags_via_applyinpandas_sql(),
)

# --- priority dedup, SCD2, retrieval evals, sampling and drift ------------

register("source_priority_dedup", dd.source_priority_dedup, dd.source_priority_dedup_sql())
register("membership_scd2", mem.membership_scd2, mem.membership_scd2_sql())
register("data_questions", cu.data_questions, cu.data_questions_sql())
register("ann_ndcg_eval", sim.ann_ndcg_eval, sim.ann_ndcg_eval_sql())
register("bootstrap_spend_ci", ex.bootstrap_spend_ci, ex.bootstrap_spend_ci_sql())
register("dsir_selection", sp.dsir_selection, sp.dsir_selection_sql())
register("soft_dedup_weights", sp.soft_dedup_weights, sp.soft_dedup_weights_sql())
register(
    "mmr_diversified_topk",
    sim.mmr_diversified_topk,
    sim.mmr_diversified_topk_sql(),
)

register("bm25_topk", rt.bm25_topk, rt.bm25_topk_sql())
register("repeated_ngram_coverage", dd.repeated_ngram_coverage, dd.repeated_ngram_coverage_sql())
register("gram_novelty_by_source", ts.gram_novelty_by_source, ts.gram_novelty_by_source_sql())
register("stratified_sample_alloc", sp.stratified_sample_alloc, sp.stratified_sample_alloc_sql())
register(
    "weighted_reservoir_sample",
    sp.weighted_reservoir_sample,
    sp.weighted_reservoir_sample_sql(),
)
register(
    "embedding_centroid_drift",
    sim.embedding_centroid_drift,
    sim.embedding_centroid_drift_sql(),
)
register("ewma_daily_revenue", txn.ewma_daily_revenue, txn.ewma_daily_revenue_sql())
register(
    "ivf_probe_recall_sweep",
    sim.ivf_probe_recall_sweep,
    sim.ivf_probe_recall_sweep_sql(),
)
register(
    "streaming_weighted_sample",
    st.streaming_weighted_sample,
    st.streaming_weighted_sample_sql(),
)
register("pq_codebook_eval", sim.pq_codebook_eval, sim.pq_codebook_eval_sql())
register("cross_source_dup_matrix", dd.cross_source_dup_matrix, dd.cross_source_dup_matrix_sql())
register("bigram_interp_logprob", ts.bigram_interp_logprob, ts.bigram_interp_logprob_sql())
register("cusum_revenue_drift", txn.cusum_revenue_drift, txn.cusum_revenue_drift_sql())
register("markov_holdout_accuracy", co.markov_holdout_accuracy, co.markov_holdout_accuracy_sql())
register("linear_probe_quality", ts.linear_probe_quality, ts.linear_probe_quality_sql())
register("k_anonymity_audit", qa.k_anonymity_audit, qa.k_anonymity_audit_sql())
register("join_key_skew_audit", qa.join_key_skew_audit, qa.join_key_skew_audit_sql())
# windowed drift family (batch + streaming sibling), pair-free embedding
# dispersion, Fellegi-Sunter linkage pattern table
register(
    "record_linkage_patterns",
    cu.record_linkage_patterns,
    cu.record_linkage_patterns_sql(),
)
register("lang_id_kappa", ts.lang_id_kappa, ts.lang_id_kappa_sql())
register(
    "streaming_window_distinct_users",
    st.streaming_window_distinct_users,
    st.streaming_window_distinct_users_sql(),
)
register("interevent_burstiness", ev.interevent_burstiness, ev.interevent_burstiness_sql())
register("cluster_safe_split", dd.cluster_safe_split, dd.cluster_safe_split_sql())
register("woe_iv_by_feature", ex.woe_iv_by_feature, ex.woe_iv_by_feature_sql())
register("l_diversity_audit", qa.l_diversity_audit, qa.l_diversity_audit_sql())
register("hybrid_rrf_retrieval", rt.hybrid_rrf_retrieval, rt.hybrid_rrf_retrieval_sql())
register(
    "label_propagation_communities",
    gr.label_propagation_communities,
    gr.label_propagation_communities_sql(),
)
register("quality_dup_lift", dd.quality_dup_lift, dd.quality_dup_lift_sql())
register(
    "probe_conformal_calibration",
    ts.probe_conformal_calibration,
    ts.probe_conformal_calibration_sql(),
)
register(
    "membership_survival_km",
    mem.membership_survival_km,
    mem.membership_survival_km_sql(),
)
register(
    "cuped_variance_reduction",
    ex.cuped_variance_reduction,
    ex.cuped_variance_reduction_sql(),
)
register(
    "survival_logrank_by_frequency",
    mem.survival_logrank_by_frequency,
    mem.survival_logrank_by_frequency_sql(),
)
register(
    "markov_absorption_probs",
    co.markov_absorption_probs,
    co.markov_absorption_probs_sql(),
)
register(
    "theilsen_revenue_trend",
    txn.theilsen_revenue_trend,
    txn.theilsen_revenue_trend_sql(),
)
register(
    "sliding_distinct_users_hll",
    sketch.sliding_distinct_users_hll,
    sketch.sliding_distinct_users_hll_sql(),
)
register(
    "eb_shrunk_source_quality",
    ts.eb_shrunk_source_quality,
    ts.eb_shrunk_source_quality_sql(),
)
register(
    "membership_attrition_monthly",
    mem.membership_attrition_monthly,
    mem.membership_attrition_monthly_sql(),
)
register(
    "active_memberships_new_vs_existing",
    mem.active_memberships_new_vs_existing,
    mem.active_memberships_new_vs_existing_sql(),
)
register(
    "embedding_dispersion_by_label",
    sim.embedding_dispersion_by_label,
    sim.embedding_dispersion_by_label_sql(),
)
register("value_drift_psi", sketch.value_drift_psi, sketch.value_drift_psi_sql())
register(
    "streaming_value_drift_psi",
    st.streaming_value_drift_psi,
    st.streaming_value_drift_psi_sql(),
)

# --- the remaining reference dashboard charts queryized (reference
# dashboard/dashboard.py:1402-2199), each a composition of the operators
# above.  Marketing CPA
# (dashboard.py:1729) is the one chart NOT queryized: it reads the Facebook
# Ads spend table, a source family with no engine sibling fixture — scoping
# decision recorded in SURVEY §2.9 and README.
register(
    "youth_teams_daily_active",
    mem.youth_teams_daily_active,
    mem.youth_teams_daily_active_sql(),
)
register(
    "intro_offer_conversion_timeline",
    mem.intro_offer_conversion_timeline,
    mem.intro_offer_conversion_timeline_sql(),
)
register(
    "intro_offer_conversion_summary",
    mem.intro_offer_conversion_summary,
    mem.intro_offer_conversion_summary_sql(),
)
register(
    "birthday_party_participants",
    txn.birthday_party_participants,
    txn.birthday_party_participants_sql(),
)
register(
    "birthday_party_revenue",
    txn.birthday_party_revenue,
    txn.birthday_party_revenue_sql(),
)
register(
    "fitness_revenue_monthly",
    txn.fitness_revenue_monthly,
    txn.fitness_revenue_monthly_sql(),
)
register(
    "fitness_class_attendance",
    ev.fitness_class_attendance,
    ev.fitness_class_attendance_sql(),
)
register(
    "camp_session_purchases",
    txn.camp_session_purchases,
    txn.camp_session_purchases_sql(),
)
register(
    "camp_revenue_monthly",
    txn.camp_revenue_monthly,
    txn.camp_revenue_monthly_sql(),
)
# long-span Theil-Sen: same median, range-partitioned
# rank — no unpartitioned window over the days² pair frame; pytest pins
# equality with the exact form
register(
    "theilsen_trend_bucketed",
    txn.theilsen_trend_bucketed,
    txn.theilsen_trend_bucketed_sql(),
)
# statistical battery: rank-based testing (the bucketed-prefix ranking
# primitive from theilsen_trend_bucketed generalized to full prefix sums),
# robust location, multiple-testing control, weekly seasonality, hazard,
# and column profiling
register(
    "mann_whitney_spend_utest",
    ex.mann_whitney_spend_utest,
    ex.mann_whitney_spend_utest_sql(),
)
register(
    "bh_fdr_category_tests",
    ex.bh_fdr_category_tests,
    ex.bh_fdr_category_tests_sql(),
)
register(
    "trimmed_winsorized_spend",
    co.trimmed_winsorized_spend,
    co.trimmed_winsorized_spend_sql(),
)
register(
    "weekday_seasonality",
    txn.weekday_seasonality,
    txn.weekday_seasonality_sql(),
)
register(
    "churn_hazard_by_tenure",
    mem.churn_hazard_by_tenure,
    mem.churn_hazard_by_tenure_sql(),
)
register(
    "column_profile_audit",
    qa.column_profile_audit,
    qa.column_profile_audit_sql(),
)
register(
    "gini_spend_concentration",
    co.gini_spend_concentration,
    co.gini_spend_concentration_sql(),
)
register(
    "spearman_visit_spend",
    co.spearman_visit_spend,
    co.spearman_visit_spend_sql(),
)
register(
    "chisq_category_source",
    qa.chisq_category_source,
    qa.chisq_category_source_sql(),
)
register(
    "benford_amount_audit",
    qa.benford_amount_audit,
    qa.benford_amount_audit_sql(),
)
register("ks_spend_test", ex.ks_spend_test, ex.ks_spend_test_sql())
register(
    "mutual_info_category_source",
    qa.mutual_info_category_source,
    qa.mutual_info_category_source_sql(),
)
register(
    "embedding_top_component",
    sim.embedding_top_component,
    sim.embedding_top_component_sql(),
)
register(
    "streaming_benford_drift",
    st.streaming_benford_drift,
    st.streaming_benford_drift_sql(),
)
register(
    "feature_auc_screening",
    ts.feature_auc_screening,
    ts.feature_auc_screening_sql(),
)
register(
    "robust_daily_anomalies",
    co.robust_daily_anomalies,
    co.robust_daily_anomalies_sql(),
)
register(
    "holt_linear_daily_revenue",
    txn.holt_linear_daily_revenue,
    txn.holt_linear_daily_revenue_sql(),
)
register(
    "refund_test_power_mde",
    ex.refund_test_power_mde,
    ex.refund_test_power_mde_sql(),
)

# --- time-series battery over the zero-filled global daily revenue series:
# the "is there structure" pre-flight (ACF + Ljung-Box), the classical
# decomposition, the "when did it shift" locator, and the adaptive-reference
# drift monitor.  All share ewma/holt's scale shape: one daily shuffle, then
# calendar-bounded frames.
register("daily_revenue_acf", txn.daily_revenue_acf, txn.daily_revenue_acf_sql())
register(
    "seasonal_decomposition_daily",
    txn.seasonal_decomposition_daily,
    txn.seasonal_decomposition_daily_sql(),
)
register("revenue_changepoint", txn.revenue_changepoint, txn.revenue_changepoint_sql())
register(
    "page_hinkley_revenue_drift",
    txn.page_hinkley_revenue_drift,
    txn.page_hinkley_revenue_drift_sql(),
)
# survival extensions: the additive-hazard counterpart of the KM curve and
# the Greenwood band the bare point estimate should be read with
register("nelson_aalen_hazard", mem.nelson_aalen_hazard, mem.nelson_aalen_hazard_sql())
register("km_greenwood_ci", mem.km_greenwood_ci, mem.km_greenwood_ci_sql())
# segmentation / funnel-latency / cohort-LTV
register("rfm_segments", co.rfm_segments, co.rfm_segments_sql())
register("funnel_step_latency", co.funnel_step_latency, co.funnel_step_latency_sql())
register("ltv_triangle", co.ltv_triangle, co.ltv_triangle_sql())
# divergence + composable-sketch extensions
register("jsd_source_categories", qa.jsd_source_categories, qa.jsd_source_categories_sql())
register("hll_source_overlap", sketch.hll_source_overlap, sketch.hll_source_overlap_sql())
# linkage EM, language-ID summary, semantic eval-set decontamination
register("linkage_em_step", cu.linkage_em_step, cu.linkage_em_step_sql())
register("lang_id_macro_f1", ts.lang_id_macro_f1, ts.lang_id_macro_f1_sql())
register(
    "semantic_decontamination",
    sim.semantic_decontamination,
    sim.semantic_decontamination_sql(),
)
# data-derived outlier fences + ordered-category trend test
register(
    "tukey_category_outliers",
    co.tukey_category_outliers,
    co.tukey_category_outliers_sql(),
)
register(
    "cochran_armitage_trend", ex.cochran_armitage_trend, ex.cochran_armitage_trend_sql()
)
# survival area, dispersion audit, multi-touch credit,
# coverage estimation, text readability
register("rmst_membership", mem.rmst_membership, mem.rmst_membership_sql())
register("overdispersion_check", ev.overdispersion_check, ev.overdispersion_check_sql())
register(
    "position_based_attribution",
    ev.position_based_attribution,
    ev.position_based_attribution_sql(),
)
register(
    "capture_recapture_population",
    qa.capture_recapture_population,
    qa.capture_recapture_population_sql(),
)
register("readability_scores", ts.readability_scores, ts.readability_scores_sql())
# corpus-curation diagnostics (threshold sweep, split
# representativeness, length drift, format profile, retriever agreement,
# embedding-norm health)
register(
    "near_dup_threshold_sweep", dd.near_dup_threshold_sweep, dd.near_dup_threshold_sweep_sql()
)
register("source_length_ks", ts.source_length_ks, ts.source_length_ks_sql())
register("format_marker_rates", ts.format_marker_rates, ts.format_marker_rates_sql())
register("split_token_jsd", ts.split_token_jsd, ts.split_token_jsd_sql())
register("embedding_norm_audit", sim.embedding_norm_audit, sim.embedding_norm_audit_sql())
register(
    "retrieval_rank_agreement",
    rt.retrieval_rank_agreement,
    rt.retrieval_rank_agreement_sql(),
)
# dedup-cluster spectrum, mixture budget planning,
# peeking-safe sequential testing
register(
    "cluster_size_distribution",
    dd.cluster_size_distribution,
    dd.cluster_size_distribution_sql(),
)
register("mixture_budget_curve", sp.mixture_budget_curve, sp.mixture_budget_curve_sql())
register("sequential_probe_obf", ex.sequential_probe_obf, ex.sequential_probe_obf_sql())
register("dedup_weight_ess", sp.dedup_weight_ess, sp.dedup_weight_ess_sql())
# vocabulary growth, revenue concentration tiers,
# activity cube, streaming mix-drift
register("heaps_law_fit", ts.heaps_law_fit, ts.heaps_law_fit_sql())
register(
    "revenue_pareto_shares", co.revenue_pareto_shares, co.revenue_pareto_shares_sql()
)
register("activity_heatmap", ev.activity_heatmap, ev.activity_heatmap_sql())
register("streaming_jsd_drift", st.streaming_jsd_drift, st.streaming_jsd_drift_sql())
# the k-group test pair (parametric + rank-based)
register(
    "anova_spend_by_segment", ex.anova_spend_by_segment, ex.anova_spend_by_segment_sql()
)
register("kruskal_wallis_spend", ex.kruskal_wallis_spend, ex.kruskal_wallis_spend_sql())
# inference-battery round-out — the parametric
# two-group member, single-pass extreme screen
register("welch_ttest_spend", ex.welch_ttest_spend, ex.welch_ttest_spend_sql())
register("grubbs_spend_outlier", ex.grubbs_spend_outlier, ex.grubbs_spend_outlier_sql())
register(
    "levene_brown_forsythe", ex.levene_brown_forsythe, ex.levene_brown_forsythe_sql()
)
register(
    "permutation_test_spend", ex.permutation_test_spend, ex.permutation_test_spend_sql()
)
# daily-series diagnostics (normality, residual
# autocorrelation, sign-pattern randomness)
register(
    "jarque_bera_daily_revenue",
    txn.jarque_bera_daily_revenue,
    txn.jarque_bera_daily_revenue_sql(),
)
register(
    "durbin_watson_revenue", txn.durbin_watson_revenue, txn.durbin_watson_revenue_sql()
)
register("runs_test_revenue", txn.runs_test_revenue, txn.runs_test_revenue_sql())
# grouped-jackknife corpus-sensitivity audit
register(
    "jackknife_source_mean", ts.jackknife_source_mean, ts.jackknife_source_mean_sql()
)

# one consumer per mode of sketches.bucketed_prefix_rank: plain (wilcoxon
# |d| ranks), inclusive dual-measure (CvM cumulative ECDFs), and
# partitioned rank-pick (per-segment quantiles)
register(
    "wilcoxon_signed_rank_spend",
    ex.wilcoxon_signed_rank_spend,
    ex.wilcoxon_signed_rank_spend_sql(),
)
register("cvm_spend_test", ex.cvm_spend_test, ex.cvm_spend_test_sql())
register(
    "segment_spend_quantiles",
    co.segment_spend_quantiles,
    co.segment_spend_quantiles_sql(),
)


def queries() -> dict[str, SparkQuery]:
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}
