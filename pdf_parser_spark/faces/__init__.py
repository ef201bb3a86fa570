"""Face registry: every named plan of the driver contract, one record each.

A face is a Spark plan, ``build(spark, sf_dir) -> DataFrame``, and the DuckDB
SQL, ``oracle``, that must return the same rows over the same sf dir
(``tools/check_oracles.py`` runs both and compares them).  Each family module
in this package holds its faces as ``Face`` records in a module-level
``FACES`` list, the build and the oracle side by side; builders and SQL
fragments that two families use live in ``shared``.  Adding a face is one
record in its family's ``FACES``.

``__spark_entry__.queries()`` and ``oracle_sql()`` are views of
``registry()``.  Importing the package or calling ``registry()`` needs no
SparkSession.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable, Iterable
from types import ModuleType
from typing import TYPE_CHECKING, NamedTuple

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

RUN_TS = "2026-08-16T00:00:00Z"  # run-scoped literal: deterministic parsed_at


class Face(NamedTuple):
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str


FAMILIES = (
    "relational", "stream", "tpch", "extract", "text", "web", "curation",
    "dedup", "ann", "media", "pdf", "lake", "graph",
)

# The driver-visible order of queries().  A face not named here follows
# these, in FAMILIES order.
ORDER = tuple("""
    w1_event_sequence w2_first_value w3_lang_summary v2_tolerance_bands
    w4_sessionize w5_funnel w7_cohort_retention w8_attribution
    w9_bot_detect w10_rfm w11_stickiness w12_user_concentration
    w13_interevent_gaps w14_growth_accounting w15_activity_gini
    w6_session_window st_sessionize j_range_join f_regex_extract
    a_align_rollup a_gapfill j_asof_latest_order u_setops
    g_rollup_revenue g_cube_revenue q_pivot_lang_matrix
    q1_pricing_summary q3_top_orders q5_region_revenue
    q6_forecast_revenue q4_order_priority q18_large_orders
    q7_volume_shipping q10_returned_items q12_priority_by_status
    q13_order_count_distribution q14_promo_revenue q15_top_supplier
    q19_bracket_revenue q22_dormant_customers q17_small_quantity_revenue
    q20_promo_volume_suppliers q21_lone_returning_supplier
    q2_min_price_supplier q8_market_share q9_profit_by_nation_year
    q11_revenue_concentration q16_supplier_diversity qc_structural
    x_accession_lookup x_statement_facts x_cross_validate
    x_fleet_cross_validate t_token_count t_surprisal2 t_surprisal_kn
    t_readability t_lexical_diversity t_fertility t_novelty
    t_vocab_growth t_zipf_buckets t_lang_id t_lang_mismatch
    t_script_stats t_surprisal t_nb_classifier t_filter_agreement
    u_domain_quality u_crawl_budget u_trap_urls u_url_templates
    u_template_dup u_soft404 u_typosquat u_http_cache u_recrawl_decision
    u_dot_segments u_robots_allow u_param_audit u_robots_wild
    u_sitemap_discovery t_quality_score t_gopher_rules t_c4_rules
    t_fingerprint t_length_quantiles t_inverted_index t_bpe_merges
    t_bpe_apply t_bpe_merges_localfit t_bpe_apply_localfit t_token_drift
    t_winnow_fp t_token_count_bpe t_quality_gate t_repetition
    t_top_terms t_cms_heavy_hitters t_top_terms_2p t_collocations
    t_datasheet c_release_headline t_datasheet_approx
    t_length_quantiles_approx t_keywords t_bm25 t_bm25_mrr
    t_phrase_search t_code_detect t_bm25f t_kwic t_date_extract
    t_char_entropy t_unigram_vocab t_unigram_apply t_unigram_fertility
    t_len_quality_assoc t_gate_impact c_dup_by_tier c_quality_tiers
    st_dedup st_dedup_watermark st_neardup st_rate_limit st_attribution
    st_trending st_bot_detect st_gdpr_delete st_partitioned_ingest
    st_gated_ingest st_incremental_mv st_late_events st_window_counts
    st_static_enrich st_stream_join st_extract st_change_feed d_exact
    d_dup_trend d_survivorship d_ngram_jaccard d_threshold_sweep
    d_minhash_sig d_minhash_lsh d_cross_source d_minhash_est
    d_cdc_chunks d_components d_keeper_election d_simhash d_containment
    d_embedding_neardup d_semdedup s_ann_brute s_mmr_rerank s_ann_ivf
    s_ann_ivf_samplefit s_ann_lsh s_ann_sq8 s_ann_ivfpq
    s_ann_ivfpq_residual s_dim_audit s_ann_pq s_ann_pq_rerank
    m_binary_stats m_mime_sniff m_image_dims m_exif_meta
    m_exif_display_dims p_pdf_layout p_pdf_text p_pdf_links
    p_pdf_outline p_pdf_scanned p_pdf_table_strategy p_pdf_tables
    m_ingest_dispatch m_image_ahash m_image_dhash m_audio_spectral
    m_image_phash m_image_neardup m_audio_energy m_audio_segments
    m_media_features m_transform m_shot_detect m_video_neardup
    m_audio_neardup m_frame_sample d_simhash_pairs d_dup_spans
    d_strip_spans u_canonicalize u_domain_rollup u_hreflang u_surt
    u_cdx_index u_cdx_lookup_join u_blocklist u_crawl_admission u_robots
    u_fetcher_lanes u_crawl_plan u_robots_parsed u_sitemap
    u_sitemap_index u_domain_quota d_change_magnitude u_snapshot_diff
    q1_pricing_sql q_top_orders_sql u_table_time_travel
    p_incremental_extract u_table_pruned_scan u_table_partitioned_scan
    u_table_spec_evolution u_table_rollback u_table_files u_table_wap
    u_table_mor_delete u_table_pos_delete u_table_branch
    u_table_dedup_inplace u_table_snapshots u_table_schema_evolution
    u_table_incremental_mv u_warc_roundtrip u_warc_datasource
    u_wet_export u_wat_export u_warc_revisit u_jsonl_roundtrip
    u_orc_roundtrip c_decontaminate c_decontaminate_bloom
    c_decontaminate_fuzzy c_pii_scrub c_stratified_sample c_lm_coverage
    c_pack_shards c_shard_rebalance c_global_shuffle c_pack_sequences
    c_packing_stats c_pack_lenscan c_release_manifest c_budget_select
    c_curriculum_order c_license_tags c_license_rollup c_epoch_plan
    c_temperature_mix c_contamination_report c_leakage_audit
    c_holdout_split c_corpus_funnel c_chunk_windows c_mixture_resample
    c_charset_sniff c_nfc_normalize c_ingest_pipeline c_mojibake
    c_dsir_select c_paragraph_tags c_paragraph_mix d_incremental
    c_invisible_scrub c_dehyphenate c_corpus_build p_warc_ingest_corpus
    u_outlinks g_pagerank g_trustrank u_outlinks_nofollow
    g_pagerank_followed g_spam_mass g_hits g_salsa g_related
    g_assortativity g_cocitation g_graph_stats g_seed_depth g_host_graph
    g_communities g_reciprocity g_triangles g_kcore g_harmonic
    g_neighborhood g_degree_dist g_bowtie g_frontier g_frontier2
    g_corpus_frontier u_anchor_text c_line_dedup c_line_dedup_host
    u_head_meta p_boilerplate_audit u_scd2_history u_recrawl_schedule
    u_redirect_resolve u_rel_canonical u_redirect_groups
    u_meta_redirects extract_pipeline p_run_lineage
""".split())


def collect(modules: Iterable[ModuleType]) -> dict[str, Face]:
    """name -> Face over the modules' ``FACES``, in ORDER.  Raises on a name
    two records define, on a record without a build or a non-empty oracle,
    and on an ORDER name no record defines."""
    found: dict[str, Face] = {}
    home: dict[str, str] = {}
    for mod in modules:
        for face in mod.FACES:
            if face.name in found:
                raise ValueError(
                    f"face {face.name!r} is defined in both "
                    f"{home[face.name]} and {mod.__name__}")
            if not callable(face.build) or not (
                    isinstance(face.oracle, str) and face.oracle.strip()):
                raise ValueError(
                    f"face {face.name!r} in {mod.__name__} needs a build "
                    "and a non-empty oracle")
            found[face.name] = face
            home[face.name] = mod.__name__
    missing = [n for n in ORDER if n not in found]
    if missing:
        raise ValueError(f"ORDER names faces no family defines: {missing}")
    listed = set(ORDER)
    return {n: found[n]
            for n in (*ORDER, *(n for n in found if n not in listed))}


def registry() -> dict[str, Face]:
    return collect(importlib.import_module(f"{__name__}.{family}")
                   for family in FAMILIES)
