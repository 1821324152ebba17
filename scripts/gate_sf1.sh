#!/usr/bin/env bash
# Scale-correctness gate: run the DuckDB oracle at 10x (tmp_sf1, the
# GenBig-replicated corpus) for a sample spanning the partitioning- and
# overflow-sensitive families — dedup/CC, ANN, windows, decimal
# aggregates, joins — and commit the result as CORRECTNESS_sf1.json.
# The sf0.01 driver gate proves semantics; this proves the same plans
# survive a 10x scale-up (AQE re-plans, skew paths, spill) bit-exactly.
set -euo pipefail
cd "$(dirname "$0")/.."
. scripts/jdk_opens.sh

SAMPLE=dedup_exact,embed_lsh_recall,embed_near_dup,sorted_neighborhood_pairs,dedup_minhash_lsh,dedup_clusters,dedup_simhash,er_clusters,dedup_ngram_jaccard,dedup_jaccard_prefix,ann_ivfpq_top3,ann_bruteforce_top5,window_range_frame,window_running_total,scd2_intervals,topk_orders_per_cust,q1_pricing_summary,ols_price_on_qty,weighted_avg_price,q5_region_revenue,mirror_apply,asof_join_events,token_stats,bigram_fluency,q17_small_qty_revenue,q18_large_orders,bfs_layers,linkpred_jaccard,q16_supplier_variety,q21_sole_late_supplier,weighted_median_price,crosstab_lang_source,histogram_equidepth,winsorized_mean_price,scrub_mask_report,seasonal_naive_error,funnel_latency,domain_reweight,communities_lpa,mirror_merkle,jw_best_match,dedup_containment,session_trigrams,rfm_segments,dq_rules,benford_prices,cheapest_trade_route,kmv_distinct_parts,time_weighted_value,ivm_join_view,attribution_last_touch,bitemporal_asof,basket_pairs,ab_test_events,revenue_concentration,q2_min_cost_supplier,q9_product_profit,q11_important_stock,q12_priority_lines,q20_dominant_suppliers,q13_order_distribution,q15_top_supplier,q22_inactive_customers,kcore_docs,source_similarity,novelty_by_slice,cusum_changepoint,ivm_retract_view,hits_scores,clustering_local,ewma_revenue,interval_coverage,kmv_union_distinct,key_skew_profile,dup_rate_by_source,source_minhash_sim,hll_union_custkeys,pit_feature_join,capped_sample_by_lang,attribution_linear,semdedup_prune,repeated_ngram_coverage,kmv_intersect_parts,ppr_part_seeds,weighted_sample_docs,quantile_sketch_union,jl_projection_audit,join_size_estimate,vocab_growth_curve,ams_f2_estimate,dedup_survivorship,k_anonymity_audit,theil_sen_trend,priority_drift_tv,fk_integrity_audit,assoc_rules_conf,band_join_parts,dow_seasonality,domain_diversity,quality_decile_by_lang,embed_norm_outliers,target_encode_oof,feature_hash_collisions,dup_cluster_size_hist,seq_topk_refblock,peak_inflight_shipments,golden_record_merge,curation_report,unicode_fingerprint_collapse,dedup_exact_unicode

# Corpus + artifact are parameterizable so the SAME gate runs against
# the replicated corpus (tmp_sf1 -> CORRECTNESS_sf1.json, default) and
# the organic corpus (tmp_sf1_organic -> CORRECTNESS_sf1_organic.json)
# — the prefix-filter tier and the fan-out guards' organic-regime
# decisions are live only on the latter.
SF_DIR=${GATE_SF_DIR:-tmp_sf1}
OUT_JSON=${GATE_OUT_JSON:-CORRECTNESS_sf1.json}
OUT=${1:-/tmp/verify_sf1}
rm -rf "$OUT"
# Full-surface oracle type lint first (every oracle, not just the sample):
# an uncast HUGEINT can never hash-match Spark BIGINT at the driver.
java -Xmx"$SPARK_DRIVER_MEM" $JDK_OPENS -cp "target/scala-2.13/lms_erp_data_integrationspark_2.13-0.1.0.jar:/opt/spark/jars/*" \
  graft.DumpOracles /tmp/oracle_all.json
python3 scripts/lint_oracle_types.py /root/testdata/sf0.01 /tmp/oracle_all.json
# Completeness: SAMPLE ∪ gate_exclusions.txt must exactly partition the
# declared oracle universe — a new query breaks the gate until it's
# either gated here or excluded with a written reason.
python3 scripts/assert_gate_coverage.py /tmp/oracle_all.json "$SAMPLE" \
  scripts/gate_exclusions.txt
SPARK_GRAFT_ONLY="$SAMPLE" \
  java -Xmx"$SPARK_DRIVER_MEM" $JDK_OPENS -cp "target/scala-2.13/lms_erp_data_integrationspark_2.13-0.1.0.jar:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT"
python3 scripts/check_oracle.py "$SF_DIR" "$OUT" "$OUT_JSON"
