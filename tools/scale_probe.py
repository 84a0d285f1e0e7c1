#!/usr/bin/env python
"""Measured scaling evidence: replicate the sf0.1 tables K× with
FK-consistent key offsets into /tmp, then time headline operators at 1×
and K× and report the scaling ratio.

A near-K× ratio on a fixed 32-core box means the operator's work grows
linearly with data (no quadratic joins, no driver bottleneck) — the local
proxy for "the plan survives a 100× scale-up".  Sub-K× ratios mean fixed
overheads still dominate at this size.

Usage: python tools/scale_probe.py [K] [query ...]
Writes /tmp/egraphdb_scale/sf1x and /tmp/egraphdb_scale/sfKx, prints a
markdown table.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = "/tmp/egraphdb_scale"

# (table, [key columns to offset]) — offsets keep every FK chain consistent
KEYED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}
COPIED = ["region", "nation"]

PROBES = [
    "agg_q1_pricing_summary",
    "agg_q5_region_revenue",
    "agg_q9_product_profit",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_lsh_recall",
    "dedup_jaccard_pairs",
    "dedup_contamination",
    "txt_bm25_topk",
    "sim_ivf_topk",
    "sim_mips_topk",
    "dedup_embedding_pairs",
    "pipe_corpus_clean",
    "sample_token_budget",
    "sample_neyman",
    "graph_kcore",
    "graph_sssp_weighted",
    "rag_hybrid_rrf",
    "pipe_chunking",
    "dedup_repeated_spans",
    "dedup_incremental_lsh",
    "sim_pq_topk",
    "evt_retention",
    "evt_spikes",
    "emb_label_centroids",
    "emb_truncate_recall",
    "emb_drift",
    "dedup_semantic_pairs",
    "txt_bpe_pair_counts",
    "pipe_assemble",
    "pipe_fim_split",
    "reindex_status",
    "txt_unigram_nll",
    "pipe_shard_manifest",
    "pipe_length_buckets",
    "sample_weighted",
    "evt_active_users_7d",
    "evt_stickiness",
    "clean_impute_median",
    "dedup_canonical_corpus",
    "dedup_fuzzy_pairs",
    "sketch_hll_overlap",
    "sketch_kmv_distinct",
    "sketch_kmv_overlap",
    "sample_group_split",
    "sim_knn_graph",
    "txt_tfidf_sim_pairs",
    "txt_rake_keyphrases",
    "sim_ivfpq_topk",
    "graph_lpa",
    "dedup_containment_pairs",
    "join_asof_nearest",
    "pipe_temperature_mix",
    "pipe_interleave",
    "txt_hash_embedding",
    "txt_bigram_nll",
    "evt_anomaly_mad",
    "txt_source_jsd",
    "pipe_pack_pairs",
    "txt_char_entropy",
    "mm_simhash_pairs",
    "emb_pca_power",
    "emb_abtt_topk",
    "graph_hits",
    "join_bloom_prefilter",
    "evt_rfm_segments",
    "emb_label_outliers",
    "graph_bipartite_proj",
    "agg_skew_kurtosis",
    "win_first_last",
    "dedup_line_corpus",
    "dedup_source_overlap",
    "evt_ohlc",
    "evt_gapfill_locf",
    "graph_adamic_adar",
    "txt_readability",
    "evt_changepoint",
    "pipe_dataset_card",
    "io_orc_roundtrip",
    "stream_ohlc",
    "graph_walks",
    "evt_ewma",
    "evt_ab_test",
    "pipe_ccnet_buckets",
    "graph_modularity",
    "pipe_quality_ablation",
    "win_time_range",
    "io_partition_prune",
    "agg_listagg",
    "evt_funnel_steps",
    "evt_cohort_ltv",
    "evt_holt",
    "evt_holt_winters",
    "evt_forecast_mae",
    "evt_survival_km",
    "evt_markov_stationary",
    "evt_rate_wilson",
    "evt_hill_alpha",
    "evt_seasonal_dow",
    "evt_lag_corr",
    "graph_harmonic",
    "graph_betweenness",
    "graph_ppr",
    "join_interval_overlap",
    "txt_pmi_collocations",
    "txt_skipgram_cooc",
    "profile_benford",
    "profile_expectations",
    "clean_quantile_norm",
    "sim_recall_at_k",
    "graph_scc",
    "evt_attribution",
    "io_csv_quarantine",
    "io_csv_multiline",
    "io_jsonl_quarantine",
    "io_schema_evolution",
    "stream_jsonl_quarantine",
    "layout_bucket_join",
    "sample_reservoir_group",
    "sample_class_balance",
    "pipe_dataset_diff",
    "s10_geo_knearest",
    "privacy_k_anon",
    "privacy_l_diversity",
    "privacy_k_suppress",
    "mm_binary_ingest",
    "txt_bpe_train",
    "txt_bpe_fertility",
    "txt_bpe_vocab_tokens",
    "privacy_t_closeness",
    "pipe_epoch_shuffle",
    "profile_drift_psi",
    "clean_unicode_normalize",
    "dedup_cdc_chunks",
    "rag_mmr_rerank",
    "txt_gopher_quality",
    "profile_drift_ks",
    "privacy_dp_counts",
    "sketch_ams_f2",
    "graph_ktruss",
    "sample_kcenter_coreset",
    "privacy_dp_mean",
    "clean_url_canon",
    "evt_diff_in_diff",
    "txt_winnow_fingerprints",
    "txt_kneser_ney",
    "sketch_moments_chebyshev",
    "rag_ndcg",
    "sample_pps_systematic",
    "clean_dates_normalize",
    "evt_bootstrap_ci",
    "profile_gini",
    "txt_zipf_fit",
    "stream_moments",
    "txt_gopher_lines",
    "dedup_winnow_pairs",
    "clean_html_strip",
    "privacy_dp_topk",
    "txt_heaps_fit",
    "dedup_hamming64_pairs",
    "rag_fusion_weighted",
    "clean_isotonic_calibrate",
    "txt_dup_structure",
    "evt_cuped",
    "evt_conformal",
    "dedup_span_coverage",
    "mm_phash_pairs",
    "rag_feature_rerank",
    "sketch_sampled_quantiles",
    "pipe_despan_rewrite",
    "dedup_contam_spans",
]


def build(spark, k: int, dst: str) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(dst, "_DONE")):
        return
    os.makedirs(dst, exist_ok=True)
    for t in COPIED:
        spark.read.parquet(f"{BASE}/{t}.parquet").write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )
    for t, keys in KEYED.items():
        df = spark.read.parquet(f"{BASE}/{t}.parquet")
        spans = {c: df.agg(F.max(c)).first()[0] + 1 for c in keys}
        rep = df.withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
        for c in keys:
            rep = rep.withColumn(c, F.col(c) + F.col("_i") * F.lit(spans[c]))
        rep.drop("_i").write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
    open(os.path.join(dst, "_DONE"), "w").write("ok")


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = sys.argv[2:]
    from egraphdb_spark.graph import doc_shingles
    from egraphdb_spark.queries import REGISTRY, fixture
    from egraphdb_spark.session import get_spark

    spark = get_spark("scale-probe")
    one, big = f"{OUT}/sf1x", f"{OUT}/sf{k}x"
    build(spark, 1, one)
    build(spark, k, big)

    probes = [p for p in PROBES if not only or any(s in p for s in only)]

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    results = []
    for sf_dir in (one, big):
        t0 = time.perf_counter()
        g = fixture(spark, sf_dir)
        g.vertices.count(); g.edges.count(); g.indexes.count()
        doc_shingles(spark, sf_dir).count()
        prep = time.perf_counter() - t0
        row = {"_prepare": prep}
        for name in probes:
            fn, _ = REGISTRY[name]
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                force(fn(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
            row[name] = best
            print(f"{sf_dir.rsplit('/',1)[-1]} {name} {best:.2f}s", flush=True)
        results.append(row)

    print(f"\n| query | 1x (s) | {k}x (s) | ratio |")
    print("|---|---|---|---|")
    for name in ["_prepare"] + probes:
        a, b = results[0][name], results[1][name]
        print(f"| {name} | {a:.2f} | {b:.2f} | {b / max(a, 1e-9):.1f}x |")


if __name__ == "__main__":
    main()
