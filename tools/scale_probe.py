"""Scale probe: run representative queries at sf0.1 and at the 16x
key-shifted replica (tools/gen_scale.py), under the 'scale' profile
(AQE on, shuffle ceiling 2000 → coalesced by advisory size), and report
warm time ratios. Ideal is ≤ ~16x time for 16x data (linear); shuffles
and O(n²)-risk operators are the ones to watch.

Usage: SPARK_GRAFT_PROFILE=scale python tools/scale_probe.py [scaled_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nipd_spark import registry
from nipd_spark.profile import collect, time_runs
from nipd_spark.session import get_spark

PROBE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q13_customer_distribution",
    "o4_pergroup_topk",
    "t1_tumbling_hourly",
    "l6_token_tf",
    "l7_tfidf",
    "j8_range_join",
    "j9_asof_join",
    "a1b_salted_agg",
    "l2_hash_dedup",
    "l3b_minhash_lsh",
    "l16_dedup_clusters",
    "l4_knn_bruteforce",
    "l5b_ann_ivf",
    "l18_kmeans",
    "l19_decontaminate",
    "l20_text_clean",
    "l21_stratified_sample",
    "l22_unigram_logprob",
    "q11_important_stock",
    "q21_suppliers_waiting",
    "s6d_dynamic_prune",
    "d9_pandas_api",
    "l23_repetition_filter",
    "l24_pii_redact",
    "l25_pack_sequences",
    "l16b_canonical_rep",
    "l26_incremental_dedup",
    "l27_corpus_card",
    "l28_quantize_embeddings",
    "s9_text_source",
    "s10_binary_source",
    "j12_shuffled_hash",
    "c9_curation_pipeline",
    "w10_longest_streak",
    "c10_retention_cohorts",
    # round-3 late additions
    "j15_bloom_filter_join",
    "a17_heavy_hitters",
    "a19_bitmap_distinct",
    "g2_pagerank",
    "sql3_recursive_cte",
    "c14_time_decay_attribution",
    "l31_bpe_pair_step",
    "l35_ann_pq",
    "l36_chunk_documents",
    "w14_reset_cumsum",
    # round-3 published-method additions
    "l46_semdedup",
    "l47_balanced_shards",
    "l48_dsir_importance",
    "l49_repeated_spans",
    "l50_gopher_rules",
    "l51_jl_projection",
    "a30_tdigest_quantiles",
    # round-4 additions
    "s21_merge_into",
    "s22_time_travel",
    "s23_snapshot_cdf",
    "s24_incremental_agg",
    "l55_span_dedup",
    "w18_mann_whitney_u",
    "l57_semantic_decontaminate",
    "s25_snapshot_retention",
    "c30_scd2_dimension",
    "l58_per_source_cap",
    "l59_token_budget_mix",
    "j20_interval_overlap",
    "c31_hardy_weinberg",
    "c32_ld_r2",
    "c33_assoc_chi2",
    "c34_kaplan_meier",
    "a31_weighted_median",
    "w21_ewma",
    "l14_embedding_neardup",
    "dq9_control_chart",
    "l60_unimax_allocation",
    # round-5: low-cardinality-window rewrites (grouped histogram cumsum)
    "a24_weighted_median",
    "w7_pct_rank_cume",
    "w8_zscore",
    "w16_cumulative_distinct",
    # round-6: IVF-screened near-dup, CUSUM off the raw-row window,
    # batched iterative CC
    "l14b_ivf_neardup",
    "w20_cusum_drift",
    "g3_connected_components",
    # round-7: BM25 retrieval, HRW sharding, systematic token sampling
    "l62_bm25_topk",
    "l63_hrw_shard_rebalance",
    "l64_systematic_token_sample",
    # round-7 second batch: hybrid fusion, mixture weights, bigram KN,
    # perceptual near-dup
    "l65_rrf_hybrid",
    "l65b_rrf_ivf",
    "l66_temperature_mixture",
    "l67_kneser_ney_logprob",
    # l68_margin_bitext is EXCLUDED (with l3_jaccard_pairs): it is the
    # exact all-pairs anchor whose interpreted-HOF cosine is O(n²·d) by
    # definition — its scale path is l68b (IVF candidate set, probed)
    "l10d_perceptual_neardup",
    "s26_xml_source",
    "l31b_bpe_train",
    # round-8: margin bitext on the IVF candidate set
    "l68b_margin_bitext_ivf",
    # round-8 second batch: MMR re-rank, retrieval eval, fertility,
    # unigram-LM EM, bounded BFS, Gini concentration, Spearman
    "l69_mmr_diversify",
    "l70_retrieval_eval",
    "l71_tokenizer_fertility",
    "l72_unigram_lm_em",
    "g4_bfs_hops",
    "c35_gini_by_nation",
    "w22_spearman_corr",
    "l73_phrase_search",
    "l74_length_bucket_packing",
    "a32_equidepth_histogram",
    "l75_ivf_incremental",
    "l76_zipf_fit",  # (source, token) partial agg + per-source rank
    # over the vocabulary-sized term table
    "t21_chained_windows",  # first LIVE streaming query in the probe:
    # the ratio includes replay machinery, but pins the claim that the
    # outer state store's input is aggregate-sized
    # round-9 additions
    "j21_asof_sql_surface",  # ASOF-SQL rewrite -> union+window + agg
    "j21b_asof_sql_left_forward",  # the outer+forward corners, same shape
    "w23_spearman_lowcard",  # fixed-cardinality Spearman on rank maps
    "a15_approx_percentile",  # GK sketch partial agg (flat rows)
    "a15b_approx_percentile_certificate",  # sketch + exact-count verify
    "dq10_ks_two_sample",  # distinct-value collapse + bucketed ECDF prefix
    "t22_stream_drift_monitor",  # streaming windowed-bin counts + tiny PSI assembly
    "a4b_hll_error_certificate",  # HLL + exact countDistinct audit pass
    "a30b_tdigest_certificate",  # t-digest + broadcast-estimates rank audit
    "c37_bh_fdr_screen",  # bounded test matrix + bucketed BH rank
    "c38_theil_by_nation",  # two aggs + 25-row broadcast mean
    # round-10 additions
    "j21c_asof_sql_bounded_using",  # composite-key bounded ASOF splice
    "dq10b_ks_binned_certificate",  # binned KS + exact-D sandwich audit
    "c39_cbs_split",  # bins collapse + single-pass prefix + argmax join
    "t23_state_ttl_eviction",  # timer TTL eviction (replay machinery incl.)
    "o7_skyline",  # per-x min collapse + 50-row prefix window + broadcast back
    "sql7_qualify",  # QUALIFY rewrite -> window + filter
    "c39b_cbs_recursion",  # depth-2 CBS: same pass + anchor-subtraction level 2
    "o7b_skyline_continuous",  # continuous-key skyline on bucketed running-min
    # round-11 additions
    "j22_asof_nearest",  # nearest = backward pass + forward pass, argmin
    "j22b_asof_nearest_sql",  # NEAREST SQL splice + bounded-match aggregate
    "o7c_skyline_grid3d",  # d=3 grid-pruned skyline on distinct value triples
    "c39c_cbs_convergence",  # CBS supersteps to convergence on one prefix pass
    "dq10c_ks_sketch_binned",  # binned-only KS: sketch edges, no ranks pass
    "dq10d_ks_sketch_certificate",  # GK band certificate on the same plan
    "w24_pattern_vshape",  # MATCH_RECOGNIZE run subset via islands compile
    "w24b_pattern_dip_stabilize_recover",  # k=3 banded run pattern
    "w24c_pattern_wshape",  # self-overlapping W via bucketed sequential scan
]


def timed(fn, spark, sf_dir: str, warm: int = 2) -> tuple[float, int]:
    """Best BUILD + FULL-materialization time over ``warm`` fresh runs
    after one warm-up, and the row count (Arrow toPandas, like bench.py
    and any real consumer).

    ``df.count()`` lets Catalyst prune unreferenced projections — for a
    map-only query that silently times a bare scan (this bit us: an
    interpreted-HOF rewrite 'measured' 0.04 s while really costing
    ~60 s). count(col) is no better: provably-non-null counts fold to
    count(1). Materializing every column is the only honest forcing;
    result-collection cost is part of the query's real price.

    The timer starts BEFORE fn() — several queries legitimately run
    bounded driver actions while BUILDING their DataFrame (a17's
    coverage-certificate collect, knn's GEMM block loop, the iterative
    families' supersteps, eager fixture materialization), and a window
    that opens after fn() silently zeroes that work (observed: a17's
    whole partials materialization vanished from the probe when its
    certificate landed; the g2 edge-build had to be hand-reported in
    r6 for the same reason). Plan construction for action-free queries
    is ~ms and does not disturb ratios.

    Each run rebuilds the DataFrame: re-executing the SAME object skips
    completed shuffle map stages (Spark stage reuse), which would time
    only the final stage for shuffle-heavy queries. A fresh plan re-runs
    every stage — comparable to DuckDB's warm re-execution.
    """
    r = time_runs(
        lambda: fn(spark, sf_dir), lambda df: len(collect(df)), warm, include_build=True
    )
    return min(r.times), r.last


def probe(names, scaled: str, tag: str, warm: int = 2) -> dict:
    """Time each query at sf0.1 and at ``scaled``; one JSON line per
    query as it finishes. Returns {name: row}, keyed ``tag`` for the
    scaled time."""
    spark = get_spark("scale-probe")
    specs = registry.all_specs()
    out = {}
    for name in names:
        fn = specs[name].fn
        t_small, n_small = timed(fn, spark, "/root/testdata/sf0.1", warm)
        t_big, n_big = timed(fn, spark, scaled, warm)
        ratio = t_big / t_small if t_small > 0 else float("nan")
        out[name] = {
            "sf0.1_s": round(t_small, 3),
            tag: round(t_big, 3),
            "time_ratio": round(ratio, 1),
            "rows_out": [n_small, n_big],
        }
        print(json.dumps({name: out[name]}), flush=True)
    return out


def main() -> None:
    scaled = sys.argv[1] if len(sys.argv) > 1 else "/tmp/nipd_scale16"
    print(json.dumps({"probe": probe(PROBE, scaled, "x16_s")}))


if __name__ == "__main__":
    main()
