"""Deep scale probe: the literal "would it survive 100x?" measurement.

tools/gen_scale.py builds a key-shifted 100x replica of sf0.1
(~60 M lineitem rows, 10 M events, 500 k documents — a true two-order-
of-magnitude jump over the bench corpus, "sf10-equivalent"), and this
probe times the linear-path headline queries on it under the scale
profile (AQE on), reporting time ratios vs sf0.1. Ideal is <= ~100x
time for 100x data on fixed cores; on a real cluster the extra data
would instead buy parallelism.

The probe deliberately EXCLUDES the quadratic-output families at this
tier: brute-force kNN (l4) is O(n^2) by definition and its 100 TB path
is the IVF tier (probed at 16x); LSH/embedding near-dup output grows
with the SQUARE of the per-content duplication factor on this
deliberately duplicate-heavy replica (100 copies -> ~5k true pairs per
planted dup group), so their cost at 100x measures the adversarial
corpus, not the operator — they are probed at 16x where output stays
inspectable (SCALE.md "Measured linearity").

Usage: SPARK_GRAFT_PROFILE=scale python tools/scale_probe_deep.py [scaled_dir]
"""

from __future__ import annotations

import json
import sys

from scale_probe import probe

PROBE_DEEP = [
    "q1_pricing_summary",  # scan -> partial/final hash agg
    "q3_shipping_priority",  # 3-way shuffle join + global top-k
    "q5_local_supplier",  # 6-way star join
    "q13_customer_distribution",  # outer join + agg
    "o4_pergroup_topk",  # window rank
    "t1_tumbling_hourly",  # event-time window agg
    "w14_reset_cumsum",  # per-user window recurrence
    "a1b_salted_agg",  # two-stage skew-safe agg
    "a17_heavy_hitters",  # distributed heavy hitters
    "j8_range_join",  # bucketed range join
    "j9_asof_join",  # union + last(ignorenulls) as-of
    "l2_hash_dedup",  # content-hash dedup
    "l6_token_tf",  # explode + agg
    "l20_text_clean",  # map-only text normalization
    "l50_gopher_rules",  # quality-rule filter battery
    "g3_connected_components",  # iterative min-label CC
    # round-7 additions, all linear-path (l10d_perceptual_neardup is
    # EXCLUDED here with the other near-dup family members: its output
    # grows with the square of the replica's per-content duplication)
    "l62_bm25_topk",  # term-filtered tf + broadcast df/stats + salted top-k
    "l63_hrw_shard_rebalance",  # map-only argmax-of-md5 + 9-key agg
    "l64_systematic_token_sample",  # bucketed running sum + stride test
    "l65_rrf_hybrid",  # sparse+dense k-bounded fusion
    "l66_temperature_mixture",  # map-side agg to |sources| rows
    "l67_kneser_ney_logprob",  # bigram LM train + broadcast score
    # round-8: bounded-output KN source profile (output fixed at the
    # source domain, so the ratio measures pure input scaling)
    "l67b_kneser_ney_source_profile",
    # round-8 second batch, linear-path (exact-pair/dense-scan families
    # stay at the 16x tier per the exclusion note above; l69/l70's
    # dense legs are the l65 leg already measured here)
    "l71_tokenizer_fertility",  # explode + lang-keyed partial agg
    "l73_phrase_search",  # broadcast-filtered postings + adjacency join
    "l74_length_bucket_packing",  # map-side bucket key + 8-group agg
    "a32_equidepth_histogram",  # bucketed two-pass global rank
    "c35_gini_by_nation",  # per-customer collapse + grouped cumsum
    "w22_spearman_corr",  # supplier-partitioned rank windows + corr
    # (l_suppkey cardinality GROWS 100x in the replica — measured — so
    # the window form is the right plan; the fixed-cardinality variant
    # is w23 on the grouped-histogram rank maps)
    "w23_spearman_lowcard",
    "dq10_ks_two_sample",
    "g4_bfs_hops",  # 4 frontier supersteps over checkpointed edges
    "l75_ivf_incremental",  # k-means train + broadcast-C batch assign
]


def main() -> None:
    scaled = sys.argv[1] if len(sys.argv) > 1 else "/tmp/nipd_scale100"
    # warm=1 at this tier: one warm-up + one timed run — the 100x runs
    # are tens of seconds, so run-to-run variance is a small fraction
    # and a third execution buys little.
    print(json.dumps({"probe_deep": probe(PROBE_DEEP, scaled, "x100_s", warm=1)}))


if __name__ == "__main__":
    main()
