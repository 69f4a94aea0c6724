"""Regenerate PLANS.md: formatted physical plans for the headline
queries, as reviewable evidence of the scale claims (pushdown, pruning,
broadcast/equi-join shapes, no Python in hot paths).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from dynamic_etl_pipeline_spark.plans.inspect import formatted_plan  # noqa: E402
from dynamic_etl_pipeline_spark.queries import QUERIES  # noqa: E402
from dynamic_etl_pipeline_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    ("q1_pricing_summary", "scan-side pushdown + 2-phase hash agg"),
    ("q3_shipping_priority", "star join: broadcast dims, TakeOrdered top-10"),
    ("q21_waiting_suppliers", "EXISTS/NOT EXISTS as equi semi+anti joins"),
    ("window_topk_per_group", "ranking window, single shuffle"),
    ("events_gap_fill", "grid build + forward-fill window"),
    ("basket_part_pairs", "equi self-join on blocking key"),
    ("ngram_jaccard_pairs", "inverted-index similarity join"),
    ("dedup_keep_best_exact",
     "size-ratio pre-filter ahead of the pair aggregate (r12)"),
    ("knn_bruteforce", "broadcast query set over candidate stream"),
    ("copurchase_pagerank", "iterative join+agg, reused exchanges"),
    ("corpus_pack_sequences", "two-level prefix sum + bounded explode"),
    ("merge_orders_upsert", "MERGE as one full-outer join + per-row CASE"),
    ("copurchase_triangles", "oriented-edge triangle join (3 equi legs)"),
    ("sql_lateral_top2_orders", "LATERAL decorrelated to window top-k"),
    ("corpus_dsir_weights", "broadcast feature-stats joins, decimal agg"),
    ("corpus_boilerplate_strip",
     "map-only higher-order rewrite, 1 corpus shuffle"),
    ("corpus_weighted_sample", "map projection + TakeOrdered, no window"),
    ("word_count_min_sketch", "fixed-size sketch broadcast probe"),
    ("q2_min_cost_supplier", "decorrelated scalar-MIN over synthesized dim"),
    ("events_linear_attribution", "user-keyed range-residual join"),
    ("embedding_outliers", "broadcast centroids + broadcast moments"),
    ("events_pit_features",
     "3 PIT features in one window pass: 1 scan, 1 exchange, no join"),
    ("doc_bigram_lm_score", "corpus LM train+score, equi model joins"),
    ("window_ratio_to_report", "percent-of-total: single hash exchange"),
    ("events_variant_props", "VARIANT shred-on-read, JVM-only"),
    ("embedding_hamming_topk",
     "binary-quantized retrieval: map-only packing, broadcast probe"),
    ("events_mad_outliers", "two percentile passes, broadcast frames"),
    ("doc_vocab_oov_rate",
     "word-keyed vocab join + per-doc agg, all linear (round 3)"),
    ("corpus_token_budget_fill",
     "per-source two-level prefix-sum fill (round 3, r4 rewrite)"),
    ("doc_ngram_containment_pairs",
     "inverted-index asymmetric containment join (round 3)"),
    ("jaccard_prefix_filter_pairs",
     "PPJoin: prefix-index candidate join + candidate-driven verify"),
    ("events_decay_ewma",
     "banded rn self-join, integer decay kernel, equi on user_id"),
    ("events_ols_trend",
     "one-pass sufficient-statistic OLS: single hash agg, no iteration"),
    ("events_user_day_streaks",
     "gaps-and-islands: one user window + two aggregates"),
    ("events_quantile_normalize",
     "two-level rank ladders (global + per-type), no serial window (round 4)"),
    ("events_max_concurrent_sessions",
     "sweep-line via epoch-day two-level running sum (round 4)"),
    ("rfm_segments",
     "three two-level ranks + closed-form ntile reconstruction (round 4)"),
    ("part_abc_classification",
     "decimal two-level cumulative share (round 4)"),
    ("part_pareto_frontier",
     "skyline-of-skylines two-level running max (round 4)"),
    ("corpus_mixture_temperature",
     "one corpus aggregate + |sources|-row broadcast tail (round 4)"),
    ("doc_duplicate_spans",
     "dup-window aggregate + gaps-and-islands span merge (round 4)"),
    ("window_groups_frame",
     "GROUPS frame via dense-rank decomposition (round 4)"),
    ("embedding_kmeans_exact",
     "k-means assign as codegen HOF fold + broadcast count join (round 5)"),
    ("embedding_pc1_power_iteration",
     "one exact scatter aggregate + map-only literal projection (round 5)"),
    ("corpus_semdedup",
     "exact-cluster equi-join prune, |c|^2 not n^2 (round 5)"),
    ("copurchase_communities",
     "unrolled LPA rounds: join + label agg + top-1 window each (round 5)"),
    ("pq_ann_topk_exact",
     "PQ-ADC search: codes-vs-LUT broadcast equi-join, codegen codebook "
     "literals, m-BIGINT hash agg (round 6)"),
    ("events_sessionize_skew_safe",
     "hot-key-safe sessionization: (user, day)-bucketed lag/cumsum, "
     "user-only windows confined to the bucket aggregate (round 6)"),
    ("agg_distinct_kmv",
     "portable KMV distinct sketch: distinct-hash shuffle + one "
     "group-sorted window, all-integer estimate (round 7)"),
    ("events_kmv_sketch_rollup",
     "mergeable two-level KMV rollup: day-bucketed windows then "
     "type-level re-take, broadcast n_days join (round 7)"),
    ("word_heavy_hitters_cms",
     "CMS heavy hitters: fixed-grid broadcast probe + 1-row "
     "_scalar_gate total (round 7)"),
    ("events_kmv_type_overlap",
     "theta-sketch set ops: shard-decomposed sketch build, |types|^2 "
     "x k pairwise stage, broadcast type-dim cross (round 7)"),
    ("agg_quantile_hash_sample",
     "two-level exact quantiles: bucket-count scan + tiny prefix sum + "
     "rank-bracket probe of <=8 buckets — no percentile aggregate, no "
     "data-sized merge state (round 8)"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()
    out = [
        "# PLANS — formatted physical plans of the headline queries\n",
        f"Generated by `python tools/dump_plans.py {sf_dir}`; regenerate "
        "after plan-affecting changes. Read alongside "
        "`tests/test_plans.py`, which asserts these shapes stay put.\n",
    ]
    for name, why in SHOWCASE:
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        out.append(f"## {name} — {why}\n\n```\n{plan.strip()}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
