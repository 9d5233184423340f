#!/usr/bin/env python3
"""Regenerate PLANS.md: physical-plan evidence for headline queries."""

from __future__ import annotations

import gc
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gpu_olap_engine_spark.config import EngineConfig
from gpu_olap_engine_spark.plans import plan_string, shuffle_count
from gpu_olap_engine_spark.queries import load_all
from gpu_olap_engine_spark.session import get_spark

SHOW = [
    ("q01_filter_project_topk", "filter+projection pushdown, TakeOrdered fusion"),
    ("q02_groupby_aggregates", "partial+final hash aggregate, single exchange"),
    ("q03_join_agg_topk", "broadcast dimension join"),
    ("q05_star_join_having", "star join: all dimensions broadcast"),
    ("q34_asof_join", "as-of via single sort-window, one exchange"),
    ("dedup_minhash_lsh", "LSH candidate equi-join (no cartesian)"),
    ("sim_near_dup_pairs", "inverted-index blocking + verify (no all-pairs join)"),
    (
        "sim_decontaminate",
        "train x eval cross verify: one keyed derive, persisted, both sides filter it",
    ),
    (
        "sim_random_hyperplane_lsh",
        "sign-projection LSH: (table, bucket) equi-join candidates, no cartesian",
    ),
    (
        "sim_pq_adc_topk",
        "PQ-ADC: codes-only corpus projection, broadcast queries, window top-k",
    ),
    ("q72_sequence_packing_sharded", "(lang, shard) window: bounded per-task state"),
    ("q43_tpch_q6_shape", "selective scan: all predicates pushed"),
    ("q77_tpch_q1", "Q1 aggregate battery: one exchange, map-side combine"),
    (
        "q85_tpch_q19",
        "Q19 disjunction: derived single-side predicates pushed into each scan",
    ),
    (
        "q89_incremental_rollup_merge",
        "partial rollup merge: union re-aggregates with no third exchange",
    ),
    (
        "dedup_span_stats",
        "span dedup: gram-keyed aggregation + dup-tag join, never all-pairs",
    ),
    (
        "dedup_lines_keep_first",
        "line dedup: segment-keyed first-occurrence election, no all-pairs",
    ),
    (
        "q97_rolling_time_window",
        "RANGE-frame rolling 1h window: single user_id exchange",
    ),
    (
        "q103_tpch_q8",
        "Q8 snowflake: part + both nation roles + region all broadcast",
    ),
    (
        "q107_tpch_q21",
        "Q21 EXISTS pair as one per-order aggregate, no self-join nested loop",
    ),
    (
        "q116_bucket_assign_scale",
        "sketch-path bucketing: broadcast cut points, no global sort/window",
    ),
    (
        "q118_downsample_lttb",
        "parallel LTTB: centroid anchors broadcast, per-bucket window only",
    ),
    (
        "text_heavy_hitters_sketch",
        "MG sketch: candidates broadcast back as LeftSemi prune",
    ),
    (
        "q156_retention_overlap",
        "day-over-day Jaccard: lag-marked continuations, one scan, no self-join",
    ),
    (
        "q158_ngram_diversity",
        "4-gram diversity: per-row array expressions, zero shuffle after spread",
    ),
    (
        "q157_sla_latency",
        "SLA percentiles: lineitem pre-aggregated before the orders join",
    ),
    (
        "q161_burst_days",
        "burst detection: window-frame moments, one events scan, no self-join",
    ),
    (
        "text_top_terms_per_lang",
        "per-lang top-k: partial+final count below the ranking window",
    ),
    (
        "q166_auc_rank",
        "tie-exact AUC: ranks run over the distinct-score grid, not rows",
    ),
    (
        "dedup_hamming_keys",
        "Hamming dedup: pigeonhole segment equi-joins, no all-pairs, no UDF",
    ),
    (
        "q170_clamped_stock",
        "zero-floor ledger: closed-form clamp, one window + one agg, 2 exchanges",
    ),
]


def main() -> None:
    spark = get_spark(EngineConfig(shuffle_partitions=8), master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    out = [
        "# PLANS — physical-plan evidence for headline queries",
        "",
        "Generated against sf0.01 with the engine's default confs",
        "(AQE on, broadcast threshold 10MB, shuffle partitions 8 in this",
        "capture). Regenerate: `python scripts/gen_plans.py`.",
        "",
    ]
    for name, why in SHOW:
        df = registry[name].fn(spark, "/root/testdata/sf0.01")
        head = plan_string(df, "formatted").split("\n\n")[0]
        out += [
            f"## {name} — {why}",
            f"Exchanges: {shuffle_count(df)}",
            "```",
            head.strip(),
            "```",
            "",
        ]
        # release this entry's persists before the next is built: Spark
        # keeps one cache entry per plan, so a late release of a shared
        # relation would evict it under the next entry's plan
        del df
        gc.collect()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
