"""Physical-plan shape assertions: the 100 TB design contract.

Correct results are necessary but not sufficient — these tests pin
the plan properties that keep queries fast at 1000x the data:
filters/columns pushed into the parquet scan, dimensions broadcast,
sort+limit fused to TakeOrdered, aggregates partial+final.
"""

from __future__ import annotations

import gc
import warnings

import pyarrow.parquet as pq
import pytest

from gpu_olap_engine_spark.plans import plan_string as plan_of
from gpu_olap_engine_spark.plans import scan_pushdown_report, shuffle_count
from gpu_olap_engine_spark.queries import load_all
from gpu_olap_engine_spark.queries.tables import SCHEMAS, TABLES, T
from perfbench import gen
from tests.conftest import SF_ORACLE, SF_SMALL

REGISTRY = load_all()


def test_filter_and_projection_pushed_to_scan(spark):
    plan = plan_of(REGISTRY["q01_filter_project_topk"].fn(spark, SF_ORACLE))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan
    # column pruning: only the 4 needed columns reach the reader
    schema_line = next(line for line in plan.splitlines() if "ReadSchema" in line)
    for col in ("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"):
        assert col in schema_line
    assert "l_comment" not in schema_line and "l_tax" not in schema_line


def test_topk_fuses_to_take_ordered(spark):
    plan = plan_of(REGISTRY["q14_sort_multi_direction"].fn(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    # no global sort stage materializes for a top-k
    assert "Exchange rangepartitioning" not in plan


def test_dimension_join_broadcasts(spark):
    plan = plan_of(REGISTRY["q03_join_agg_topk"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # fact side must not shuffle-sort


def test_star_join_broadcasts_all_dimensions(spark):
    plan = plan_of(REGISTRY["q05_star_join_having"].fn(spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 4  # customer/nation/region/part


def test_semi_join_is_broadcast_semi(spark):
    plan = plan_of(REGISTRY["q09_join_semi"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_aggregate_is_partial_then_final(spark):
    plan = plan_of(REGISTRY["q02_groupby_aggregates"].fn(spark, SF_ORACLE), "simple")
    assert plan.count("HashAggregate") >= 2  # map-side partial + final


def test_lsh_candidates_join_is_equi_not_cartesian(spark):
    """The whole point of LSH: candidates come from an equi-join on
    band keys, never a cartesian/nested-loop product."""
    plan = plan_of(REGISTRY["dedup_minhash_lsh"].fn(spark, SF_ORACLE), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dup_is_blocked_not_all_pairs(spark):
    """Round-2 fix for the round-1 scale-killer: near_dup_pairs must
    generate candidates via the top-dim inverted-index equi-join —
    no cartesian/nested-loop over the full corpus, in the standalone
    entry AND inside the q70 fusion query."""
    for name in ("sim_near_dup_pairs", "q70_joint_dedup_flags"):
        plan = plan_of(REGISTRY[name].fn(spark, SF_ORACLE), "simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_gram_verify_builds_without_type_hint_warning(spark):
    """The grouped-map verify closures of the near-dup and
    decontamination entries carry no type hints: hints on one of their
    two parameters make applyInPandas warn, at every build, that it
    cannot infer the eval type."""
    for name in ("sim_near_dup_pairs", "sim_decontaminate"):
        gc.collect()
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            df = REGISTRY[name].fn(spark, SF_ORACLE)
        del df
        gc.collect()
        assert not [
            w for w in caught if "Cannot infer the eval type" in str(w.message)
        ], name


def test_ivf_probe_assignment_is_distributed(spark):
    """kmeans_ivf_topk's query->cluster probe assignment must be a
    DataFrame computation (posexplode of sorted centroid distances),
    not a driver-side collect loop: the probe side of the plan joins
    on `cluster` without any LocalTableScan of materialized probes."""
    plan = plan_of(REGISTRY["sim_ivf_kmeans"].fn(spark, SF_ORACLE), "simple")
    assert "LocalTableScan" not in plan
    assert "Generate explode" in plan


def test_decontaminate_broadcasts_eval_shingles(spark):
    """q73's eval-set shingles must broadcast (an eval suite is tiny
    next to the training corpus) and candidates must come from the
    shingle equi-join — no cartesian over documents."""
    plan = plan_of(REGISTRY["q73_decontaminate"].fn(spark, SF_ORACLE), "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_hyperplane_candidates_join_is_equi(spark):
    """Sign-projection LSH candidates come from the (table, bucket)
    equi-join; the exact-verify join is keyed on candidate ids. No
    all-pairs product anywhere."""
    plan = plan_of(
        REGISTRY["sim_random_hyperplane_lsh"].fn(spark, SF_ORACLE), "simple"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_doc_chunks_is_narrow(spark):
    """q75 chunking is an explode over per-row state: besides the
    deliberate input spread() repartition, the plan must contain no
    key shuffle (chunk boundaries depend only on the document)."""
    df = REGISTRY["q75_doc_chunks"].fn(spark, SF_ORACLE)
    assert shuffle_count(df) <= 1  # only the round-robin spread
    plan = plan_of(df, "simple")
    assert "hashpartitioning" not in plan.lower()


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Runtime row-level filtering: the engine session keeps Spark's
    bloom-filter join pruning enabled (default-on), so a selective
    build side of a shuffle join gets a bloom_filter_agg pushed to the
    probe-side scan once the probe scan crosses the size threshold.
    The 10 GB application-side threshold never trips at fixture scale,
    so this test lowers it to make the 100 TB plan shape visible."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        c = spark.read.parquet(f"{SF_ORACLE}/customer.parquet").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        j = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_name")
        plan = plan_of(j, "extended")
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_whole_stage_codegen_covers_scan_filter(spark):
    plan = plan_of(REGISTRY["q01_filter_project_topk"].fn(spark, SF_ORACLE), "simple")
    assert "*(1)" in plan  # codegen stage markers present


def test_pushdown_report_helper(spark):
    report = scan_pushdown_report(REGISTRY["q01_filter_project_topk"].fn(spark, SF_ORACLE))
    assert any("GreaterThan(l_quantity" in line for line in report["pushed_filters"])
    assert report["read_schemas"]


def test_single_agg_query_has_one_shuffle(spark):
    """q02 is scan -> partial agg -> exchange -> final agg: exactly one
    exchange. A second one would mean the partial/final split broke."""
    assert shuffle_count(REGISTRY["q02_groupby_aggregates"].fn(spark, SF_ORACLE)) == 1


def test_tpch_q1_is_single_shuffle_partial_final(spark):
    """Q1's aggregate battery: one exchange, map-side combine, and the
    shipdate predicate inside the parquet scan."""
    df = REGISTRY["q77_tpch_q1"].fn(spark, SF_ORACLE)
    assert shuffle_count(df) == 1
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2
    assert "LessThanOrEqual(l_shipdate" in plan


def test_tpch_q19_disjunction_decomposes_into_scan(spark):
    """The OR-of-ANDs straddling the join must yield single-side
    implications pushed into each scan (quantity bands into lineitem),
    with the full disjunction left as the join residual — not a
    filter-after-join over unfiltered inputs."""
    plan = plan_of(REGISTRY["q85_tpch_q19"].fn(spark, SF_ORACLE))
    # derived single-side predicate on the lineitem scan
    assert "Or(And(GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_tpch_q18_single_fact_pass_then_topk(spark):
    """r10 plan: Q18's HAVING aggregate IS the output sum (one
    lineitem pass), so the plan must contain exactly ONE scan of the
    fact table, no second aggregate after the joins, and the final
    top-100 fused to TakeOrdered. (Replaces the r5-era semi-join
    assertion: the semi join existed to support the now-removed
    second lineitem aggregation.)"""
    plan = plan_of(REGISTRY["q84_tpch_q18"].fn(spark, SF_ORACLE))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "TakeOrderedAndProject" in plan


def test_incremental_rollup_merge_reuses_partitioning(spark):
    """merge(partial(base), partial(delta)): each branch shuffles once
    to its rollup key; the merge re-aggregate runs on the unioned
    branches WITHOUT a third exchange (both sides already hash-
    partitioned on the merge key)."""
    df = REGISTRY["q89_incremental_rollup_merge"].fn(spark, SF_ORACLE)
    assert shuffle_count(df) == 2


def test_triangle_count_single_member_pass(spark):
    """r10: the member aggregation must be ONE explode pass over the
    triangle join tree, not a 3-branch unionAll that re-executes the
    wedge + closing joins per branch (the recompute cost 27 s of a
    40 s wall at sf0.1; that shape had 18 fact scans, the r10 fix 6).

    r13: the edge relation is persisted, so its wedge self-join +
    distinct EXECUTES once however many times the triangle tree
    references it — the plan's three edge references are
    InMemoryTableScans over one cached relation whose subtree holds
    the only two lineitem scans."""
    plan = plan_of(REGISTRY["q141_triangle_count"].fn(spark, SF_ORACLE))
    # formatted mode prints the cached edge subtree's details once:
    # exactly the two wedge-join scans, however many references
    assert plan.count("lineitem.parquet") == 2, plan.count("lineitem.parquet")
    assert "InMemoryTableScan" in plan, plan
    # the single-pass shape specifically: a Generate node whose
    # argument is explode(array(...)) — not merely any Generate
    assert "Generate" in plan and "explode(array(" in plan


def test_span_dedup_is_gram_keyed_not_all_pairs(spark):
    """Duplicated-span stats must stay a gram-keyed aggregation +
    equi join — never a text-to-text or all-pairs comparison.

    r13: the per-doc roll-up is ONE aggregation over the dup-tagged
    (id, gram, occ) relation (left equi-join on gram), replacing the
    old semi-join + separate totals scan — so the documents table is
    scanned exactly twice (the two consumers of `per`), down from 3."""
    df = REGISTRY["dedup_span_stats"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    full = plan_of(df)
    assert full.count("documents.parquet") == 2, full.count("documents.parquet")


def test_interval_overlap_join_is_bucketed_equi(spark):
    """The interval join must come from the (key, bucket) equi-join
    candidate path — never the per-key cross product a naive theta
    join degenerates to."""
    plan = plan_of(REGISTRY["q91_interval_overlap_join"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_line_dedup_is_segment_keyed_not_all_pairs(spark):
    """Keep-first line dedup: first-occurrence election is a segment-
    keyed aggregate + equi-join back — never doc-to-doc comparison."""
    plan = plan_of(REGISTRY["dedup_lines_keep_first"].fn(spark, SF_ORACLE), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_rolling_time_window_single_user_shuffle(spark):
    """q97's RANGE-frame window costs exactly one exchange (hash on
    user_id); no extra sort-merge or re-shuffle appears."""
    df = REGISTRY["q97_rolling_time_window"].fn(spark, SF_ORACLE)
    assert shuffle_count(df) == 1


def test_winsorize_cutpoints_broadcast_back(spark):
    """q96's per-group cut points (|groups| rows) must rejoin the fact
    via broadcast, not a shuffle join."""
    plan = plan_of(REGISTRY["q96_winsorize"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan


def test_tpch_q8_dimensions_broadcast(spark):
    """Q8's eight-relation snowflake: part, both nation roles, and
    region must all broadcast — only the lineitem-orders-customer
    chain may shuffle."""
    plan = plan_of(REGISTRY["q103_tpch_q8"].fn(spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 4


def test_tpch_q21_rewrites_exists_to_one_aggregate(spark):
    """Q21's EXISTS / NOT EXISTS pair must come from the per-order
    aggregate rewrite — no cartesian/nested-loop self-join."""
    plan = plan_of(REGISTRY["q107_tpch_q21"].fn(spark, SF_ORACLE), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_heavy_hitters_candidates_broadcast_semi(spark):
    """The sketch path's exact pass must count only candidates: a
    broadcast LeftSemi prune feeding the word aggregate."""
    plan = plan_of(REGISTRY["text_heavy_hitters_sketch"].fn(spark, SF_ORACLE))
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


def test_bucket_assignment_has_no_global_sort(spark):
    """q116, the scale form of the equi-depth histogram: bucket
    assignment must be a broadcast + narrow lookup — no rangepartition
    sort exchange, no window over one partition."""
    plan = plan_of(REGISTRY["q116_bucket_assign_scale"].fn(spark, SF_ORACLE))
    assert "Exchange rangepartitioning" not in plan
    assert "Window" not in plan


def test_lttb_downsample_is_equi_joined(spark):
    """q118's centroid anchors must attach via equi-joins (bucket +-1
    arithmetic in the key) — no nested-loop/cartesian anywhere."""
    plan = plan_of(REGISTRY["q118_downsample_lttb"].fn(spark, SF_ORACLE), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # centroid relations broadcast


def test_quality_budget_single_shuffle(spark):
    """q125: running-sum and stratum-total windows share the lang
    partitioning — the whole selection costs ONE exchange."""
    df = REGISTRY["q125_quality_budget_selection"].fn(spark, SF_ORACLE)
    assert shuffle_count(df) == 1


def test_bench_suites_reference_registered_queries():
    """Every name in bench.py's HEADLINE set and the scale harness's
    suites must exist in the registry — a rename that breaks the
    driver's bench run should fail here first, not in the round
    artifact."""
    import bench
    from scripts.scale import COUNT_ROWS, SUITES

    names = bench.HEADLINE + SUITES["sf1"] + SUITES["sf10"] + sorted(COUNT_ROWS)
    missing = [n for n in names if n not in REGISTRY]
    assert not missing, missing


def test_asof_variants_single_shuffle_no_self_join(spark):
    """Forward and nearest as-of joins must stay union+window carries:
    one hash exchange on user_id, no join of events against itself."""
    for name in ("q131_asof_join_forward", "q132_asof_join_nearest"):
        plan = plan_of(REGISTRY[name].fn(spark, SF_ORACLE), "simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, name
        assert plan.count("Exchange hashpartitioning") == 1, name


def test_touch_attribution_is_bucket_blocked_equi(spark):
    """Lookback attribution generates candidates via the (user,
    time-bucket) equi-join — never a theta join over full histories."""
    plan = plan_of(REGISTRY["q133_touch_attribution"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_semdedup_pairs_are_cluster_equi_joined(spark):
    """SemDeDup's pairwise cosine pass must be blocked by the cluster
    equi-join; corpus-quadratic plans are a scale regression."""
    plan = plan_of(REGISTRY["sim_semdedup"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_quantified_all_is_window_not_rescan(spark):
    """`> ALL` compiles to one window pass: no self-join of part, a
    single running-max specification."""
    plan = plan_of(REGISTRY["q135_quantified_all"].fn(spark, SF_ORACLE))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_triangle_count_is_equi_joined(spark):
    """Wedge closure must be two equi-joins on vertex ids — never a
    nested-loop over the edge set."""
    plan = plan_of(REGISTRY["q141_triangle_count"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_mad_outliers_broadcasts_group_stats(spark):
    """The per-type median/MAD relations are broadcast back to the
    fact scan; the events table itself must never shuffle-join."""
    plan = plan_of(REGISTRY["q143_mad_outliers"].fn(spark, SF_ORACLE))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_retention_overlap_single_scan_no_self_join(spark):
    """q156: the day-over-day overlap must come from lag-marked
    continuations over ONE (day, user) distinct — a naive self-join of
    the daily user sets would scan and shuffle the fact table per
    branch (the regression this pins out)."""
    df = REGISTRY["q156_retention_overlap"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "simple")
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan
    # distinct + user window + day agg + tiny pairing window
    assert shuffle_count(df) <= 4


def test_new_vs_returning_single_scan(spark):
    """q159: first-seen day rides a per-user window over the one
    distinct relation — no join against a separate first-seen table."""
    df = REGISTRY["q159_new_vs_returning"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "simple")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert shuffle_count(df) <= 3


def test_ngram_diversity_no_explode_no_agg_shuffle(spark):
    """q158: the diversity ratio is per-row array math — no explode of
    grams, no aggregation exchange (only the round-robin spread)."""
    df = REGISTRY["q158_ngram_diversity"].fn(spark, SF_ORACLE)
    plan = plan_of(df)
    assert "Generate explode" not in plan
    assert "hashpartitioning" not in plan.lower()
    assert shuffle_count(df) <= 1


def test_sla_latency_preaggregates_before_join(spark):
    """q157: lineitem collapses to per-order MIN before the join, so
    the join inputs are |orders|-sized (partial aggregate must appear
    below the join, and the join is an equi join, never a nested
    loop)."""
    df = REGISTRY["q157_sla_latency"].fn(spark, SF_ORACLE)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_profile_columns_single_expand_pass(spark):
    """q152: the multi-column profile is one Expand-based scan, not a
    per-column rescan (the oracle's UNION ALL shape)."""
    df = REGISTRY["q152_profile_columns"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "simple")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_burst_days_single_scan_window_moments(spark):
    """q161: the per-type moments ride window frames over the
    day-count relation — ONE scan of events (a join back to a moment
    aggregate would make Spark recompute the scan subtree on both
    sides), no join at all."""
    df = REGISTRY["q161_burst_days"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "simple")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert shuffle_count(df) <= 2


def test_quantile_normalize_single_window_shuffle(spark):
    """q163: one hash exchange on event_type feeds both window frames;
    the rank arithmetic is long (the int32-overflow regression at
    >2147 ranks per group is pinned by the sf0.1 sweep)."""
    df = REGISTRY["q163_quantile_normalize"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "simple")
    assert plan.count("Scan parquet") == 1
    assert shuffle_count(df) <= 2
    assert dict(df.dtypes)["qnorm_ppm"] == "bigint"


def test_containment_candidates_equi_not_cartesian(spark):
    """dedup_containment: same inverted-index candidate plan as the
    Jaccard baseline — shingle equi-join, never a cross product."""
    df = REGISTRY["dedup_containment"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_top_terms_per_lang_aggregates_before_window(spark):
    """text_top_terms_per_lang: the ranking window runs over the
    (lang, term) counts, so a partial+final aggregate pair must sit
    below the Window node (tokens never reach the sort)."""
    df = REGISTRY["text_top_terms_per_lang"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "simple")
    assert plan.count("HashAggregate") >= 2
    assert "Window" in plan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_hamming_keys_blocked_not_all_pairs(spark):
    """dedup_hamming_keys: candidates must come from the pigeonhole
    (segment_index, segment) equi-join — never a doc x doc product —
    and verification stays a JVM expression (no Python UDF node)."""
    df = REGISTRY["dedup_hamming_keys"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan


def test_auc_rank_groups_before_window(spark):
    """q166: the running-rank window must run over the grouped
    DISTINCT-score relation, never the raw events — a partial+final
    aggregate pair sits below the Window node, and the single-
    partition window is bounded by the score grid."""
    df = REGISTRY["q166_auc_rank"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "simple")
    assert "Window" in plan
    # the score-keyed aggregate must sit BELOW the window (later in
    # the printed top-down plan): ranks run over distinct scores
    assert plan.rindex("HashAggregate") > plan.index("Window")
    assert dict(df.dtypes)["auc_ppm"] == "bigint"


def test_mrr_single_user_window_no_self_join(spark):
    """q167: one scan of events feeds both the per-user window and the
    user count — the event log is never self-joined, and the only
    join is the broadcast of the 1-row user-count aggregate."""
    df = REGISTRY["q167_mrr_first_purchase"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "simple")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_clamped_stock_two_shuffles(spark):
    """q170: the zero-floor closed form costs one part-keyed window +
    one part-keyed aggregate over the SAME partitioning — at most two
    exchanges, one parquet scan."""
    df = REGISTRY["q170_clamped_stock"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "simple")
    assert plan.count("Scan parquet") == 1
    assert shuffle_count(df) <= 2


def test_tpch_q2_broadcasts_dims_no_cartesian(spark):
    """q178: nation x region broadcast onto supplier; the min-cost
    correlated subquery is a window MIN (no re-aggregated self-join);
    nothing degenerates to a cartesian."""
    plan = plan_of(REGISTRY["q178_tpch_q2"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # the correlated-MIN rewrite


def test_tpch_q9_nation_broadcast_no_cartesian(spark):
    """q179: the six-relation snowflake — the 1-row supplier-count and
    the nation dim broadcast; fact joins are hash/sort-merge, never
    nested-loop."""
    plan = plan_of(REGISTRY["q179_tpch_q9"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # profit aggregate is partial+final
    simple = plan_of(REGISTRY["q179_tpch_q9"].fn(spark, SF_ORACLE), "simple")
    assert simple.count("HashAggregate") >= 2


def test_tpch_q16_not_in_is_anti_join(spark):
    """q181: the NOT IN flagged-supplier exclusion plans as a
    (broadcast) anti join, not a filter-over-collected-list."""
    plan = plan_of(REGISTRY["q181_tpch_q16"].fn(spark, SF_ORACLE))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q12_derivation_stays_jvm_side(spark):
    """q183: the derived shipmode/commit/receipt columns are pure JVM
    expressions — no Python UDF crosses the boundary."""
    plan = plan_of(REGISTRY["q183_tpch_q12"].fn(spark, SF_ORACLE))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Union-shape lint (r11, VERDICT r10 #4): a multi-branch union over an
# un-materialized expensive frame re-executes its subtree once per
# branch, and exchange reuse does NOT rescue it (per-branch column
# pruning makes each physical subtree distinct) — the r10 audit found
# four such shapes costing 3x their join tree (q141: 27 s of a 40 s
# wall at sf0.1). The audit rule — union only over base scans or
# materialized frames — is enforced here permanently: every expensive
# dedup/graph/similarity entry declares the maximum number of times
# each relation may be scanned in its physical plan; a regression
# that re-introduces a branch-multiplied subtree fails the lint, not
# a human audit N rounds later. Maxima are the audited single-pass
# shapes, each the count its plan shows at sf0.01, so one more scan
# fails (q141's 2 = the op self-join under the persisted edge frame;
# sim_decontaminate's 1 = one persisted keyed relation that both the
# corpus and the benchmark side filter).
# Formatted explain numbers each distinct physical node once, so a
# persisted relation read by several consumers counts its scan once;
# the simple-mode string repeats the cached plan under every reference.
SCAN_BUDGETS = {
    "q141_triangle_count": {"lineitem": 2},
    "q70_joint_dedup_flags": {"documents": 2, "embeddings": 1},
    "dedup_canonical_docs": {"documents": 2},
    "dedup_exact_key": {"documents": 1},
    "dedup_minhash_lsh": {"documents": 1},
    "dedup_simhash": {"documents": 1},
    "dedup_ngram_jaccard": {"documents": 1},
    "dedup_containment": {"documents": 1},
    "dedup_span_stats": {"documents": 2},
    "sim_near_dup_pairs": {"embeddings": 1},
    "sim_decontaminate": {"embeddings": 1},
    "sim_semdedup": {"embeddings": 2},
    "sim_bucketed_ann": {"embeddings": 2},
    "mm_exact_dedup": {"documents": 1},
}


@pytest.mark.parametrize("name", sorted(SCAN_BUDGETS))
def test_scan_count_budget(spark, name):
    # Spark keeps one cache entry per plan: an earlier entry's result
    # that persisted the same relation (sim_near_dup_pairs and
    # sim_decontaminate share their keyed derive) would, when the
    # cyclic collector releases it mid-build, evict the entry under
    # this one. Collect it first.
    gc.collect()
    plan = plan_of(REGISTRY[name].fn(spark, SF_ORACLE))
    for table, budget in SCAN_BUDGETS[name].items():
        got = plan.count(f"{table}.parquet")
        assert got <= budget, (
            f"{name}: {table} scanned {got}x (budget {budget}) — "
            "a union branch is re-executing the scan subtree"
        )
        # a silently-dropped scan (0 when the budget expects reads)
        # means the entry stopped reading the relation at all — that
        # is a rewrite the budget should be updated for, not pass
        assert got >= 1, f"{name}: {table} no longer scanned"


# Persist lint: a relation is persisted for the life of a query through
# gpu_olap_engine_spark/persist.py, which releases it with the query's
# result. The only other persists are these, each released by its own
# code at a known point.
PERSIST_ALLOWED = {
    ("operators/graph.py", "pagerank_int"):
        "edge and node relations reused by every iteration; "
        "unpersisted before the operator returns",
    ("operators/similarity.py", "kmeans_centroids"):
        "training sample rescanned by every Lloyd iteration; "
        "unpersisted before the operator returns",
    ("operators/similarity.py", "pq_codebooks"):
        "per-subspace slices rescanned by every iteration; "
        "unpersisted before the operator returns",
    ("engine.py", "load_table"):
        "the reference's small-table RAM cache (catalog.rs:49-59), "
        "held for the life of the registered table",
    ("engine.py", "execute_query_cached"):
        "the SQL result cache, released by clear_query_cache on "
        "request and on every catalog change",
}


def test_persist_only_through_query_scope():
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "gpu_olap_engine_spark"
    found, stray = set(), []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "persist.py":
            continue

        def visit(node, fn_name):
            for child in ast.iter_child_nodes(node):
                name = fn_name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = child.name if fn_name is None else fn_name
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("persist", "cache")
                ):
                    key = (rel, name)
                    if key in PERSIST_ALLOWED:
                        found.add(key)
                    else:
                        stray.append(f"{rel}:{child.lineno} in {name}")
                visit(child, name)

        visit(ast.parse(path.read_text()), None)
    assert not stray, (
        "persist through gpu_olap_engine_spark.persist.persist (released "
        f"with the query's result), not a bare .persist()/.cache(): {stray}"
    )
    # an allow-list entry whose persist is gone must go too
    assert found == set(PERSIST_ALLOWED), set(PERSIST_ALLOWED) - found


def test_table_format_publishes_only_through_commit():
    """Every table_format mutation commits through ``_commit``, which
    builds the one manifest; a function that calls ``_publish`` itself
    is hand-building a manifest of its own."""
    import ast
    import pathlib

    src = (
        pathlib.Path(__file__).resolve().parent.parent
        / "gpu_olap_engine_spark" / "sources" / "table_format.py"
    )
    callers = [
        getattr(top, "name", "<module>")
        for top in ast.parse(src.read_text()).body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None)) == "_publish"
    ]
    assert callers == ["_commit"], callers


def test_write_stream_only_in_pipelines():
    """Streaming queries start in ``streaming/pipelines.py`` only: a
    registry entry or operator runs a stream through the pipelines and
    ``run_to_memory``, which drops the sink's view, instead of a
    ``.writeStream`` chain of its own."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "gpu_olap_engine_spark"
    users = {
        path.relative_to(root).as_posix()
        for path in root.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "writeStream"
    }
    assert users == {"streaming/pipelines.py"}, users


# Plan construction cost (driver -> JVM gateway calls, ~0.3-0.5 ms
# each): the curation chain's entries build their plans from parsed SQL
# derives and schema-pinned reads, so building one takes a few hundred
# calls at most, independent of the number of Column nodes and lambdas
# the derives contain (the Column-tree forms took 133-2,400).
CHAIN = ("dedup_exact_key", "dedup_minhash_lsh", "text_quality_score", "sim_near_dup_pairs")
CONSTRUCTION_BUDGET = 250


def _write_shard(d: str, index: int) -> None:
    docs, emb, _ = gen.shard(7, index, gen.SHARD_BASE_ID)
    pq.write_table(docs, f"{d}/documents.parquet")
    pq.write_table(emb, f"{d}/embeddings.parquet")


@pytest.mark.parametrize("name", CHAIN)
def test_chain_construction_gateway_budget(spark, tmp_path, gateway_calls, name):
    d = str(tmp_path)
    _write_shard(d, 0)
    gc.collect()  # release earlier results outside the counted section
    gateway_calls.n = 0
    df = REGISTRY[name].fn(spark, d)
    calls = gateway_calls.n
    assert calls <= CONSTRUCTION_BUDGET, (
        f"{name}: building the plan made {calls} gateway calls "
        f"(budget {CONSTRUCTION_BUDGET})"
    )
    del df
    gc.collect()


def test_pinned_schemas_match_parquet(spark, tmp_path):
    """Every pinned fixture schema equals what parquet inference reads
    at sf0.001, at sf0.01 and on a curation shard, so a pinned read
    returns the same columns and types as an inferred one."""
    shard = str(tmp_path)
    _write_shard(shard, 0)
    dirs = [(SF_SMALL, TABLES), (SF_ORACLE, TABLES), (shard, ("documents", "embeddings"))]
    for d, tables in dirs:
        for t in tables:
            inferred = spark.read.parquet(f"{d}/{t}.parquet").schema
            assert T(spark, d, t).schema == inferred, (d, t, SCHEMAS[t])
