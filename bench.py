#!/usr/bin/env python3
"""Benchmark the headline queries; prints ONE JSON line on stdout.

Env: SPARK_GRAFT_SF_DIR      (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS        (default 32),
     SPARK_GRAFT_BENCH_BUDGET(default 480 s total wall budget),
     SPARK_GRAFT_MICRO_SCALE (default 1.0; shrinks generated micros).

Queries execute to completion via the noop sink (full pipeline runs,
no driver-collect overhead), matching how the reference's throughput
numbers were framed (engine time, not result transfer).

Crash-resilience (the round-4 lesson: one JVM death erased the whole
artifact):
- every completed timing is flushed to a runs file the moment it
  lands, and the final one-line JSON is emitted from an atexit /
  SIGTERM path — a mid-run death still yields everything measured;
- the memory-heavy generated micros run in CHILD processes (fresh
  Spark session each), grouped so an OOM/timeout kill costs one
  group, not the artifact; the parent harvests each child's runs
  file regardless of the child's exit code;
- a global wall budget bounds the run: reps 2-3 of the min-of-3
  protocol are skipped when the projected rep would cross the
  deadline; a watchdog thread in each Spark child cancels in-flight
  jobs at its deadline+60s so a contended box degrades to FEWER REPS
  per row, never a killed child; groups that carry headline rows
  (join100/bucketed/light) launch with a reduced rescue budget even
  when the wall is blown (r14 — both r13 driver runs dropped rows
  by skipping the light group, which gates the verdict).

Timing protocol per group: min of 3 runs, repetitions INTERLEAVED
across the group's micros so a transient contention spike hits at
most one rep of each micro; per-run times land in the JSON
("micro_runs") so the artifact itself shows the variance.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_filter_project_topk",
    "q02_groupby_aggregates",
    "q03_join_agg_topk",
    "q05_star_join_having",
    "q08_join_full",
    "q11_count_distinct",
    "q12_date_extract_agg",
    "q13_arith_in_agg",
    "q14_sort_multi_direction",
    "q20_window_rank",
    "q31_json_extract",
    "q32_tumbling_window",
    "q33_sessionize",
    "q34_asof_join",
    "q35_pivot",
    "q37_pandas_udf_scalar",
    "q39_apply_in_pandas",
    "q43_tpch_q6_shape",
    "q50_hypertable_rollup",
    "q53_dataset_split",
    # q72 (sharded packing) replaces q54: the (lang, shard) layout is
    # the shape a 100x corpus actually runs; q54 remains oracle-checked.
    "q72_sequence_packing_sharded",
    "q57_window_analytics",
    # round-5 additions: the canonical TPC-H compositions and the new
    # pipeline ops with distinct plan shapes
    "q77_tpch_q1",
    "q80_tpch_q5",
    "q84_tpch_q18",
    "q85_tpch_q19",
    "q103_tpch_q8",
    "q89_incremental_rollup_merge",
    "dedup_span_stats",
    "dedup_lines_keep_first",
    "q97_rolling_time_window",
    "q73_decontaminate",
    "q74_temperature_mix",
    "q75_doc_chunks",
    "q76_gopher_gate",
    "dedup_exact_key",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_bruteforce_topk",
    "sim_bucketed_ann",
    "text_token_stats",
    "text_quality_score",
    "text_fingerprint",
    "mm_inventory",
    "mm_decode_features",
    # round-6 additions: the new distinct plan shapes — as-of carries,
    # bucketed attribution, transition matrix, sliding distinct,
    # digest dedup, and the exact-arithmetic statistics pair.
    # (q141 triangles and sim_semdedup are deliberately NOT here:
    # ~22 s + ~25 s at sf0.1 would eat the wall budget the bucketed
    # micro group needs; both are timed in the sf1 sweep record and
    # oracle-gated like everything else.)
    "q132_asof_join_nearest",
    "q133_touch_attribution",
    "q138_transition_matrix",
    "q139_sliding_distinct_users",
    "q142_source_concentration",
    "q143_mad_outliers",
    "mm_exact_dedup",
]

# Micro groups, each run in its own child process. Launch order is
# GROUP_ORDER below; the bucketed group (largest transient: two
# 100M-row table writes) goes last so a budget squeeze drops it
# before anything else.
MICRO_GROUPS = {
    "join100": [
        "micro_join_int_100m_x_100m",
        "micro_join_int_100m_x_100m_shj",
    ],
    # groupby gets its OWN child (r11): it is the second
    # baseline-comparison row (DuckDB 78M rows/s claim) and the r11
    # full-run-under-load showed it must not live in the droppable
    # light group — but it cannot share the join100 child either:
    # that session's zstd shuffle codec (a core conf, fixed at JVM
    # start, a measured WIN for the 1.6 GB join shuffles) taxes the
    # groupby's partial-agg exchange ~2x (A/B same box: warm 0.71 s
    # on defaults vs 1.23-1.45 s under zstd+init96). ~40 s child:
    # session + pre-touch + <=6 sub-2s reps.
    "agg100": [
        "micro_groupby_agg_100m",
    ],
    "light": [
        "micro_join_int_10m_x_10m",
        "micro_join_skewed_50pct_default",
        "micro_filter_scan_100m",
        "micro_table_merge_10m",
        "micro_bloom_point_lookup_2m",
        "micro_point_lookup_noskip_2m",
    ],
    # DuckDB measured on THIS box, same shapes, same min-of-N protocol:
    # the baseline's CPU numbers (BASELINE.md: join 18.3 s, group-by
    # 78 M rows/s) are the reference README's prose with no hardware
    # stated — these rows make the "x DuckDB" comparisons two
    # measurements on one machine instead of ours vs. unbacked prose.
    "duckdb": [
        "duckdb_join_100m",
        "duckdb_groupby_100m",
    ],
    "bucketed": [
        "micro_join_bucketed_100m_x_100m",
    ],
}
# duckdb runs FIRST: it is the lightest group, exits fully (memory
# back to the OS) before any child JVM inflates a 24 GB heap, and a
# measured r6 run showed the reverse order poisons it — after the
# Spark children, DuckDB's join rep hit 73.6 s vs an 11 s isolated
# floor (reclaim pressure), eating the group's whole budget. join100
# (the baseline-headline shape) still gets a box no other JVM has
# touched, since each group's JVM dies before the next starts.
# bucketed runs BEFORE light (r11, VERDICT r10 #1): r10's artifact
# recorded the marquee bucketed row from ONE wall-starved cold rep
# (5.8 s vs a 0.73-0.84 s converged floor) because the group ran
# last on a loaded box. light is the cheapest and least
# baseline-critical group — a budget squeeze now drops sub-second
# context rows instead of the marquee number.
GROUP_ORDER = ("duckdb", "agg100", "join100", "bucketed", "light")
ALL_MICROS = [n for g in GROUP_ORDER for n in MICRO_GROUPS[g]]
# Adaptive reps: at least MIN_REPS (round-4 protocol), up to MAX_REPS
# while the budget allows and the timings have not converged. A fresh
# child JVM pays this VM's lazy first-touch memory cost on its first
# pass over a 100M-row shape (measured: rep sequences like 53.6/71.8/
# 8.2 s on an otherwise-idle box), so extra reps exist to reach the
# warm floor; a quiet warm run stops at 3.
MIN_REPS = 3
MAX_REPS = 5
CONVERGED_PCT = 0.10  # last run within 10% of the observed min
# Converged idle-box floors recorded across rounds 6-9 for the
# adaptive (baseline-comparison) micros. A min pinned >10% above its
# floor means the box was loaded for the WHOLE rep sequence — the
# case r9's SHJ row proved the spread/descent guards cannot see
# (reps 9.68/6.70/7.02: spread 1.44, not descending, min 20% above
# the 5.54-5.63 s record) — so the runner keeps spending reps while
# the budget allows. Floors are evidence thresholds, not targets:
# they only ever ADD reps, never stop early, and only apply at full
# micro scale (the shapes they were measured at).
KNOWN_FLOORS = (
    {
        # r10 zstd-era joins: records SMJ 4.53 / SHJ 4.18 on the 32g
        # child (BENCH_DETAIL_r10s2_builder.json; earlier same-conf
        # tree 4.963/4.88). Floors sit just above the recorded minima
        # so the guard keeps hunting on a loaded box without
        # demanding a record.
        "micro_join_int_100m_x_100m": 4.7,
        "micro_join_int_100m_x_100m_shj": 4.4,
        "micro_groupby_agg_100m": 0.48,
        "micro_join_bucketed_100m_x_100m": 0.70,
    }
    if float(os.environ.get("SPARK_GRAFT_MICRO_SCALE", "1.0")) == 1.0
    else {}
)


# Weighted budget shares so a contention-slowed early child cannot
# starve the later groups out of even their rep-1 rows; a child that
# finishes early returns its slack to the groups after it (shares are
# of the REMAINING wall at each launch). join100 carries the
# baseline-headline numbers (both joins + the groupby row since r11)
# — it gets the largest share.
GROUP_WEIGHT = {
    "duckdb": 0.14,
    "agg100": 0.10,
    "join100": 0.36,
    "bucketed": 0.28,
    "light": 0.12,
}
# floor of 60s: enough for session start + the cold rep-1 pass that
# guarantees each micro's row (the child only gates reps >= 2 on its
# deadline, so a floored child still lands rep 1). duckdb's 105s
# floor covers 3-4 reps of each control shape under load (looser 15%
# convergence since r11); it was 150 and the r11 full-run-under-load
# showed the controls eating the budget the two BASELINE groups
# (join100 incl. groupby, and bucketed) needed — controls are
# context, they give way first after light. join100's 105s floor
# guarantees the headline join rows their warm reps even when
# headline+duckdb overspend (that run: join100 squeezed to 88s ->
# single cold reps, SMJ 11.1s vs its 4.5s floor). bucketed keeps
# 120s: untimed setup (session + pre-touch + two bucketed writes)
# measured ~95s loaded. Children exit early when converged, floors
# only bind on a loaded box, and the SIGTERM emit path flushes
# everything measured if the driver reaps an overshoot.
GROUP_FLOOR = {
    # duckdb: 105 -> 75 (r14, VERDICT r13 #1): the controls are ratio
    # CONTEXT, not headline rows, yet their 105 s floor was senior to
    # the light group's existence — BOTH r13 driver runs (contended
    # 32-core AND quiet 8-core) ran out of wall at light's turn and
    # dropped five headline micro rows, which gates the verdict the
    # way a slow control never can. A quiet box converges the two
    # DuckDB shapes in ~55-65 s (BENCH_DETAIL_r13_builder); under
    # load the projection gate lands >= rep-1 of each well inside
    # 75 s and the min is honestly labeled by its own rep spread.
    "duckdb": 75.0,
    # agg100: 70 -> 80 (r12) AND its child heap shrank 24g -> 10g —
    # r11's loaded run spent the whole 70 s floor on session + 24g
    # pre-touch + warm pass and recorded ONE cold 4.73 s rep against
    # a 0.635 s converged builder record; the smaller memset is the
    # main fix, the floor bump is margin for the loaded-box case
    "agg100": 80.0,
    "join100": 105.0,
    "bucketed": 120.0,
    "light": 60.0,
}
# Never-skip rescue budgets (r14 extends r11's bucketed-only rescue):
# a blown wall must not erase ROWS — r13's driver run dropped both
# join100 rows AND the five light rows, and "a dropped query is a
# dropped query, no matter how fast the rest got" (VERDICT r13). Any
# group that carries headline rows launches even when the wall is
# blown, with a reduced budget that lands at least rep-1 on a loaded
# box. duckdb/agg100 stay skippable below the threshold: they run
# FIRST, so remaining < 45 at their turn means the headline phase
# consumed ~435 s — a pathology no rescue policy survives anyway.
# (agg100's row is headline, but its slot only starves if duckdb
# overran a 435 s-headline run; the join100/bucketed/light rescues
# are the ones both recorded failures needed.) Overshoot is bounded
# and survivable: every completed rep is fsync-flushed and the parent
# emits the artifact on SIGTERM.
GROUP_RESCUE = {
    "join100": 100.0,
    "bucketed": 90.0,
    "light": 70.0,
}


def rows_all_landed(expected, landed) -> bool:
    """Watchdog zero-row deferral predicate (r14, pure — unit-tested
    in tests/test_bench_protocol.py): the child watchdog may cancel
    in-flight jobs at deadline+60 ONLY when every expected micro row
    has at least one flushed rep; while any row is still missing it
    defers to deadline+100 (a single garbage-labeled rep beats an
    erased row). An empty expected list means the group's micros are
    not built yet (e.g. the bucketed writes are still running) — that
    counts as not-landed."""
    return bool(expected) and set(landed) >= set(expected)


def group_budget(gi: int, group: str, remaining: float) -> float | None:
    """Child wall budget for GROUP_ORDER[gi] given the remaining
    parent wall (pure function; unit-tested in
    tests/test_bench_protocol.py). None = skip the group.

    Floors-fit cap (r14, generalizes r11's duckdb->bucketed reserve):
    no group's grant may eat the wall the LATER groups' floors need —
    both r13 driver runs reached the light group with nothing left
    (quiet 8-core: 3 s; contended 32-core: -50 s) because only duckdb
    was ever capped, and only for bucketed's benefit. The cap never
    cuts a group below its OWN floor (the r11 lesson: join100 capped
    under its floor recorded single cold reps), so when the wall
    cannot fit everyone's floors the shortfall lands on the LAST
    groups — which the rescue budgets below then catch, instead of a
    skip.

    Never-skip rescue (r11 bucketed; r14 join100 + light): a blown
    wall used to SKIP late groups outright — r11 lost the bucketed
    row (remaining -8 s at its turn), r13 lost all five light rows,
    and a missing row is strictly worse than a slow one. Groups in
    GROUP_RESCUE always launch with a reduced budget (>= rep-1 of
    every micro on a loaded box; convergence on a quiet one)."""
    if remaining < 45:
        return GROUP_RESCUE.get(group)
    later = sum(GROUP_WEIGHT[g] for g in GROUP_ORDER[gi:])
    floor = GROUP_FLOOR.get(group, 60.0)
    budget = max(
        min(remaining * GROUP_WEIGHT[group] / later - 10, remaining - 15),
        floor,
    )
    later_floors = sum(
        GROUP_FLOOR.get(g, 60.0) for g in GROUP_ORDER[gi + 1:]
    )
    if later_floors:
        budget = min(budget, max(remaining - later_floors, floor))
    return budget


def should_run_rep(
    r: list, rep: int, adaptive: bool, floor: float | None
) -> bool:
    """Decide whether rep index `rep` should run given timings `r` so
    far (pure function; unit-tested in tests/test_bench_protocol.py
    against the recorded r6-r9 rep sequences).

    Rules, in order:
    - reps below MIN_REPS always run; non-adaptive rows stop at
      MAX_REPS, adaptive rows get one extra slot (ADVICE r9: the +1
      is per-name, not per-group);
    - converged (last two reps within 10% + 0.2 s of the min) stops
      the sequence UNLESS an adaptive guard says the min is not
      trustworthy yet:
      * spread: max/min > 1.5 means a contention spike sat in the
        sequence (r6 join: 7.2/15.8/6.6/6.2) — but the +1 slot is
        the last word, it cannot itself demand another;
      * still-descending: the last rep is both the min and >= 5%
        below its predecessor (r7 bucketed: 4.07 -> 3.82 at cutoff);
      * floor-pinned (r10): min sits > 10% above the recorded
        idle-box floor — the uniformly-loaded-box case neither guard
        above can see (r9 SHJ: reps 9.68/6.70/7.02, spread 1.44, not
        descending, min 20% over the 5.54-5.63 s record).
    """
    name_max_reps = MAX_REPS + 1 if adaptive else MAX_REPS
    if rep >= name_max_reps:
        return False
    if rep < MIN_REPS or not r:
        return True
    spread_bad = adaptive and max(r) > 1.5 * min(r) and rep < MAX_REPS
    if (
        adaptive
        and len(r) >= 2
        and r[-1] < r[-2] * 0.95
        and r[-1] <= min(r) * 1.001
    ):
        spread_bad = True
    if adaptive and floor is not None and min(r) > floor * 1.10:
        spread_bad = True
    converged = all(
        x <= min(r) * (1 + CONVERGED_PCT) + 0.2 for x in r[-2:]
    )
    return spread_bad or not converged


def _clear_engine_caches(spark, notes: list[str]) -> None:
    """Drop every cached relation before a timed headline row (r14,
    VERDICT r13 #5/#9), so each row pays its own builds, exactly like
    a standalone run of that query. Persists made inside a query
    (persist.py: q141's edges, the dedup/similarity operators' shared
    relations) are already released when the previous row's result is
    collected; clearing the catalog's cache also drops anything an
    earlier row left behind. Methodology change recorded in
    OPTIMIZATION_r14.md with the old numbers kept (q73/q76/
    dedup_minhash_lsh are the affected rows).

    A failure is written to `notes` (cache hygiene must never kill the
    bench, nor hide that it did not happen)."""
    try:
        spark.catalog.clearCache()
    except Exception as e:  # noqa: BLE001
        notes.append(f"cache clear catalog.clearCache: {type(e).__name__}")


def _stderr_tail(path: str, lines: int = 30, chars: int = 3000) -> str:
    """Last `lines` lines of a child's captured stderr, capped at
    `chars`, newline-flattened for the artifact notes (r13,
    VERDICT r12 #1: a failing child's exit must be diagnosable from
    the JSON record alone)."""
    from collections import deque  # noqa: PLC0415

    try:
        with open(path, errors="replace") as f:
            tail = "".join(deque(f, maxlen=lines))
    except Exception:  # noqa: BLE001
        return "<stderr unavailable>"
    return tail.replace("\n", " | ")[-chars:]


def _mk_spark(cpus: str, extra: dict | None = None, pretouch: bool = False):
    from gpu_olap_engine_spark.config import EngineConfig  # noqa: PLC0415
    from gpu_olap_engine_spark.session import get_spark  # noqa: PLC0415

    warehouse = tempfile.mkdtemp(prefix="bench_wh_")
    # pretouch (micro children only): -Xms == driver memory +
    # AlwaysPreTouch commits and faults the whole heap at (untimed)
    # session start. Without it the first 100M-row pass pays lazy
    # first-touch for ~20 GB of pages inside the timed region —
    # measured 82.5 s for a rep whose warm floor is ~5 s, and that
    # cold rep then poisoned the budget projection so the warm reps
    # never ran. The parent (headline) session must NOT pre-touch:
    # sf0.1 queries never grow the heap, and the memset costs 30-50 s
    # of the shared wall budget under load.
    java_opts = "-Xlog:disable"
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "24g")
    if pretouch and mem:
        java_opts += f" -Xms{mem} -XX:+AlwaysPreTouch"
    confs = {
        "spark.sql.warehouse.dir": warehouse,
        # JVM unified logging (e.g. GCLocker warnings under the
        # 100M-row micros) writes to STDOUT and would corrupt the
        # one-line JSON contract; disable it outright.
        "spark.driver.extraJavaOptions": java_opts,
        # r13 (VERDICT r12 #1): bench children serve no UI, and live
        # UI/SQL-execution state (per-rep plan graphs x AQE re-plans,
        # default retention 1000 executions) accumulates in the child
        # heap across floor-guard-extended rep sequences — the prime
        # suspect for the late-rep OOMs (r10 at 24g, r12 rc-1 at
        # 32g). Zero timing effect; strictly less allocation.
        "spark.ui.enabled": "false",
        "spark.sql.ui.retainedExecutions": "4",
    }
    confs.update(extra or {})
    spark = get_spark(EngineConfig(extra_confs=confs), master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, warehouse


def _warm(spark, group: str, n: int) -> None:
    """Untimed warm-up of a fresh session: a tiny pass compiles the
    codegen agg/join/shuffle paths once, then (unless `n` is 0) an
    `n`-row pass through the group's own shuffle path."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    spark.range(100_000).groupBy((F.col("id") % 2).alias("g")).agg(
        F.count("*")
    ).collect()
    spark.range(100_000).select(F.col("id").alias("k")).join(
        spark.range(100_000).select(F.col("id").alias("k")), "k"
    ).agg(F.count("*")).collect()
    if not n:
        return
    if group == "agg100":
        # group-appropriate warm pass (r11): the groupby child only
        # needs the aggregate/shuffle path hot — the 50M JOIN warm
        # below costs 20-30 s on a loaded box for pools this group
        # never touches, and that spend came straight out of the
        # marquee groups' wall
        df = spark.range(n, numPartitions=32).groupBy(
            (F.col("id") % 100_000).alias("k")
        ).agg(F.count("*").alias("c"), F.sum("id").alias("s"))
    else:
        wa = spark.range(n, numPartitions=32).select(F.col("id").alias("k"))
        df = wa.join(
            spark.range(n, numPartitions=32).select(F.col("id").alias("k")),
            "k",
        ).select(F.count("*").alias("c"))
    df.write.format("noop").mode("overwrite").save()


def _micro_frames(spark, group: str, ms: float):
    """(name, df) pairs for a group's micros, matching the reference's
    published shapes (BASELINE.md: 100M x 100M int-key inner join,
    100M-row group-by) plus filter+scan and a skew demo."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    def rows(n: int) -> int:
        return max(int(n * ms), 1000)

    if group == "join100":
        a100 = spark.range(rows(100_000_000), numPartitions=64).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b100 = spark.range(rows(100_000_000), numPartitions=64).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        # the reference's headline join shape (GPU 3.2s / DuckDB 18.3s),
        # recorded on BOTH planner paths: default SMJ over an
        # AQE-coalesced shuffle, and the shuffle-hash hint (no sort —
        # the analog of the reference's radix HASH join default,
        # join_kernel.rs:14-18).
        return [
            (
                "micro_join_int_100m_x_100m",
                a100.join(b100, "k").select(F.count("*").alias("c")),
            ),
            (
                "micro_join_int_100m_x_100m_shj",
                a100.join(b100.hint("shuffle_hash"), "k").select(
                    F.count("*").alias("c")
                ),
            ),
        ]
    if group == "agg100":
        r100 = spark.range(rows(100_000_000), numPartitions=64)
        return [
            (
                "micro_groupby_agg_100m",
                r100.groupBy((F.col("id") % 100_000).alias("k")).agg(
                    F.count("*").alias("c"), F.sum("id").alias("s")
                ),
            ),
        ]
    if group == "light":
        r = spark.range(rows(100_000_000), numPartitions=64)
        a = spark.range(rows(10_000_000), numPartitions=32).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(rows(10_000_000), numPartitions=32).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        # skewed join: half the probe rows share ONE key; AQE skew-join
        # splits the hot partition at runtime (the case the reference's
        # hash-scatter radix partitioner cannot handle). Default planner
        # path only — the forced-SMJ demo was cut for wall budget (r4
        # advice); its story is told in BENCH_NOTES.md.
        sk = spark.range(rows(20_000_000), numPartitions=32).select(
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(rows(1_000_000), numPartitions=8).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("d")
        )
        return [
            (
                "micro_join_int_10m_x_10m",
                a.join(b, "k").select(F.count("*").alias("c")),
            ),
            (
                "micro_join_skewed_50pct_default",
                sk.join(dim, "k").select(F.count("*").alias("c")),
            ),
            (
                "micro_filter_scan_100m",
                r.filter((F.col("id") % 7) == 0).agg(F.count("*").alias("c")),
            ),
            ("micro_table_merge_10m", _table_merge_run(spark, ms)),
            *_bloom_lookup_runs(spark, ms),
        ]
    raise ValueError(group)


def _bloom_lookup_runs(spark, ms: float):
    """Point-lookup micro pair against ONE shared snapshot table whose
    key values interleave across all 256 files (round-robin layout),
    so min/max stats can never skip — only the Bloom filters can. The
    pruned row times 8 `read_snapshot(predicate=)` probes (bloom plans
    ~1 file each); the noskip twin runs the same 8 probes as full-
    snapshot reads + row filters — parquet row-group pushdown still
    skips the DATA cheaply, so what the twin actually pays is
    scheduling and opening 256 splits per probe, which is exactly the
    cost manifest pruning removes and exactly what explodes at a
    million files (measured here: ~3.4x at 256 files, and the gap is
    linear in file count). Lookups don't mutate, so reps share the
    table (built untimed at group setup)."""
    import atexit  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    from gpu_olap_engine_spark.sources import table_format as tf  # noqa: PLC0415

    n = max(int(2_000_000 * ms), 1000)
    path = tempfile.mkdtemp(prefix="bench_bl_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    t = os.path.join(path, "t")
    base = (
        spark.range(n)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartition(256)
    )
    tf.create_table(base, t, bloom_columns=["k"])
    keys = [int(i * n / 8) + 7 for i in range(8)]

    def run_pruned() -> None:
        for k in keys:
            rows = tf.read_snapshot(
                spark, t, predicate=[("k", "=", k)]
            ).collect()
            assert len(rows) == 1 and rows[0]["v"] == 2 * k

    def run_noskip() -> None:
        for k in keys:
            rows = (
                tf.read_snapshot(spark, t).filter(F.col("k") == k).collect()
            )
            assert len(rows) == 1 and rows[0]["v"] == 2 * k

    return [
        ("micro_bloom_point_lookup_2m", run_pruned),
        ("micro_point_lookup_noskip_2m", run_noskip),
    ]


def _table_merge_run(spark, ms: float):
    """Lakehouse-path micro: create a 10M-row snapshot table (16
    contiguous-range files), MERGE a 100k update batch keyed into a
    narrow range (stats pruning keeps the rewrite file-granular), then
    read the new snapshot back — the full create->MERGE->read cycle
    timed end-to-end. Each rep builds a FRESH table dir (a merge
    mutates state, so reps cannot share one); the callable is timed by
    the rep loop in place of a noop write."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from gpu_olap_engine_spark.sources import table_format as tf  # noqa: PLC0415

    n = max(int(10_000_000 * ms), 1000)

    def run() -> None:
        path = tempfile.mkdtemp(prefix="bench_tm_")
        try:
            base = spark.range(n, numPartitions=16).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            )
            # create_table refuses to reuse a non-empty dir; write into
            # a child of the fresh tmp dir
            t = os.path.join(path, "t")
            tf.create_table(base, t)
            u = spark.range(max(n // 100, 10)).select(
                (F.col("id") + n // 2).alias("k"),
                F.lit(-1).cast("long").alias("v"),
            )
            r = tf.merge_into(spark, t, u, ["k"])
            assert r["files_rewritten"] >= 1
            assert tf.read_snapshot(spark, t).count() == n
        finally:
            shutil.rmtree(path, ignore_errors=True)

    return run


# The DuckDB controls: the join100 and agg100 shapes at {n} rows, and
# the join that warms DuckDB's allocator pools first (shared with
# scripts/scale.py, which runs the same shapes at other row counts).
DUCKDB_JOIN_SQL = (
    "SELECT count(*) AS c FROM "
    "(SELECT range AS k, range * 2 AS va FROM range({n})) a JOIN "
    "(SELECT range AS k, range * 3 AS vb FROM range({n})) b USING (k)"
)
DUCKDB_GROUPBY_SQL = (
    "SELECT count(*) AS c FROM (SELECT range % 100000 AS k, "
    "count(*) AS cnt, sum(range) AS s FROM range({n}) GROUP BY k)"
)
DUCKDB_WARM_SQL = (
    "SELECT count(*) FROM range({n}) a JOIN range({n}) b ON a.range = b.range"
)


def run_duckdb_child(runs_path: str, budget: float) -> None:
    """Child-process entry for the DuckDB comparison rows: the same
    generated join/group-by shapes, timed in-process with DuckDB on
    the same cores, min-of-reps with the same convergence rule. Runs
    in a child for the same crash isolation the Spark micros get."""
    import duckdb  # noqa: PLC0415

    deadline = time.monotonic() + budget
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    ms = float(os.environ.get("SPARK_GRAFT_MICRO_SCALE", "1.0"))
    n = max(int(100_000_000 * ms), 1000)

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={cpus}")
    # count(*) result: no ordering to preserve; drops a pipeline break
    con.execute("SET preserve_insertion_order=false")
    micros = [
        ("duckdb_join_100m", DUCKDB_JOIN_SQL.format(n=n)),
        ("duckdb_groupby_100m", DUCKDB_GROUPBY_SQL.format(n=n)),
    ]
    # warmup: a 10M-row join (~1 s) faults DuckDB's allocator pools
    # before the timed reps — measured cold-rep spread without it was
    # 14-32 s against an 11 s converged floor
    con.sql(DUCKDB_WARM_SQL.format(n=max(n // 10, 1000))).fetchall()
    with open(runs_path, "a") as out:
        runs: dict[str, list[float]] = {name: [] for name, _ in micros}
        for rep in range(MAX_REPS):
            for name, sql in micros:
                r = runs[name]
                if rep > 0:
                    proj = min(r) if len(r) >= 2 else r[0] / 4
                    if time.monotonic() + proj > deadline:
                        continue
                # controls converge on a LOOSER rule (15% + 0.3 s):
                # they exist for ratio context, ~10% accuracy is
                # plenty, and r10 spent 5 join reps (12.2-14.1 s,
                # ~25 s of wall) chasing the strict 10% band on a
                # noisy box — wall that the marquee bucketed group
                # needed (r11).
                if rep >= MIN_REPS and all(
                    x <= min(r) * 1.15 + 0.3 for x in r[-2:]
                ):
                    continue
                t0 = time.perf_counter()
                con.sql(sql).fetchall()
                t = time.perf_counter() - t0
                r.append(t)
                out.write(json.dumps({"name": name, "t": round(t, 3)}) + "\n")
                out.flush()
                os.fsync(out.fileno())


def run_micro_child(group: str, runs_path: str, budget: float) -> None:
    """Child-process entry: run one micro group with its own Spark
    session, flushing every completed rep to `runs_path` immediately
    (JSONL) so a mid-run JVM death loses nothing already measured."""
    if group == "duckdb":
        run_duckdb_child(runs_path, budget)
        return
    t_child = time.monotonic()
    deadline = t_child + budget
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    ms = float(os.environ.get("SPARK_GRAFT_MICRO_SCALE", "1.0"))

    extra = {}
    if not os.environ.get("SPARK_GRAFT_DRIVER_MEMORY"):
        # Per-group heap sizing (r12, VERDICT r11 #1): AlwaysPreTouch
        # memsets the WHOLE -Xms at child start, so an oversized heap
        # is pure untimed-setup tax that eats the group's wall floor
        # on a loaded box (r11: the agg100 child's 24g-class setup
        # consumed its 70 s floor and left ONE cold 4.73 s rep).
        if group == "join100":
            # r10: a floor-guard-extended rep sequence OOMed the
            # default 24g child heap on a late SHJ rep (OOM after 7+
            # full-scale reps; every completed rep was already
            # flushed, so the artifact survived — but the dead child
            # forfeits its remaining rep budget). The two 100M-row
            # hash builds plus per-rep AQE plan state want headroom.
            # r13: it recurred at 32g (stderr tee caught the executor
            # OutOfMemoryError); the primary fix is the per-rep
            # System.gc() below (cleaner-lag accumulation), and the
            # heap adds one more rep's headroom on top.
            # r14 (VERDICT r13 #1): 40g -> 24g, measured. AlwaysPreTouch
            # is page-fault-bound in this VM: quiet-box memset is 5.7s
            # at 24g / 13.2s at 32g, but under the host contention that
            # hit the r13 driver run it blew up to 104s (32g, measured
            # this round) — the child died before rep 1 existed. Per-
            # rep System.gc (the r13 OOM fix) costs 0.1s/rep on a 24g
            # pre-touched heap and keeps cleaner lag at zero, so the
            # r10 24g OOM mode (7+ reps of uncollected hash builds)
            # does not apply; 16g was measured TOO SMALL (SHJ's
            # 32-task hash-relation build fails to acquire memory).
            # Validated: full 6+6 rep sequence at 24g, no OOM,
            # SMJ 5.25 / SHJ 5.43 mins, child wall 103.6s quiet.
            os.environ["SPARK_GRAFT_DRIVER_MEMORY"] = "24g"
        elif group == "agg100":
            # a 100M-row two-column group-by's working set is ~2-4 GB
            # (partial-agg maps + a 256 x 100k-row exchange); 10g is
            # 2.4x headroom and the pre-touch memset drops ~2.4x
            os.environ["SPARK_GRAFT_DRIVER_MEMORY"] = "10g"
        elif group == "light":
            # largest light shape is the 10M-row snapshot MERGE plus a
            # 100M generated filter scan (nothing materializes); 12g
            # halves the pre-touch so the group's 60 s floor buys reps
            os.environ["SPARK_GRAFT_DRIVER_MEMORY"] = "12g"
    if group == "join100":
        # The 100M x 100M join wants a NARROWER initial partition count
        # than the engine's AQE default (256, sized for bounded sort
        # state): at 96 initial partitions both join strategies run
        # ~5.2s with tight variance (SMJ quiet-box sweep: init96 ->
        # 5.19/5.19/5.24s; init64 -> 4.85-15.1s; init256 -> 9-18s,
        # where the 64-map x 256-reducer shuffle-block matrix
        # dominates). Fresh session per group, so set it session-wide.
        extra["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] = "96"
        # r10 measured sweep: zstd shuffle blocks beat the lz4 default
        # on this shape — sequential 64-bit keys compress ~3x better,
        # so the 2 x ~1.6 GB shuffle moves fewer bytes through the
        # page cache; head-to-head alternating runs: SHJ 4.34 vs 5.12
        # (best-case idle), 5.44 vs 5.90 under load-18 contention, SMJ
        # 5.23/5.77 vs 5.98 — zstd never lost a pairing. Session-wide
        # is safe: this child only runs the two join micros.
        extra["spark.io.compression.codec"] = "zstd"
    spark, warehouse = _mk_spark(cpus, extra, pretouch=True)
    print(
        f"[bench:{group}] session+pretouch {time.monotonic() - t_child:.1f}s",
        file=sys.stderr,
    )

    # Watchdog (r14, VERDICT r13 #1 "degrade to fewer reps, not a
    # kill"): the rep gates below bound when a rep may START, but an
    # in-flight rep on a contended box can run arbitrarily long — the
    # r13 driver's join100 child was still inside rep 1 when the
    # parent killed it at budget+90s, forfeiting the whole group. At
    # deadline+60 the watchdog cancels all in-flight jobs instead:
    # the write action raises, the loop stops cleanly, every
    # already-flushed rep survives, and the child exits rc 0 well
    # before the parent's kill (now a backstop for true JVM hangs
    # only). 60 s of grace is deliberate: the FIRST pass of the rep
    # loop lands rep-1 of every micro in the group, and cutting the
    # last of those off early would erase a row to save seconds.
    #
    # Zero-row deferral (r14 second fix, measured failure: a load-17
    # spike during this round's own run-4 made setup+rep-1 outrun
    # deadline+60 and the watchdog cancelled rep 1 IN FLIGHT — child
    # exited rc 0 with zero rows, i.e. the dropped-row failure this
    # round exists to kill, just via a politer mechanism): while any
    # micro of the group still has NO completed rep, the watchdog
    # holds fire until deadline+100 — a garbage-labeled single rep
    # beats an erased row, and the parent's kill is at +120 so 20 s
    # of flush/exit margin remains. Once every expected row exists,
    # +60 applies as before.
    import threading  # noqa: PLC0415

    cancelled = threading.Event()
    expected_names: list = []  # filled once the group's micros exist
    landed_names: set = set()  # updated by emit_run on each flush

    def _watchdog() -> None:
        while not cancelled.is_set():
            left = deadline + 60 - time.monotonic()
            if left <= 0:
                break
            cancelled.wait(min(left, 5.0))
        deferred = False
        while not cancelled.is_set():
            if rows_all_landed(expected_names, landed_names):
                break  # every row exists — cancel now
            left = deadline + 100 - time.monotonic()
            if left <= 0:
                break
            if not deferred:
                deferred = True
                print(
                    f"[bench:{group}] watchdog: row(s) still missing "
                    f"at deadline+60 — deferring cancel to +100",
                    file=sys.stderr,
                )
            cancelled.wait(min(left, 5.0))
        if not cancelled.is_set():
            cancelled.set()
            print(
                f"[bench:{group}] watchdog: cancelling in-flight jobs",
                file=sys.stderr,
            )
            try:
                spark.sparkContext.cancelAllJobs()
            except Exception:  # noqa: BLE001
                pass

    wd = threading.Thread(target=_watchdog, daemon=True)
    wd.start()

    out = open(runs_path, "a")

    def emit_run(name: str, t: float) -> None:
        out.write(json.dumps({"name": name, "t": round(t, 3)}) + "\n")
        out.flush()
        os.fsync(out.fileno())
        landed_names.add(name)  # watchdog zero-row deferral input

    # mid-size warm pass (round-6, targeting rep-1/min <= 1.2): even
    # with the heap pre-touched, the first 100M-row rep ran 1.4-1.9x
    # the warm floor (r5 artifact: 8.26 s vs 5.53) — shuffle spill
    # dirs, netty buffer pools, and the off-heap sort allocations are
    # first-touched lazily too. A 50M-row pass through the same
    # shuffle path (~3 s, untimed) warms them at half scale (20M was
    # measured insufficient: rep-1/min stayed 1.43).
    warm = max(int(50_000_000 * ms), 100_000)
    # Setup-aware degrade (r14): when session start + pre-touch
    # already ate a big share of the budget (contended box), skip the
    # mid-size warm pass — its job is to make rep 1 land near the warm
    # floor, but on a box that slow the budget buys at most the rep-1
    # rows, and spending 20-30 s polishing a rep that may not fit is
    # how the r13 child died rowless. The adaptive rep guards treat a
    # cold rep 1 exactly like any contention spike.
    if time.monotonic() - t_child > 0.35 * budget:
        print(
            f"[bench:{group}] setup ate "
            f"{time.monotonic() - t_child:.0f}s of {budget:.0f}s — "
            "skipping warm pass",
            file=sys.stderr,
        )
        warm = 0

    try:
        _warm(spark, group, warm)
        if group == "bucketed":
            micros = _bucketed_micros(spark, ms, deadline)
        else:
            micros = _micro_frames(spark, group, ms)
        runs: dict[str, list[float]] = {name: [] for name, _ in micros}
        expected_names.extend(runs)  # watchdog zero-row deferral input
        # join100 carries the baseline-headline number and bucketed is
        # the marquee "zero-exchange matches the GPU claim" row: when a
        # rep sequence shows a contention spike (r6: 7.2/15.8/6.6/6.2;
        # r7 bucketed: 7.4/4.1/3.8 still descending at cutoff —
        # max/min > 1.5), allow one extra rep beyond the normal cap so
        # a noisy box cannot pin the min above the true floor.
        group_adaptive = group in ("join100", "bucketed")
        # r9: groupby is a baseline-comparison row too (78 M rows/s
        # DuckDB claim) and r8 recorded 1.814/1.08/1.244 on a loaded
        # box — min pinned ~2x above the 0.57 s idle floor because the
        # converged check passed. It gets the same adaptive + still-
        # descending treatment the join rows got in r6-r8.
        # r10 (ADVICE): the +1 rep slot is gated PER NAME on the
        # adaptive flag, not per group — r9 gave all five 'light'
        # micros a 6th-rep budget the comment only justified for the
        # groupby row.
        for rep in range(MAX_REPS + 1):
            if cancelled.is_set():
                break
            for name, df in micros:
                adaptive = group_adaptive or name == "micro_groupby_agg_100m"
                name_max_reps = MAX_REPS + 1 if adaptive else MAX_REPS
                if rep >= name_max_reps:
                    continue
                r = runs[name]
                # rep 1 always runs (it guarantees the row); later reps
                # only if the projected rep fits the remaining budget.
                # With a single (possibly still-cold) rep on record the
                # projection is optimistic (cold/warm ratios of 4-16x
                # were measured before heap pre-touch): better to risk
                # ONE bounded overshoot — the watchdog caps it — than
                # to let a cold rep-1 foreclose the warm reps that are
                # the micro's actual number.
                # 2-rep minimum (r13, ADVICE r12): rep 1 runs
                # unconditionally — UNLESS it would be cancelled
                # mid-flight anyway (r14: projected past the
                # watchdog's deadline+60; attempting it then is pure
                # wall spend that the light group needs). A lone cold
                # rep is not a usable number on a quiet box, but it IS
                # the row's existence on a drowning one.
                if cancelled.is_set():
                    break
                if rep == 1 and r and (
                    time.monotonic() + min(r) > deadline + 45
                ):
                    continue
                if rep > 1:
                    proj = min(r)
                    if time.monotonic() + proj > deadline:
                        continue
                if not should_run_rep(
                    r, rep, adaptive, KNOWN_FLOORS.get(name)
                ):
                    continue
                t0 = time.perf_counter()
                if callable(df):
                    df()  # imperative micro (table-format cycle)
                else:
                    df.write.format("noop").mode("overwrite").save()
                t = time.perf_counter() - t0
                r.append(t)
                emit_run(name, t)
                if group == "join100":
                    # r13: the recurring join100 rc-1's root cause,
                    # finally captured by the stderr tee — executor
                    # java.lang.OutOfMemoryError on a LATE rep;
                    # SparkUncaughtExceptionHandler halts the JVM
                    # mid-sequence. Shuffle/broadcast state freed
                    # between reps is reclaimed by the GC-driven
                    # ContextCleaner, and a pre-touched 32g heap has
                    # so little GC pressure that the cleaner lags N
                    # reps behind while each rep's two 100M-row hash
                    # builds land on top of the uncollected prior
                    # ones. One explicit collection per rep, OUTSIDE
                    # the timed window, keeps the sequence flat.
                    # r14: timed to stderr — the gc runs outside the
                    # timed window but INSIDE the child's wall budget,
                    # so its cost must be visible in the artifact's
                    # stderr tee when diagnosing a squeezed sequence.
                    g0 = time.perf_counter()
                    spark.sparkContext._jvm.System.gc()
                    print(
                        f"[bench:{group}] rep gc "
                        f"{time.perf_counter() - g0:.1f}s",
                        file=sys.stderr,
                    )
    except Exception:
        # the watchdog cancelled an in-flight job (the warm pass, a
        # bucketed write or a rep): stop cleanly, everything already
        # flushed stays, and the parent lists missing rows as incomplete
        if not cancelled.is_set():
            raise
    finally:
        cancelled.set()  # retire the watchdog
        try:
            if group == "bucketed":
                for t in ("bench_ba", "bench_bb"):
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.stop()
        except Exception:
            pass  # JVM may already be gone; runs file has the data
        shutil.rmtree(warehouse, ignore_errors=True)
        out.close()


def _bucketed_micros(spark, ms: float, deadline: float, buckets: int = 64):
    """Same 100M join through bucketed tables: both sides pre-bucketed
    on the key (the persistent analog of the reference's radix
    partitioning, done once at write time), so the join plan has NO
    exchange. The one-time bucketed writes are not part of the timing;
    their wall IS counted against the deadline (a squeezed budget
    abandons the group after the first write rather than stranding a
    half-written pair). Wider layouts than the bench's 64 buckets pack
    `buckets // 64` whole buckets per write task, so every width
    writes with 64 tasks (r11 sweep: at 4096 buckets 64 tasks beat 16
    and 128)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from gpu_olap_engine_spark.sources import write_bucketed  # noqa: PLC0415

    def rows(n: int) -> int:
        return max(int(n * ms), 1000)

    a100 = spark.range(rows(100_000_000), numPartitions=64).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b100 = spark.range(rows(100_000_000), numPartitions=64).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    layout = dict(num_buckets=buckets, sort_cols=["k"], one_file_per_bucket=True,
                  files_per_task=max(1, buckets // 64))
    t0 = time.perf_counter()
    write_bucketed(a100, "bench_ba", ["k"], **layout)
    first_write = time.perf_counter() - t0
    # r14 (measured failure, this round's run 4): this used to RAISE
    # when the second write projected past the soft deadline — rc 1,
    # zero rows, the whole group erased; strictly worse than any
    # overshoot (the verdict's "a dropped query is a dropped query").
    # The watchdog now bounds the overshoot, so proceed whenever the
    # projected write fits the watchdog's zero-row window (+90 of the
    # +100 horizon, flush margin included) and abandon — rc 0, row
    # listed in `incomplete`, note in stderr — only when even that
    # cannot fit.
    if time.monotonic() + first_write > deadline + 90:
        print(
            "[bench:bucketed] abandoning: second bucketed write "
            f"(~{first_write:.0f}s) cannot fit even the watchdog "
            "window",
            file=sys.stderr,
        )
        return []
    write_bucketed(b100, "bench_bb", ["k"], **layout)
    # The legacy outputOrdering conf above is only sound when every
    # bucket is a single sorted file (ADVICE r9): verify the layout
    # actually landed that way before any join reads the tables — a
    # multi-file bucket here would make the sort-free merge silently
    # wrong, which is worse than a failed bench.
    for t in ("bench_ba", "bench_bb"):
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {t}")
            .where("col_name = 'Location'")
            .collect()[0]["data_type"]
        ).replace("file:", "")
        nfiles = len(
            [f for f in os.listdir(loc) if f.endswith(".parquet")]
        )
        if nfiles != buckets:
            raise RuntimeError(
                f"{t}: {nfiles} parquet files for {buckets} buckets — "
                "one-file-per-bucket layout violated; refusing to "
                "run the sort-free merge micro on it"
            )
    ba, bb = spark.table("bench_ba"), spark.table("bench_bb")
    joined = ba.join(bb, "k").select(F.count("*").alias("c"))

    # r9: one sorted file per bucket + the legacy outputOrdering conf
    # => the join plan drops its per-side Sort nodes too (the scan
    # reports the sortBy order), leaving a pure zipper merge of
    # pre-sorted buckets — zero exchange AND zero sort. Before this
    # the "zero-exchange" micro still re-sorted 2 x 100M rows per rep
    # because multi-file buckets void the sortBy guarantee.
    # r11 (ADVICE r9 #1, stricter half): the conf is set/restored
    # around each timed rep — Catalyst reads session conf at action
    # time, so scoping it to the callable keeps it exact while
    # guaranteeing no other micro that ever joins this session can
    # inherit it. The layout assertion above remains the soundness
    # gate (the conf is only trusted on verified one-file buckets).
    conf_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"

    def run_bucketed_join() -> None:
        try:
            prev = spark.conf.get(conf_key)
        except Exception:  # noqa: BLE001  # unset in this session
            prev = None
        spark.conf.set(conf_key, "true")
        try:
            joined.write.format("noop").mode("overwrite").save()
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)

    return [("micro_join_bucketed_100m_x_100m", run_bucketed_join)]


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--micro-group", choices=list(MICRO_GROUPS))
    parser.add_argument("--runs-file")
    parser.add_argument("--budget", type=float, default=300.0)
    args = parser.parse_args()
    if args.micro_group:
        run_micro_child(args.micro_group, args.runs_file, args.budget)
        return

    t_start = time.monotonic()
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "480"))
    deadline = t_start + budget
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    state: dict = {"queries": {}, "micro_runs": {}, "notes": []}
    emitted = [False]

    def emit() -> None:
        if emitted[0]:
            return
        emitted[0] = True
        timings = dict(state["queries"])
        for name, runs in state["micro_runs"].items():
            if runs:
                timings[name] = min(runs)
        incomplete = [
            n for n in HEADLINE + ALL_MICROS if n not in timings
        ]
        detail = {
            "metric": "headline_queries_total_wall",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "micro_runs": state["micro_runs"],
            "sf": sf,
            "incomplete": incomplete,
            "notes": state["notes"],
            "budget_sec": budget,
            "wall_sec": round(time.monotonic() - t_start, 1),
        }
        # Full detail (per-rep micro runs, notes, budgets) goes to a
        # sidecar file + stderr; the FINAL stdout line must stay under
        # the driver's ~2000-char tail capture or it records
        # "parsed": null (it did, rounds 4-7). Control rows exist only
        # for ratio context, so under pressure they shrink first.
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        )
        try:
            with open(detail_path, "w") as f:
                json.dump(detail, f, indent=1)
            print(json.dumps(detail), file=sys.stderr)
        except Exception:  # noqa: BLE001
            pass
        compact_controls = (
            "duckdb_join_100m",
            "duckdb_groupby_100m",
            "micro_point_lookup_noskip_2m",
        )
        compact_q = {
            n: round(t, 2)
            for n, t in timings.items()
            if n not in compact_controls
        }
        # the compact line must be self-consistent: `value` sums only
        # the rows present in its own `queries` map; control rows go
        # to a separate field (r9 advice — parsers silently
        # over-counted by the stripped control-row seconds)
        payload = {
            "metric": "headline_queries_total_wall",
            "value": round(
                sum(
                    t for n, t in timings.items() if n not in compact_controls
                ),
                2,
            ),
            "controls_total": round(
                sum(timings.get(n, 0.0) for n in compact_controls), 2
            ),
            "unit": "sec",
            "queries": compact_q,
            "sf": sf,
            "incomplete_n": len(incomplete),
            "wall_sec": round(time.monotonic() - t_start, 1),
            "detail": "BENCH_DETAIL.json",
        }
        line = json.dumps(payload, separators=(",", ":"))
        # staged shrink: never let the one-line contract outgrow the
        # tail capture, and NEVER drop a headline row from the map
        # (r9's truncation dropped q72 — arithmetically consistent
        # but a reader of the compact map alone thought it was
        # skipped). Controls are already stripped; the next lever is
        # float precision — 1 decimal for rows >= 1 s, then 1 decimal
        # everywhere (at 61 rows: 1810 chars at 2dp, 1758 at 1dp).
        # Row-dropping survives only as a last resort that should be
        # unreachable, and it drops longest-named rows with an
        # explicit truncation marker.
        if len(line) > 1800:
            payload["queries"] = {
                n: round(t, 1) if t >= 1.0 else round(t, 2)
                for n, t in timings.items()
                if n not in compact_controls
            }
            line = json.dumps(payload, separators=(",", ":"))
        if len(line) > 1800:
            payload["queries"] = {
                n: round(t, 1)
                for n, t in timings.items()
                if n not in compact_controls
            }
            line = json.dumps(payload, separators=(",", ":"))
        while len(line) > 1900 and payload["queries"]:
            del payload["queries"][max(payload["queries"], key=len)]
            payload["detail"] = "BENCH_DETAIL.json (queries TRUNCATED)"
            line = json.dumps(payload, separators=(",", ":"))
        print(line)
        sys.stdout.flush()

    def on_term(signum, frame):
        emit()
        os._exit(0)

    signal.signal(signal.SIGTERM, on_term)
    import atexit  # noqa: PLC0415

    atexit.register(emit)

    # ---- phase 1: headline queries (parent session; historically
    # never the killer — the generated micros were) ----
    spark = None
    warehouse = None
    try:
        from gpu_olap_engine_spark.queries import load_all  # noqa: PLC0415

        spark, warehouse = _mk_spark(cpus)
        state["notes"].append(
            f"parent session up {time.monotonic() - t_start:.0f}s"
        )
        registry = load_all()
        # JVM/codegen warmup on the smallest fixture
        registry["q03_join_agg_topk"].fn(spark, "/root/testdata/sf0.001").collect()
        # Python-runtime warmup, symmetric with the JVM one (r13,
        # guide §1/§4.5): the first Python-boundary query in a fresh
        # session pays worker fork + pandas/numpy import + Arrow codec
        # init — ~1.6 s that landed entirely on q37's single rep
        # (measured rep sequence 2.51/0.93/1.00 isolated). Steady
        # state is what the headline row claims to measure, so the
        # spin-up is paid here, untimed, on the sf0.001 fixture.
        # Methodology change recorded in OPTIMIZATION_r13.md with the
        # old number kept.
        registry["q37_pandas_udf_scalar"].fn(
            spark, "/root/testdata/sf0.001"
        ).write.format("noop").mode("overwrite").save()
        state["notes"].append(f"warmup done {time.monotonic() - t_start:.0f}s")
        for name in HEADLINE:
            try:
                _clear_engine_caches(spark, state["notes"])
                t0 = time.perf_counter()
                df = registry[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                state["queries"][name] = round(time.perf_counter() - t0, 3)
            except Exception as e:  # noqa: BLE001
                state["notes"].append(f"headline {name}: {type(e).__name__}")
                traceback.print_exc(file=sys.stderr)
                break  # a dead gateway would fail every remaining query
    except Exception as e:  # noqa: BLE001
        state["notes"].append(f"headline phase: {type(e).__name__}")
        traceback.print_exc(file=sys.stderr)
    finally:
        # free the parent JVM before the memory-heavy children run,
        # even when the headline phase died mid-way
        try:
            if spark is not None:
                spark.stop()
        except Exception:  # noqa: BLE001
            pass
        if warehouse:
            shutil.rmtree(warehouse, ignore_errors=True)

    state["notes"].append(
        f"headline phase wall {time.monotonic() - t_start:.0f}s"
    )
    # ---- phase 2: generated micros, one child process per group ----
    # (budget policy: group_budget/GROUP_WEIGHT/GROUP_FLOOR at module
    # level — pure and replay-tested)
    for gi, group in enumerate(GROUP_ORDER):
        remaining = deadline - time.monotonic()
        child_budget = group_budget(gi, group, remaining)
        if child_budget is None:
            state["notes"].append(f"skipped {group}: {remaining:.0f}s left")
            continue
        fd, runs_path = tempfile.mkstemp(prefix=f"bench_runs_{group}_")
        os.close(fd)
        state["notes"].append(f"{group}: budget {child_budget:.0f}s")
        cmd = [
            sys.executable,
            os.path.abspath(__file__),
            "--micro-group",
            group,
            "--runs-file",
            runs_path,
            "--budget",
            str(round(child_budget, 1)),
        ]
        # r13 (VERDICT r12 #1): the child's stderr used to stream
        # straight to the parent's stderr and was LOST to the
        # artifact — the r12 join100 rc-1 was undiagnosable from the
        # record. Tee it through a file so a non-zero exit carries
        # its last lines into `notes`.
        efd, err_path = tempfile.mkstemp(prefix=f"bench_err_{group}_")
        os.close(efd)
        proc = None
        try:
            with open(err_path, "w") as errf:
                # own process group (r13): the Spark JVM is a
                # GRANDCHILD (py4j spawns it from the python child);
                # killing only the python process on timeout left a
                # 24g AlwaysPreTouch JVM running at full tilt, which
                # strangled every subsequent group of the run (and the
                # box for hours). The group id lets the parent reap
                # python + JVM together.
                proc = subprocess.Popen(
                    cmd,
                    stdout=errf,  # parent stdout stays one JSON line
                    stderr=errf,
                    start_new_session=True,
                )
                proc.wait(timeout=child_budget + 120)  # backstop for a
                # truly hung JVM only (r14): a live child now
                # self-cancels in-flight jobs at its deadline+60 and
                # exits cleanly, so this timeout firing means the
                # JVM stopped responding — reap the process group
            if proc.returncode != 0:
                state["notes"].append(f"{group}: child rc {proc.returncode}")
                state["notes"].append(
                    f"{group} stderr tail: {_stderr_tail(err_path)}"
                )
        except subprocess.TimeoutExpired:
            state["notes"].append(f"{group}: child timeout (killed)")
            state["notes"].append(
                f"{group} stderr tail: {_stderr_tail(err_path)}"
            )
        except Exception as e:  # noqa: BLE001
            state["notes"].append(f"{group}: {type(e).__name__}")
        finally:
            if proc is not None:
                # reap the whole group unconditionally: no-op after a
                # clean exit (spark.stop() ended the JVM), kills any
                # surviving JVM after a timeout/crash
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except (ProcessLookupError, PermissionError, OSError):
                    pass
                try:
                    proc.wait(timeout=10)
                except Exception:  # noqa: BLE001
                    pass
            try:  # replay for interactive runs, then drop the file
                with open(err_path) as f:
                    shutil.copyfileobj(f, sys.stderr)
            except Exception:  # noqa: BLE001
                pass
            os.unlink(err_path)
        # harvest whatever the child flushed, regardless of how it died
        try:
            with open(runs_path) as f:
                for line in f:
                    rec = json.loads(line)
                    state["micro_runs"].setdefault(rec["name"], []).append(
                        rec["t"]
                    )
        except Exception:  # noqa: BLE001
            pass
        finally:
            os.unlink(runs_path)

    emit()


if __name__ == "__main__":
    main()
