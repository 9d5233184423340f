#!/usr/bin/env python3
"""One scale harness: derived fixtures and BASELINE shapes, each step
defined once so it can be repeated at every scale.

    python3 scripts/scale.py build {sf1,sf10}
    python3 scripts/scale.py suite {sf1,sf10} [--keep]
    python3 scripts/scale.py streaming
    python3 scripts/scale.py shape {groupby_1b,join_300m,sort_100m,bucket_width} ...

``build`` writes a fixture dir (reused while its ``_COMPLETE`` marker
holds GEN_VERSION) and prints its row counts; ``oracle_sweep.py`` reads
a built dir. ``suite`` builds if needed, times the scale suite and
prints one JSON line; the dir is removed afterwards unless ``--keep``.
``streaming`` runs the two ~sf10 streaming checks. ``shape`` runs each
BASELINE shape, one child process per phase, and prints one JSON line
per shape.

Every timing is ``scripts/ab.py``'s ``timed_rep`` (gc, ``clearCache``,
``noop`` write). Env: SPARK_GRAFT_CPUS (default 32),
SPARK_GRAFT_SCALE_DIR (~sf1 dir, default /tmp/spark_graft_sf1),
SPARK_GRAFT_SCALE10_DIR (~sf10 dir, default /tmp/spark_graft_sf10),
SPARK_GRAFT_MICRO_SCALE (multiplies every shape's row count; 0.01 for
a smoke run), SPARK_GRAFT_DRIVER_MEMORY (overrides each shape's heap).
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from typing import Callable, NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from gpu_olap_engine_spark.queries import load_all  # noqa: E402
from gpu_olap_engine_spark.queries.tables import TABLES, T  # noqa: E402
from scripts.ab import timed_rep  # noqa: E402

SRC_DIR = "/root/testdata/sf0.1"
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# -- fixture recipes ------------------------------------------------------

GEN_VERSION = "v4"  # the _COMPLETE marker; bump when a recipe changes
# replica i adds i * KEY_OFFSET to every key column: far above any
# fixture key, so replicas own disjoint key ranges and joins keep their
# per-replica fan-out
KEY_OFFSET = 1_000_000_000


class Row(NamedTuple):
    """One table of a recipe. With no key-offset columns the table is
    a dimension, copied once (its keys were never offset, so
    referential integrity holds as it does at the source)."""

    table: str
    offsets: tuple[str, ...] = ()
    transform: Callable[[DataFrame, int], DataFrame] | None = None  # replica i > 0
    partitions: int | None = None  # repartition count of the written table


def _rotate_words(df: DataFrame, i: int) -> DataFrame:
    """~sf1 documents: rotate each text by i * 7 % 50 + 1 words. Same
    language stats; cross-replica shingle overlap drops, so near-dup
    structure stays planted pairs per replica instead of clone cliques."""
    rot = i * 7 % 50 + 1
    words = F.split(F.col("text"), r"\s+")
    return df.withColumn("text", F.array_join(
        F.concat(F.slice(words, rot + 1, 1_000_000), F.slice(words, 1, rot)), " "))


def _replace_words(df: DataFrame, i: int) -> DataFrame:
    """~sf10 documents: every 3rd word becomes the replica token r<i>.
    Rotation is not enough at K=100: a cyclic shift keeps almost every
    shingle, so each document would sit in a 100-clone near-dup clique
    (~300M true pairs; a minhash run measured 393 s of clique
    explosion, not engine scaling). Replacement drives cross-replica
    shingle Jaccard to ~0 while each replica's planted pairs survive,
    so near-dup density stays linear in corpus size."""
    words = F.split(F.col("text"), r"\s+")
    return df.withColumn("text", F.array_join(F.zip_with(
        words, F.sequence(F.lit(0), F.size(words) - 1),
        lambda w, j: F.when(j % 3 == 0, F.lit(f"r{i}")).otherwise(w)), " "))


def _perturb(mod: int, mid: int, step: float):
    """Embeddings: add ((i * 31 + j) % mod - mid) * step to dimension j,
    so cosine(clone, original) < 1 and ANN candidate sets grow linearly
    (a prime `mod` at K=100 keeps every replica's pattern distinct: no
    exact-duplicate vectors are planted)."""
    def fn(df: DataFrame, i: int) -> DataFrame:
        return df.withColumn("embedding", F.transform("embedding", lambda x, j: (
            x + ((F.lit(i * 31) + j) % mod - F.lit(mid)) * F.lit(step)).cast("float")))
    return fn


class Recipe(NamedTuple):
    k: int  # replicas of each fact table
    dir_env: str
    default_dir: str
    rows: tuple[Row, ...]


DIMENSIONS = tuple(Row(t) for t in ("region", "nation", "supplier", "part"))

# Derived from the sf0.1 fixtures deterministically (no RNG). Events
# offset event_id and user_id: K times the users over the same time
# range, so windows and sessions grow in group count, not per-group
# length. ~sf10 offsets o_custkey and c_custkey in lockstep with the
# order keys and keeps c_nationkey, so Q5's nation residual keeps its
# selectivity; ~sf1 copies customer (10x orders per customer).
RECIPES = {
    "sf1": Recipe(10, "SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_sf1", (
        Row("orders", ("o_orderkey",), partitions=32),
        Row("lineitem", ("l_orderkey",), partitions=64),
        Row("events", ("event_id", "user_id"), partitions=32),
        Row("documents", ("doc_id",), _rotate_words, 32),
        Row("embeddings", ("vec_id",), _perturb(7, 3, 0.01), 8),
        Row("customer"),
        *DIMENSIONS,
    )),
    "sf10": Recipe(100, "SPARK_GRAFT_SCALE10_DIR", "/tmp/spark_graft_sf10", (
        Row("documents", ("doc_id",), _replace_words, 64),
        Row("embeddings", ("vec_id",), _perturb(101, 50, 0.002), 32),
        Row("lineitem", ("l_orderkey",), partitions=64),
        Row("orders", ("o_orderkey", "o_custkey"), partitions=32),
        Row("customer", ("c_custkey",), partitions=16),
        Row("events", ("event_id", "user_id"), partitions=32),
        *DIMENSIONS,
    )),
}


def replicate(spark, src_dir: str, out_dir: str, row: Row, k: int) -> None:
    """Write `row.table` into `out_dir`: the union of k replicas of the
    source (one copy for a dimension), keys offset per replica."""
    src = T(spark, src_dir, row.table)
    parts = []
    for i in range(k if row.offsets else 1):
        df = src
        for c in row.offsets:
            df = df.withColumn(c, F.col(c) + F.lit(i * KEY_OFFSET))
        parts.append(row.transform(df, i) if i and row.transform else df)
    out = functools.reduce(DataFrame.unionByName, parts)
    if row.partitions:
        out = out.repartition(row.partitions)
    out.write.mode("overwrite").parquet(f"{out_dir}/{row.table}.parquet")


def generate(spark, recipe: Recipe, src_dir: str, out_dir: str) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for row in recipe.rows:
        replicate(spark, src_dir, out_dir, row, recipe.k)
    with open(f"{out_dir}/_COMPLETE", "w") as f:
        f.write(GEN_VERSION + "\n")


def build(spark, name: str) -> tuple[str, float]:
    """(fixture dir, generation seconds); 0 when the dir is reused."""
    recipe = RECIPES[name]
    out_dir = os.environ.get(recipe.dir_env, recipe.default_dir)
    with contextlib.suppress(OSError), open(f"{out_dir}/_COMPLETE") as f:
        if f.read().strip() == GEN_VERSION:
            return out_dir, 0.0
    t0 = time.perf_counter()
    generate(spark, recipe, SRC_DIR, out_dir)
    return out_dir, round(time.perf_counter() - t0, 1)


# -- suites ---------------------------------------------------------------

SUITES = {
    "sf1": [
        "q01_filter_project_topk", "q02_groupby_aggregates", "q03_join_agg_topk",
        "q05_star_join_having", "q08_join_full", "q11_count_distinct",
        "q12_date_extract_agg", "q14_sort_multi_direction", "q32_tumbling_window",
        "q33_sessionize", "q34_asof_join", "q43_tpch_q6_shape",
        "q50_hypertable_rollup", "q53_dataset_split", "q54_sequence_packing",
        "q72_sequence_packing_sharded", "q57_window_analytics", "dedup_exact_key",
        "dedup_minhash_lsh", "dedup_simhash", "dedup_span_stats", "text_token_stats",
        "text_quality_score", "sim_bucketed_ann",
        # the TPC-H compositions with the heaviest join/agg structure
        # and the rollup-merge maintenance shape
        "q77_tpch_q1", "q80_tpch_q5", "q84_tpch_q18", "q89_incremental_rollup_merge",
        # line-granular dedup and the RANGE-frame rolling window
        "dedup_lines_keep_first", "q97_rolling_time_window", "q103_tpch_q8",
        # the Python-boundary sketch path, both time-series fills, the
        # downsampler
        "text_heavy_hitters_sketch", "q117_gapfill_interpolate",
        "q118_downsample_lttb", "q121_time_weighted_avg",
        # the two persist-vs-window operators, so their choice has a
        # record at this decade
        "sim_near_dup_pairs", "sim_semdedup",
    ],
    "sf10": [
        "dedup_minhash_lsh",
        # the tuple-hashed span twin (8-byte shuffle keys, the gram
        # string never built) is the layout a 100 TB job runs; the
        # string row is timed outside the total and checksummed against
        # it
        "dedup_span_stats_hashed",
        "sim_bucketed_ann", "dedup_exact_key", "dedup_simhash",
        "dedup_lines_keep_first", "sim_near_dup_pairs", "text_token_stats",
        "q77_tpch_q1", "q80_tpch_q5", "q84_tpch_q18",
        # the asymmetric cross verify: train moves once per blocking
        # key, the tiny eval side replicates per chunk
        "sim_decontaminate",
    ],
}

# ~sf10 rows whose output size measures corpus structure (candidate,
# dup or pair mass), counted at both decades so wall per output row can
# separate a denser corpus from a degrading plan
COUNT_ROWS = {
    "dedup_minhash_lsh", "dedup_span_stats_hashed", "sim_bucketed_ann",
    "dedup_exact_key", "dedup_simhash", "dedup_lines_keep_first",
    "sim_near_dup_pairs", "sim_decontaminate",
}


def _cand_minhash(spark, d: str) -> int:
    """True LSH candidate-pair count (post-banding, pre-verify)."""
    from gpu_olap_engine_spark.operators import dedup as D

    sh = D.shingles(T(spark, d, "documents"), "doc_id", "text", k=3)
    return D.lsh_candidate_pairs(D.minhash_signatures(sh)).count()


def _near_dup_buckets(spark, d: str):
    from gpu_olap_engine_spark.operators.similarity import _near_dup_keyed

    return _near_dup_keyed(T(spark, d, "embeddings"), "vec_id", "embedding", 10)


def _cand_near_dup(spark, d: str) -> int:
    """Gram verify work: sum over blocking buckets of C(n, 2), the
    cosines the per-bucket matmul evaluates (a pair sharing m keys
    counts m times: that recount is work done), independent of
    hot-bucket tiling."""
    per = _near_dup_buckets(spark, d).groupBy("bkey").agg(F.count("*").alias("n"))
    row = per.agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p")).collect()[0]
    return int(row["p"] or 0)


def _cand_span(spark, d: str) -> int:
    """Duplicated-span occurrence mass: 8-gram positions that land in a
    corpus-wide duplicated gram, the aggregation's data-dependent work
    (a property of corpus and k, shared by both span twins)."""
    from gpu_olap_engine_spark.operators import dedup as D

    df = D.duplicated_span_stats(T(spark, d, "documents"), "doc_id", "text", k=8)
    return int(df.agg(F.sum("n_dup_spans")).collect()[0][0] or 0)


def _cand_decontaminate(spark, d: str) -> int:
    """Asymmetric verify work: sum over blocking buckets of n_train x
    n_eval (against the symmetric C(n, 2) over the same buckets, the
    gap is the train-train work the asymmetric shape skips)."""
    per = _near_dup_buckets(spark, d).groupBy("bkey").agg(
        F.sum((F.col("vid") % 7 == 0).cast("long")).alias("ne"),
        F.sum((F.col("vid") % 7 != 0).cast("long")).alias("nt"),
    )
    row = per.agg(F.sum(F.col("ne") * F.col("nt")).alias("p")).collect()[0]
    return int(row["p"] or 0)


CANDIDATES = {
    "dedup_minhash_lsh": _cand_minhash,
    "sim_near_dup_pairs": _cand_near_dup,
    "dedup_span_stats_hashed": _cand_span,
    "sim_decontaminate": _cand_decontaminate,
}


def _row_checksum(df: DataFrame) -> int:
    """Order-insensitive: the sum of xxhash64 over all columns, which
    any differing row flips."""
    return int(df.agg(F.sum(F.xxhash64(*df.columns)).alias("h")).collect()[0]["h"])


def run_suite(spark, name: str, d: str, gen_s: float) -> dict:
    registry = load_all()

    def rep(entry: str, sf_dir: str = d) -> float:
        return timed_rep(spark, lambda: registry[entry].fn(spark, sf_dir))

    # min of 2: shared-box noise dominates a single rep
    timings = {n: round(min(rep(n), rep(n)), 3) for n in SUITES[name]}
    out = {"metric": "scale_suite_total_wall" if name == "sf1" else "scale10_suite_total_wall",
           "value": round(sum(timings.values()), 3), "unit": "sec", "queries": timings}
    if name == "sf10":
        counted = [n for n in SUITES[name] if n in COUNT_ROWS]
        for key, sf_dir in (("sf10", d), ("sf01", SRC_DIR)):
            out[f"out_rows_{key}"] = {n: registry[n].fn(spark, sf_dir).count() for n in counted}
        for key, sf_dir in (("sf10", d), ("sf01", SRC_DIR)):
            out[f"cand_pairs_{key}"] = {n: fn(spark, sf_dir) for n, fn in CANDIDATES.items()}
        out["dedup_span_stats_string_wall"] = round(rep("dedup_span_stats"), 3)
        out["span_stats_twins_identical_sf10"] = (
            _row_checksum(registry["dedup_span_stats"].fn(spark, d))
            == _row_checksum(registry["dedup_span_stats_hashed"].fn(spark, d)))
    out.update(sf=1.0 if name == "sf1" else 10.0, generate_sec=gen_s)
    return out


def run_streaming(spark, d: str, gen_s: float) -> list[dict]:
    """The ~sf10 streaming checks over the 10M-row events replica (32
    files, so many micro-batches), each against its batch twin:

    - stream_dedup_keys, the bounded dedup-state path
      (dropDuplicatesWithinWatermark through a real writeStream),
      against COUNT(DISTINCT user_id) per event type;
    - stream_session_windows, the session-window merge path, against
      gaps and islands with the operator's boundary rule (a new session
      iff the gap strictly exceeds 30 min, at microsecond resolution),
      equal on every (user, start, end, count)."""
    from pyspark.sql.window import Window as W

    registry = load_all()
    events = T(spark, d, "events")
    n_events = events.count()

    def timed_rows(entry: str) -> tuple[list, float]:
        t0 = time.perf_counter()
        rows = sorted(map(tuple, registry[entry].fn(spark, d).collect()))
        return rows, round(time.perf_counter() - t0, 3)

    got, wall = timed_rows("stream_dedup_keys")
    want = sorted(map(tuple, events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")).collect()))
    dedup = {"metric": "scale10_streaming_dedup_state", "query": "stream_dedup_keys",
             "events_rows": n_events, "wall_sec": wall, "matches_batch_distinct": got == want,
             "result_rows": len(got), "generate_sec": gen_s, "sf": 10.0}

    got, wall = timed_rows("stream_session_windows")
    # events.ts reads back TIMESTAMP_NTZ; the streaming entry casts it
    # to LTZ (session tz pinned to UTC, so value-faithful) before
    # session_window, and the twin casts the same way
    ev = events.withColumn("tsz", F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy("tsz", "event_id")
    us = F.unix_micros(F.col("tsz"))
    prev = F.lag(us).over(w)
    news = F.when(prev.isNull() | ((us - prev) > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = F.sum(news).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    batch = ev.select("user_id", "tsz", "event_id").withColumn("s", sess).groupBy(
        "user_id", "s").agg(
        F.min("tsz").cast("long").alias("session_start"),
        (F.max("tsz") + F.expr("INTERVAL 30 MINUTES")).cast("long").alias("session_end"),
        F.count("*").alias("n_events"),
    ).select("user_id", "session_start", "session_end", "n_events")
    want = sorted(map(tuple, batch.collect()))
    sessions = {"metric": "scale10_streaming_session_windows",
                "query": "stream_session_windows", "events_rows": n_events, "wall_sec": wall,
                "matches_batch_gaps_islands": got == want, "result_rows": len(got), "sf": 10.0}
    return [dedup, sessions]


# -- BASELINE shapes ------------------------------------------------------


class Shape(NamedTuple):
    rows: int  # full scale: input rows, per side for the joins
    phases: tuple[str, ...]  # one child process each, in this order
    heap: str  # child heap unless SPARK_GRAFT_DRIVER_MEMORY is set
    baseline: dict
    widths: tuple[int, ...] = (64,)  # bucket counts of the "bucketed" phase


# bench.py's join100 / agg100 / bucketed micro groups at other row
# counts, plus the global sort, the one shape bench.py has no twin of.
# DuckDB runs first: it exits fully before any JVM inflates a
# pre-touched heap (bench.py's order, for the same reason).
SHAPES = {
    # BASELINE.md's aggregation row is quoted at 1B rows: measure it at
    # its own scale with the control on the same cores instead of
    # extrapolating the 100M micro
    "groupby_1b": Shape(1_000_000_000, ("duckdb", "agg100"), "24g",
                        {"gpu_sec": 1.9, "duckdb_published_sec": 12.8}),
    # the 100M x 100M join a half-decade up, on all three planner paths
    "join_300m": Shape(300_000_000, ("duckdb", "join100", "bucketed"), "56g",
                       {"gpu_sec_100m": 3.2, "duckdb_cpu_sec_100m": 18.3}),
    # the GPU claim is a ratio (sort 5-8x over CPU): grade the Spark
    # sort against duckdb_control / 8 .. / 5
    "sort_100m": Shape(100_000_000, ("duckdb", "sort"), "32g",
                       {"gpu_vs_cpu_claim": "5-8x", "source": "PROJECT_SUMMARY.md:148"}),
    # a 100 TB layout runs 1024-4096+ buckets: write wall, join wall and
    # the zero-exchange zero-sort plan at every width
    "bucket_width": Shape(100_000_000, ("bucketed",), "24g", {}, (64, 1024, 4096)),
}
REPS = 4  # rep 1 may still pay lazy first-touch; the min is the number
CHILD_TIMEOUT = 1800
SORT_DUCKDB_SQL = (
    # preserve_insertion_order stays at its default so the ORDER BY is
    # honoured; the temp table is the cheapest consumption DuckDB
    # cannot optimize away (a memcpy-level tax against n log n)
    "CREATE OR REPLACE TEMP TABLE s AS "
    "SELECT hash(range) AS k FROM range({n}) ORDER BY k"
)


def shape_rows(shape: str) -> int:
    scale = float(os.environ.get("SPARK_GRAFT_MICRO_SCALE", "1.0"))
    return max(int(SHAPES[shape].rows * scale), 1000)


def control_sql(shape: str, n: int) -> str:
    sql = {"groupby_1b": bench.DUCKDB_GROUPBY_SQL, "join_300m": bench.DUCKDB_JOIN_SQL,
           "sort_100m": SORT_DUCKDB_SQL}[shape]
    return sql.format(n=n)


def frames(spark, shape: str, n: int) -> list[tuple[str, DataFrame]]:
    """(row name, DataFrame) of a shape's Spark phase at `n` rows."""
    if shape == "sort_100m":
        return [("spark_sort", spark.range(n, numPartitions=64).select(
            F.xxhash64("id").alias("k")).orderBy("k"))]
    ms = n / 100_000_000
    if shape == "groupby_1b":
        [(_, agg)] = bench._micro_frames(spark, "agg100", ms)
        return [("spark", agg)]
    (_, smj), (_, shj) = bench._micro_frames(spark, "join100", ms)
    return [("spark_default", smj), ("spark_shj", shj)]


def _duckdb_phase(shape: str, n: int) -> dict:
    import duckdb

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={CPUS}")
    if shape == "sort_100m":
        warm, after = control_sql(shape, n // 2), "DROP TABLE s"
    else:
        # count(*) results: no ordering to preserve; drops a pipeline break
        con.execute("SET preserve_insertion_order=false")
        warm, after = bench.DUCKDB_WARM_SQL.format(n=min(max(n // 10, 1000), 10_000_000)), None
    runs = []
    for sql in [warm] + [control_sql(shape, n)] * REPS:
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        runs.append(time.perf_counter() - t0)
        if after:
            con.execute(after)
    return {"duckdb_control": runs[1:]}


def _zero_exchange_zero_sort(spark) -> None:
    """The bucketed layout's guarantee: the bare join of two one-file-
    per-bucket sorted tables plans no Exchange and no Sort (the count's
    own final aggregate legitimately exchanges its partials)."""
    from gpu_olap_engine_spark.plans import plan_string

    conf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    spark.conf.set(conf, "true")
    try:
        plan = plan_string(
            spark.table("bench_ba").join(spark.table("bench_bb").hint("merge"), "k"), "simple")
    finally:
        spark.conf.unset(conf)
    if "Exchange" in plan or "Sort" in plan.replace("SortMergeJoin", ""):
        raise RuntimeError(f"bucketed join plans an Exchange or a Sort:\n{plan}")


def _spark_phase(shape: str, phase: str, n: int) -> dict:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", SHAPES[shape].heap)
    extra = {}
    if phase in ("join100", "sort"):
        # zstd shuffle blocks: sequential 64-bit keys compress ~3x, a
        # measured win on every shuffle-heavy shape (bench.py join100)
        extra["spark.io.compression.codec"] = "zstd"
    if phase == "join100":
        # bench.py's 96 initial partitions at 100M, scaled with the rows:
        # per-task sort state must stay constant as rows grow (at 300M,
        # 96 measured 34.9 s against 17.5 s at 288)
        extra["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] = str(
            max(1, round(96 * n / 100_000_000)))
    spark, warehouse = bench._mk_spark(CPUS, extra, pretouch=True)
    try:
        if phase == "sort":
            timed_rep(spark, lambda: frames(spark, shape, n // 2)[0][1])  # warm at half scale
        else:
            bench._warm(spark, phase, min(n // 2, 50_000_000))
        if phase == "bucketed":
            out = {}
            for width in SHAPES[shape].widths:
                for t in ("bench_ba", "bench_bb"):
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
                t0 = time.perf_counter()
                [(_, run)] = bench._bucketed_micros(spark, n / 100_000_000, math.inf, width)
                write_sec = time.perf_counter() - t0
                _zero_exchange_zero_sort(spark)
                out[f"spark_bucketed_{width}"] = [timed_rep(spark, run) for _ in range(REPS)]
                out[f"bucketed_write_sec_{width}"] = write_sec
            return out
        shape_frames = frames(spark, shape, n)
        runs = {name: [] for name, _ in shape_frames}
        for _ in range(REPS):  # interleaved: a contention spike hits one rep of each row
            for name, df in shape_frames:
                runs[name].append(timed_rep(spark, lambda df=df: df))
        return runs
    finally:
        with contextlib.suppress(Exception):  # the JVM may already be gone
            spark.stop()
        shutil.rmtree(warehouse, ignore_errors=True)


def run_phase(shape: str, phase: str) -> dict:
    n = shape_rows(shape)
    got = _duckdb_phase(shape, n) if phase == "duckdb" else _spark_phase(shape, phase, n)
    return {k: [round(x, 3) for x in v] if isinstance(v, list) else round(v, 1)
            for k, v in got.items()}


def _child(shape: str, phase: str) -> dict:
    """One phase in a fresh process: its own JVM, heap sized to the
    phase, crash isolation. The child gets its own process group, which
    is reaped afterwards, so a JVM (a grandchild) never outlives it."""
    proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), "phase", shape, phase],
                            stdout=subprocess.PIPE, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=CHILD_TIMEOUT)
    except subprocess.TimeoutExpired:
        return {f"{phase}_error": "timeout"}
    finally:
        with contextlib.suppress(OSError):
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    if proc.returncode:
        return {f"{phase}_error": f"rc {proc.returncode}"}
    return json.loads(stdout.decode().strip().splitlines()[-1])


def run_shape(shape: str) -> dict:
    out = {"metric": shape, "unit": "sec", "n": shape_rows(shape),
           "baseline": SHAPES[shape].baseline, "runs": {}}
    for phase in SHAPES[shape].phases:
        got = _child(shape, phase)
        out["runs"].update({k: v for k, v in got.items() if isinstance(v, list)})
        out.update({k: v for k, v in got.items() if not isinstance(v, list)})
    out["min"] = {k: min(v) for k, v in out["runs"].items()}
    return out


# -- main -----------------------------------------------------------------


def _session():
    from gpu_olap_engine_spark.config import EngineConfig
    from gpu_olap_engine_spark.session import get_spark

    # -Xlog:disable: JVM unified logging (GC warnings) writes to stdout
    # and would corrupt the one-line JSON output
    spark = get_spark(EngineConfig(extra_confs={"spark.driver.extraJavaOptions": "-Xlog:disable"}),
                      master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("build").add_argument("name", choices=list(RECIPES))
    suite = sub.add_parser("suite")
    suite.add_argument("name", choices=list(RECIPES))
    suite.add_argument("--keep", action="store_true", help="keep the fixture dir")
    sub.add_parser("streaming")
    sub.add_parser("shape").add_argument("shapes", nargs="+", choices=list(SHAPES))
    phase = sub.add_parser("phase")  # a shape's child process
    phase.add_argument("shape", choices=list(SHAPES))
    phase.add_argument("phase")
    args = ap.parse_args(argv)

    if args.cmd == "phase":
        print(json.dumps(run_phase(args.shape, args.phase)))
        return
    if args.cmd == "shape":
        for shape in args.shapes:
            print(json.dumps(run_shape(shape)), flush=True)
        return
    spark = _session()
    name = "sf10" if args.cmd == "streaming" else args.name
    d, gen_s = build(spark, name)
    if args.cmd == "build":
        rows = {t: spark.read.parquet(f"{d}/{t}.parquet").count() for t in TABLES}
        print(json.dumps({"metric": f"{name}_fixtures", "dir": d, "rows": rows,
                          "generate_sec": gen_s}))
    elif args.cmd == "streaming":
        for line in run_streaming(spark, d, gen_s):
            print(json.dumps(line))
    else:
        print(json.dumps(run_suite(spark, name, d, gen_s)))
    spark.stop()
    if args.cmd == "suite" and not args.keep:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
