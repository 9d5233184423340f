"""``bi_sql``: interactive analyst traffic on the engine facade.

One client sends parameterized star-schema SQL (Q1/Q3/Q5/Q6-shaped,
top-k, count-distinct) through ``OlapEngine.execute_query`` and fetches
each result with ``QueryResult.to_arrow``. Every table is loaded with
``load_table`` and sits under ``cache_row_threshold``, so the working
set is in the engine's cache and per-query fixed costs (analysis,
planning, AQE jobs and tasks, the Arrow fetch) dominate. Operators and
sources do no work here.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq

from gpu_olap_engine_spark.engine import OlapEngine
from perfbench import gen
from tests.test_oracle import assert_frames_match

# A pass runs every template once (~0.6 s a query once warm on 3 cores,
# ~4 s a pass); the timed window is the number of passes nearest
# --seconds.
PASS_SECONDS = 4.0


def setup(ctx) -> dict:
    t = ctx.tracer
    with t.span("bench.generate"):
        tables = gen.star_tables(ctx.seed)
        ctx.star_dir = os.path.join(ctx.work, "star")
        os.makedirs(ctx.star_dir)
        for name, tbl in tables.items():
            pq.write_table(tbl, os.path.join(ctx.star_dir, f"{name}.parquet"))
    ctx.tables = list(tables)
    ctx.user_bytes = sum(tbl.nbytes for tbl in tables.values())
    ctx.engine = OlapEngine(ctx.config, spark=ctx.spark)
    for name in tables:
        with t.span("engine.load_table"):
            ctx.engine.load_table(name, os.path.join(ctx.star_dir, f"{name}.parquet"))
    for name in tables:  # caching is lazy: the first scan fills it
        with t.span("engine.cache_fill"):
            ctx.engine.execute_query(f"SELECT COUNT(*) AS n FROM {name}").to_arrow()
    passes = max(1, round(ctx.seconds / PASS_SECONDS))
    ctx.results = []
    return gen.bi_ops(
        ctx.seed, {"warm": 1, "timed": passes, "reference": passes if ctx.trace else 0})


def run_op(ctx, op) -> None:
    name, sql = op
    t = ctx.tracer
    if not t.enabled:
        ctx.results.append((name, sql, ctx.engine.execute_query(sql).to_arrow()))
        return
    sc = ctx.spark.sparkContext
    group = f"perfbench-{len(ctx.results)}"
    sc.setJobGroup(group, name)
    with t.span("engine.execute_query"):  # parse + analysis
        qr = ctx.engine.execute_query(sql)
    with t.span("engine.plan"):  # optimization + physical planning
        qr.df._jdf.queryExecution().executedPlan()
    with t.span("engine.to_arrow"):  # execution + the Arrow fetch
        res = qr.to_arrow()
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = tracker.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    t.count("engine.jobs", len(jobs))
    t.count("engine.tasks", tasks)
    t.count("engine.result_rows", res.num_rows)
    ctx.results.append((name, sql, res))


def check(ctx) -> int:
    """Run each distinct SQL the windows ran on DuckDB over the same
    parquet and compare exactly (the oracle comparator of the test
    suite). Returns the number of mismatched queries."""
    duck = duckdb.connect()
    for name in ctx.tables:
        path = os.path.join(ctx.star_dir, f"{name}.parquet")
        duck.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    bad = 0
    for name, sql, res in ctx.results:
        try:
            assert_frames_match(res.to_pandas(), duck.sql(sql).df(), name)
        except AssertionError as e:
            print(f"bi_sql check failed: {e}", flush=True)
            bad += 1
    duck.close()
    return bad


def bytes_per_user_byte(ctx) -> float:
    """Bytes the engine's cache holds (memory + disk) per Arrow byte of
    the tables it caches."""
    infos = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
    held = sum(i.memSize() + i.diskSize() for i in infos)
    return held / ctx.user_bytes


def layer_metrics(ctx, window) -> dict:
    t = ctx.tracer
    n = max(t.n("engine.to_arrow"), 1)
    return {
        "engine.load_table_s": t.total("engine.load_table"),
        "engine.cache_fill_s": t.total("engine.cache_fill"),
        "engine.execute_query_s": t.total("engine.execute_query") / n,
        "engine.plan_s": t.total("engine.plan") / n,
        "engine.to_arrow_s": t.total("engine.to_arrow") / n,
        "engine.jobs_per_query": t.counts["engine.jobs"] / n,
        "engine.tasks_per_query": t.counts["engine.tasks"] / n,
        "engine.result_rows": t.counts["engine.result_rows"] / n,
    }
