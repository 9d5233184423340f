"""Benchmark entry point.

    python3 perfbench/run.py --workload bi_sql --seed 1 --seconds 14 --trace 0

Run from the repository root. One fresh process per run: it starts a
Spark session with the engine's shipped ``EngineConfig`` defaults except
the core count and driver heap (sized for a 4-core, 15 GiB machine),
makes the workload's inputs from ``--seed``, sets up and warms once,
times a fixed op sequence whose length follows ``--seconds``, checks
every output, and prints one JSON result as the last line of stdout.
With ``--trace 1`` it prints the per-layer metrics instead of the
end-to-end ones. Everything it writes stays under ``.perfbench/`` in
the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import highest_percentile, kind_median_geomean, median  # noqa: E402
from perfbench.trace import ProcCpu, Tracer, descendants  # noqa: E402

SPARK_CORES = 3  # below nproc (4): leave a core for the driver and the OS
DRIVER_MEMORY = "3g"  # the 24g default does not fit a 15 GiB machine
WORKLOADS = ("bi_sql", "curation_lakehouse")

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_geomean_s": "s",
    "bytes_per_user_byte": "B/B",
}
PER_LAYER = {
    "session.start_s": "s",
    "engine.load_table_s": "s",
    "engine.cache_fill_s": "s",
    "engine.execute_query_s": "s",
    "engine.plan_s": "s",
    "engine.to_arrow_s": "s",
    "engine.jobs_per_query": "count",
    "engine.tasks_per_query": "count",
    "engine.result_rows": "count",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.text.quality_s": "s",
    "operators.similarity.near_dup_s": "s",
    "operators.dedup.lsh_candidates": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.lsh_precision": "ratio",
    "operators.dedup.planted_recall": "ratio",
    "sources.append_s": "s",
    "sources.merge_s": "s",
    "sources.delete_s": "s",
    "sources.compact_s": "s",
    "sources.merge_files_rewritten": "count",
    "sources.bytes_written": "B",
    "sources.read_snapshot_s": "s",
    "sources.read_action_s": "s",
    "sources.prune_kept_ratio": "ratio",
    "sources.snapshot_files": "count",
    "sources.commit_p50_s": "s",
    "sources.read_p50_s": "s",
    "cpu.jvm_s": "s",
    "cpu.python_workers_s": "s",
    "self.bench_s": "s",
    "self.engine_s": "s",
    "self.operators_s": "s",
    "self.sources_s": "s",
    "trace.throughput_per_s": "1/s",
    "trace.throughput_ratio": "ratio",
}


class Ctx:
    """What a workload needs: the session, its work directory, the
    tracer and the run's seed and length."""

    def __init__(self, args, work: str, tracer, spark, config, cpu):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = tracer
        self.spark = spark
        self.config = config
        self.cpu = cpu


def _window(ctx: Ctx, wl, ops: list, traced: bool) -> dict:
    """Run ``ops`` back to back (one client, closed loop). Returns
    latencies of the ops that succeeded, failures, wall time and the
    JVM / Python-worker CPU the window used."""
    tracer = ctx.tracer
    was = tracer.enabled
    tracer.enabled = traced
    lat: list[tuple[str, float]] = []
    failed = 0
    cpu0 = ctx.cpu.sample()
    t_start = time.perf_counter()
    for i, op in enumerate(ops):
        tracer.op = i
        t0 = time.perf_counter()
        try:
            with tracer.span("bench.op"):
                wl.run_op(ctx, op)
        except Exception:  # a failed op counts against attempted; keep going
            traceback.print_exc(file=sys.stderr)
            failed += 1
            continue
        lat.append((op[0], time.perf_counter() - t0))
    wall = time.perf_counter() - t_start
    cpu1 = ctx.cpu.sample()
    tracer.op = None
    tracer.enabled = was
    return {"lat": lat, "failed": failed, "attempted": len(ops), "wall": wall,
            "jvm_s": cpu1[0] - cpu0[0], "workers_s": cpu1[1] - cpu0[1]}


def _start_session(work: str):
    from gpu_olap_engine_spark.config import EngineConfig
    from gpu_olap_engine_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    config = EngineConfig(
        driver_memory=DRIVER_MEMORY,
        extra_confs={  # where Spark may write: inside the work directory
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark = get_spark(config, app_name="perfbench", master=f"local[{SPARK_CORES}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, config


def _stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every worker has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF
        try:
            gateway.proc.wait(timeout=60)
        except Exception:
            gateway.proc.kill()
            gateway.proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import gpu_olap_engine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}", file=sys.stderr)
        return 2

    if args.workload == "bi_sql":
        from perfbench import bi_sql as wl
    else:
        from perfbench import curation_lakehouse as wl

    work = os.path.join(os.getcwd(), ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Spark's Python workers import the engine package, and every temp
    # file lands in the work directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = (  # the JVM that builds the driver's command
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")

    tracer = Tracer(enabled=bool(args.trace))
    spark = result = None
    t_setup = time.perf_counter()
    try:
        with tracer.span("session.start"):
            spark, config = _start_session(work)
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        ctx = Ctx(args, work, tracer, spark, config, ProcCpu(jvm_pid))
        phases = wl.setup(ctx)
        warm_w = _window(ctx, wl, phases["warm"], traced=False)
        setup_s = time.perf_counter() - t_setup

        main_w = _window(ctx, wl, phases["timed"], traced=ctx.trace)
        # The traced run also times an untraced window of the same
        # length after it; it runs on a warmer JVM, so the ratio
        # overstates what tracing costs.
        ref_w = _window(ctx, wl, phases["reference"], traced=False) if ctx.trace else None
        failed_checks = wl.check(ctx)
        result = _result(ctx, wl, setup_s, [warm_w, main_w, ref_w], failed_checks)
    except Exception:
        traceback.print_exc(file=sys.stderr)
    finally:
        if spark is not None:
            _stop_session(spark)
        if args.trace:
            tracer.dump(os.path.join(os.getcwd(), ".perfbench", "traces",
                                     f"{args.workload}-seed{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


def _result(ctx, wl, setup_s, windows, failed_checks) -> dict:
    main_w, ref_w = windows[1], windows[2]
    windows = [w for w in windows if w]
    attempted = sum(w["attempted"] for w in windows)
    failed = sum(w["failed"] for w in windows) + failed_checks
    n_ok = len(main_w["lat"])
    thr = n_ok / main_w["wall"]
    _diagnostics(main_w)
    if not ctx.trace:
        values = {
            "setup_s": setup_s,
            "throughput_per_s": thr,
            "latency_p50_geomean_s": _geomean(main_w["lat"]),
            "bytes_per_user_byte": wl.bytes_per_user_byte(ctx),
        }
        units = END_TO_END
    else:
        values = dict.fromkeys(PER_LAYER, 0.0)
        t = ctx.tracer
        values["session.start_s"] = t.total("session.start")
        values.update(wl.layer_metrics(ctx, main_w))
        per_op = max(n_ok, 1)
        values["cpu.jvm_s"] = main_w["jvm_s"] / per_op
        values["cpu.python_workers_s"] = main_w["workers_s"] / per_op
        for layer, secs in t.layer_self_times().items():
            if f"self.{layer}_s" in values:
                values[f"self.{layer}_s"] = secs / per_op
        values["trace.throughput_per_s"] = thr
        ref_thr = len(ref_w["lat"]) / ref_w["wall"]
        values["trace.throughput_ratio"] = thr / ref_thr if ref_thr else 0.0
        units = PER_LAYER
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def _geomean(lat):
    return kind_median_geomean(lat) if lat else 0.0  # every op failed


def _diagnostics(w) -> None:
    """Human-readable lines before the result: sample count, the
    highest percentile the sample supports, CPU per op, and each op
    kind's median latency."""
    lat = [s for _, s in w["lat"]]
    tail = highest_percentile(lat)
    tail_txt = (f"p{tail[0] * 100:g}={tail[1]:.3f}s" if tail
                else "no percentile above p50 has 10 samples beyond")
    n = max(len(lat), 1)
    print(f"window: {len(lat)} ok of {w['attempted']} ops in {w['wall']:.2f}s; {tail_txt}; "
          f"cpu/op jvm={w['jvm_s'] / n:.3f}s python_workers={w['workers_s'] / n:.3f}s")
    by_kind: dict[str, list[float]] = {}
    for kind, secs in w["lat"]:
        by_kind.setdefault(kind, []).append(secs)
    print("kind medians: " + " ".join(
        f"{k}={median(v):.3f}s(n={len(v)})" for k, v in by_kind.items()))


if __name__ == "__main__":
    sys.exit(main())
