#!/usr/bin/env python3
"""Isolated per-query timing for the optimization round (guide §1).

Usage: python scripts/r13_isobench.py [-n REPS] name [name ...]

Runs each named registry query REPS times (default 5) through the
noop sink in ONE bench-parent-shaped session (same confs, same
master, same warmup as bench.py's headline phase), interleaving reps
across the named queries so a contention spike cannot sink one
query's whole sequence. Prints one JSON line:
{"queries": {name: {"runs": [...], "min": m}}, "cpus": ...}

This is a measurement harness only — the recorded artifact stays
bench.py; this exists so before/after numbers in OPTIMIZATION_r13.md
are min-of-N instead of the bench's single-rep headline phase.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", "--reps", type=int, default=5)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from gpu_olap_engine_spark.config import EngineConfig
    from gpu_olap_engine_spark.queries import load_all
    from gpu_olap_engine_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # UI off, tiny execution retention — the same hygiene the bench
    # micro children use: live SQL-tab state (plan graphs x AQE
    # re-plans) accumulates across hundreds of reps and shows up as
    # within-session drift (rep 3 of everything slower than rep 1)
    spark = get_spark(
        EngineConfig(
            extra_confs={
                "spark.ui.enabled": "false",
                "spark.sql.ui.retainedExecutions": "4",
            }
        ),
        master=f"local[{cpus}]",
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    # same warmup the bench's headline phase runs
    registry["q03_join_agg_topk"].fn(spark, "/root/testdata/sf0.001").collect()

    def clear_caches() -> None:
        """Drop every cached relation so each rep computes from
        parquet, matching the driver bench's once-per-run cold
        execution (reps 2+ would otherwise read persisted
        intermediates and under-report)."""
        spark.catalog.clearCache()

    runs: dict[str, list[float]] = {n: [] for n in args.names}
    for _rep in range(args.reps):
        for name in args.names:
            clear_caches()
            spark.sparkContext.setJobDescription(f"iso:{name}")
            t0 = time.perf_counter()
            df = registry[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs[name].append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    out = {
        "queries": {
            n: {"runs": r, "min": min(r)} for n, r in runs.items()
        },
        "cpus": cpus,
        "sf_dir": sf_dir,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
