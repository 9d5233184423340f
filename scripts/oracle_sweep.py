#!/usr/bin/env python3
"""Differential oracle sweep at an arbitrary scale factor.

tests/test_oracle.py pins the harness at sf0.01 (the driver's gate);
this script runs the SAME exact comparison (row count + column names +
bit-exact values, order-insensitive) at any fixture dir — the round
evidence that every registry entry stays green at sf0.1 and at the
~sf1 replica (`scripts/scale.py build sf1` generates it), not just
at the sampled scale.

Usage: python3 scripts/oracle_sweep.py [sf_dir] [-k substring]
           [--out summary.json] [--max-oracle-sec N]
Prints one line per query and a final JSON summary line.

--max-oracle-sec guards the sf1 runs: a DuckDB oracle that exceeds
the budget is interrupted and recorded as "oracle_slow" (with its
Spark row count) rather than silently skipped — the summary separates
those from real failures.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from gpu_olap_engine_spark.config import EngineConfig
from gpu_olap_engine_spark.queries import load_all
from gpu_olap_engine_spark.queries.tables import TABLES
from gpu_olap_engine_spark.session import get_spark


def _oracle_with_budget(duck, sql: str, limit_s: float | None):
    """Run the oracle, interrupting DuckDB if it exceeds the budget.
    Returns (df, timed_out)."""
    if not limit_s:
        return duck.sql(sql).df(), False
    done = threading.Event()
    fired = threading.Event()

    def watchdog():
        if not done.wait(limit_s):
            fired.set()
            duck.interrupt()

    th = threading.Thread(target=watchdog, daemon=True)
    th.start()
    try:
        return duck.sql(sql).df(), False
    except Exception:
        if fired.is_set():
            return None, True
        raise
    finally:
        done.set()
        th.join()


def _summarize(sf_dir: str, shuffle: int, results: dict[str, str]) -> dict:
    return {
        "sf_dir": sf_dir,
        "shuffle_partitions": shuffle,
        "pass": sum(1 for v in results.values() if v == "pass"),
        "fail": sum(1 for v in results.values() if v.startswith("FAIL")),
        "rows_only": sum(1 for v in results.values() if v == "rows_only"),
        "oracle_slow": [k for k, v in results.items() if v == "oracle_slow"],
        "failed": [k for k, v in results.items() if v.startswith("FAIL")],
    }


def main() -> None:
    argv = sys.argv[1:]

    def opt(name, default=None):
        if name in argv:
            return argv[argv.index(name) + 1]
        return default

    pat = opt("-k", "")
    out_path = opt("--out")
    max_oracle = float(opt("--max-oracle-sec", "0")) or None
    resume = opt("--resume")
    skip_vals = {
        opt(n)
        for n in ("-k", "--out", "--max-oracle-sec", "--resume")
        if opt(n)
    }
    args = [a for a in argv if not a.startswith("-") and a not in skip_vals]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    # SPARK_GRAFT_SHUFFLE: sweep under a different partition layout
    # (e.g. 3) to prove results are partition-count invariant.
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "16"))

    from tests.test_oracle import assert_frames_match  # reuse the exact comparator

    spark = get_spark(
        EngineConfig(
            shuffle_partitions=shuffle,
            extra_confs={"spark.driver.extraJavaOptions": "-Xlog:disable"},
        ),
        master=f"local[{cpus}]",
    )
    spark.sparkContext.setLogLevel("ERROR")
    duck = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single files; the sf1 replica's tables
        # are Spark-written DIRECTORIES of part files — glob those
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    registry = load_all()
    results: dict[str, str] = {}
    secs: dict[str, float] = {}
    # Spark-only wall per entry, separate from the DuckDB oracle's —
    # at sf10 the oracle often dominates the combined number, which
    # made `sec` useless for spotting ENGINE slowness at scale.
    spark_secs: dict[str, float] = {}
    if resume:
        # --resume prior.json: carry over completed verdicts from an
        # interrupted sweep (written by the per-entry flush) and only
        # run what it hadn't reached; FAILs are retried.
        with open(resume) as f:
            prior = json.load(f)
        for k, v in prior.get("status", {}).items():
            if not v.startswith("FAIL"):
                results[k] = v
                secs[k] = prior.get("sec", {}).get(k, 0.0)
                if k in prior.get("spark_sec", {}):
                    spark_secs[k] = prior["spark_sec"][k]
        print(f"resumed {len(results)} entries from {resume}", flush=True)
    for name in sorted(registry):
        if pat and pat not in name:
            continue
        if name in results:
            continue
        q = registry[name]
        t0 = time.perf_counter()
        try:
            spark_pdf = q.fn(spark, sf_dir).toPandas()
            spark_secs[name] = round(time.perf_counter() - t0, 1)
            if q.oracle is None:
                results[name] = "rows_only"
                status = f"rows_only ({len(spark_pdf)} rows)"
            else:
                duck_pdf, slow = _oracle_with_budget(duck, q.oracle, max_oracle)
                if slow:
                    results[name] = "oracle_slow"
                    status = (
                        f"oracle_slow (>{max_oracle:.0f}s; spark "
                        f"{len(spark_pdf)} rows ok)"
                    )
                else:
                    assert_frames_match(spark_pdf, duck_pdf, name)
                    results[name] = "pass"
                    status = f"pass ({len(spark_pdf)} rows)"
        except Exception as e:  # noqa: BLE001 - report and continue
            results[name] = f"FAIL: {e}"
            status = "FAIL"
            traceback.print_exc(limit=3)
        secs[name] = round(time.perf_counter() - t0, 1)
        sp = spark_secs.get(name)
        sp_note = f" spark={sp}s" if sp is not None else ""
        print(f"{name:40s} {status}  [{secs[name]}s{sp_note}]", flush=True)
        if out_path:
            # crash-resilient (same rule as bench.py's per-rep flush):
            # a multi-hour sf10 sweep that dies on entry 180 of 226
            # must not lose the 179 completed verdicts — rewrite the
            # summary after EVERY entry, marking it partial until the
            # loop completes.
            with open(out_path, "w") as f:
                json.dump(
                    {**_summarize(sf_dir, shuffle, results), "complete": False,
                     "status": results, "sec": secs, "spark_sec": spark_secs},
                    f, indent=1)

    summary = _summarize(sf_dir, shuffle, results)
    n_fail = summary["fail"]
    print(json.dumps(summary))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(
                {**summary, "complete": True, "status": results, "sec": secs,
                 "spark_sec": spark_secs},
                f, indent=1)
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
