#!/usr/bin/env python3
"""Paired, interleaved A/B of two git checkouts of the engine.

    python3 scripts/ab.py --old-ref REF [--new-ref REF] [--pairs N]
        [--sf-dir DIR] TARGET [TARGET ...]

An arm is a checkout: ``--old-ref``, and ``--new-ref`` when given,
each become a temporary ``git worktree``; without ``--new-ref`` the new
arm is the working tree, uncommitted edits included. A change is thus
measured as it ships, however many modules it touches.

A TARGET is one of:

- a registry name. Each arm runs in its own long-lived worker process
  that imports ``gpu_olap_engine_spark`` from its checkout (checked in
  it and in one of Spark's Python workers) and starts Spark with the
  benchmark's core count and heap. Each arm warms every target once.
  Then, untimed, both arms' collected results must have the same
  order-insensitive digest, and each arm's formatted plan is written to
  ``.ab/<arm>/<name>.txt``. Then come ``--pairs`` pairs, alternating
  which arm runs first; a rep (``timed_rep``) is ``gc.collect()``,
  ``clearCache()`` and a ``noop``-sink write of
  ``registry[name].fn(spark, sf_dir)``.
- ``perfbench:<workload>``. The arms alternate runs of their own
  ``perfbench/run.py`` with seeds 1..N and BENCHMARK.json's
  ``run_seconds``.

Verdict, per metric: the new arm gains when it wins at least 9 of 10
pairs (ties count for neither arm) and its median beats the old arm's
by more than the old arm's Q3 - Q1. In perfbench mode every end-to-end
metric is also checked against its BENCHMARK.json bound, and the share
of failed ops may not grow.

Prints one JSON record as the last line of stdout. Exits 1 when an arm
fails, an identity check fails or a perfbench run reports
``correct: false``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import multiprocessing
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.run import DRIVER_MEMORY, SPARK_CORES  # noqa: E402
from perfbench.stats import median  # noqa: E402

ARMS = ("old", "new")
PERFBENCH = "perfbench:"


# -- verdict ------------------------------------------------------------


def verdict(old: list[float], new: list[float], better: str) -> dict:
    """The module docstring's rule; pair i is (old[i], new[i]), and the
    quartiles are the ones perfbench.stats uses."""
    sign = 1 if better == "higher" else -1
    diffs = [sign * (n - o) for o, n in zip(old, new, strict=True)]
    wins = sum(d > 0 for d in diffs)
    losses = sum(d < 0 for d in diffs)
    gain = sign * (median(new) - median(old))
    q1, _, q3 = statistics.quantiles(old, n=4)
    return {
        "better": better,
        "old": _summary(old),
        "new": _summary(new),
        "wins": wins,
        "losses": losses,
        "ties": len(diffs) - wins - losses,
        "median_gain": _r(gain),
        "parent_iqr": _r(q3 - q1),
        "gain": wins * 10 >= 9 * len(diffs) and gain > q3 - q1,
    }


def within_bound(old: list[float], new: list[float], better: str, bound: float) -> bool:
    """The new median is no worse than the old one by more than
    ``bound``, relative to the old median."""
    sign = 1 if better == "higher" else -1
    worse = sign * (median(old) - median(new))
    return worse <= bound * abs(median(old))


def _summary(xs: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return {"median": _r(median(xs)), "q1": _r(q1), "q3": _r(q3),
            "runs": [_r(x) for x in xs]}


def _r(x: float) -> float:
    return round(x, 4)


# -- the timing rep -----------------------------------------------------


def timed_rep(spark, run) -> float:
    """Seconds of one timed rep, the rep of every timing here and in
    scripts/scale.py. Untimed: ``gc.collect()`` releases the previous
    result's query-scoped persists and ``clearCache()`` drops anything
    left cached, so each rep pays its own builds. Timed: ``run()``,
    which builds the plan (a registry entry's construction is part of
    its cost) and returns a DataFrame, written to the ``noop`` sink; or
    runs its own action and returns None."""
    gc.collect()
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    df = run()
    if df is not None:
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# -- identity and plans -------------------------------------------------


def _canon(v):
    """A value with every container in a fixed form: rows keep their
    field names and arrays their order; map entries are sorted."""
    if hasattr(v, "__fields__"):  # pyspark Row
        return tuple((k, _canon(x)) for k, x in zip(v.__fields__, v))
    if isinstance(v, dict):
        return tuple(sorted(((_canon(k), _canon(x)) for k, x in v.items()), key=repr))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def digest(rows) -> str:
    """Order-insensitive digest of a collected result: the hash of the
    sorted per-row hashes, so duplicate rows count."""
    hashes = sorted(hashlib.sha256(repr(_canon(r)).encode()).hexdigest() for r in rows)
    return hashlib.sha256("\n".join(hashes).encode()).hexdigest()


_IDS = re.compile(r"#\d+|(?<=plan_id=)\d+")


def plans_equal(a: str, b: str) -> bool:
    """Two explain strings are the same plan once the numbers of
    expression ids (``#<id>``) and exchange ids (``plan_id=<id>``), which
    count what the session built before, are stripped."""
    return _IDS.sub("", a) == _IDS.sub("", b)


# -- arms ---------------------------------------------------------------


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout.strip()


@contextlib.contextmanager
def checkouts(old_ref: str, new_ref: str | None, base: str):
    """{arm: (checkout dir, commit)}. Each ref becomes a detached
    worktree under ``base``, removed on exit; no ``new_ref`` means the
    working tree itself."""
    made = []
    try:
        arms = {}
        for arm, ref in (("old", old_ref), ("new", new_ref)):
            if ref is None:
                arms[arm] = (ROOT, "working tree")
                continue
            commit = _git("rev-parse", "--verify", f"{ref}^{{commit}}")
            path = os.path.join(base, arm)
            _git("worktree", "add", "--detach", path, commit)
            made.append(path)
            arms[arm] = (path, commit)
        yield arms
    finally:
        for path in made:
            _git("worktree", "remove", "--force", path)


class ArmFailed(Exception):
    def __init__(self, arm: str, what: str, trace: str):
        super().__init__(f"{arm} arm failed at {what}")
        self.record = {"arm": arm, "at": what, "trace": trace[-4000:]}


# -- registry mode ------------------------------------------------------


def _worker(checkout: str, sf_dir: str, scratch: str, conn) -> None:
    """One arm's Spark session, driven over ``conn``: each request is
    (op, name), each reply ("ok", value) or ("err", traceback)."""
    try:
        # this process and Spark's Python workers (started in this cwd,
        # with this PYTHONPATH) import the engine from the checkout
        os.chdir(checkout)
        os.environ["PYTHONPATH"] = checkout
        sys.path.insert(0, checkout)
        import gpu_olap_engine_spark
        from gpu_olap_engine_spark.config import EngineConfig
        from gpu_olap_engine_spark.plans import plan_string
        from gpu_olap_engine_spark.queries import load_all
        from gpu_olap_engine_spark.session import get_spark

        pkg = os.path.join(checkout, "gpu_olap_engine_spark")
        if os.path.dirname(gpu_olap_engine_spark.__file__) != pkg:
            raise RuntimeError(f"the worker imports {gpu_olap_engine_spark.__file__}, not {pkg}")
        spark = get_spark(
            EngineConfig(
                driver_memory=DRIVER_MEMORY,
                extra_confs={
                    # live SQL-tab state accumulates across reps and
                    # shows up as drift within the session
                    "spark.ui.enabled": "false",
                    "spark.sql.ui.retainedExecutions": "4",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": os.path.join(scratch, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
                },
            ),
            app_name="ab",
            master=f"local[{SPARK_CORES}]",
        )
        spark.sparkContext.setLogLevel("ERROR")
        remote = spark.sparkContext.parallelize([0], 1).map(
            lambda _: __import__("gpu_olap_engine_spark").__file__).collect()[0]
        if os.path.dirname(remote) != pkg:
            raise RuntimeError(f"Spark's Python workers import {remote}, not {pkg}")
        registry = load_all()
    except Exception:
        conn.send(("err", traceback.format_exc()))
        return

    def run(name: str):
        return registry[name].fn(spark, sf_dir)

    def ident(name: str) -> dict:
        rows = run(name).collect()
        return {"digest": digest(rows), "rows": len(rows)}

    ops = {"time": lambda name: timed_rep(spark, lambda: run(name)),
           "plan": lambda name: plan_string(run(name)), "identity": ident}
    conn.send(("ok", None))
    while True:
        op, name = conn.recv()
        if op == "stop":
            break
        # release the previous result's query-scoped persists now, not
        # when the cyclic collector fires in the middle of this build
        gc.collect()
        try:
            conn.send(("ok", ops[op](name)))
        except Exception:
            conn.send(("err", traceback.format_exc()))
    spark.stop()  # the JVM exits when this process closes its stdin


class Worker:
    def __init__(self, arm: str, checkout: str, sf_dir: str, scratch: str):
        ctx = multiprocessing.get_context("spawn")
        self.arm = arm
        self.conn, child = ctx.Pipe()
        self.proc = ctx.Process(target=_worker, daemon=True,
                                args=(checkout, sf_dir, scratch, child))
        self.proc.start()
        child.close()

    def call(self, op: str, name: str):
        self.conn.send((op, name))
        return self.reply(f"{op} {name}")

    def reply(self, what: str):
        try:
            status, value = self.conn.recv()
        except EOFError:
            raise ArmFailed(self.arm, what, "worker exited") from None
        if status == "err":
            raise ArmFailed(self.arm, what, value)
        return value

    def stop(self) -> None:
        with contextlib.suppress(OSError):
            self.conn.send(("stop", None))
        self.proc.join(timeout=120)
        if self.proc.is_alive():
            self.proc.kill()
            self.proc.join()


def _log(msg: str) -> None:
    print(f"ab: {msg}", file=sys.stderr, flush=True)


def registry_ab(arms: dict, names: list[str], pairs: int, sf_dir: str,
                scratch: str, out: dict) -> bool:
    """Fills ``out`` with a record per name; returns whether every
    identity held. Raises ArmFailed when an arm fails."""
    plan_dir = os.path.join(ROOT, ".ab")
    workers = {arm: Worker(arm, arms[arm][0], sf_dir, os.path.join(scratch, f"spark-{arm}"))
               for arm in ARMS}
    try:
        for w in workers.values():
            w.reply("start")
        for name in names:  # warm: one rep per arm, time discarded
            for w in workers.values():
                w.call("time", name)
        for name in names:
            plans = {}
            for arm, w in workers.items():
                plans[arm] = w.call("plan", name)
                path = os.path.join(plan_dir, arm, f"{name}.txt")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "w") as f:
                    f.write(plans[arm])
            got = {arm: w.call("identity", name) for arm, w in workers.items()}
            out[name] = {
                "identity": "ok" if got["old"] == got["new"] else "differs",
                "rows": {arm: g["rows"] for arm, g in got.items()},
                "plans_equal": plans_equal(plans["old"], plans["new"]),
            }
            _log(f"{name}: identity {out[name]['identity']}, plans "
                 f"{'equal' if out[name]['plans_equal'] else 'differ'}")
        timed = [n for n in names if out[n]["identity"] == "ok"]
        runs = {n: {arm: [] for arm in ARMS} for n in timed}
        for i in range(pairs):
            order = ARMS if i % 2 == 0 else ARMS[::-1]
            for name in timed:
                for arm in order:
                    runs[name][arm].append(workers[arm].call("time", name))
            _log(f"pair {i + 1}/{pairs} done")
        for name in timed:
            out[name]["seconds"] = verdict(runs[name]["old"], runs[name]["new"], "lower")
    finally:
        for w in workers.values():
            w.stop()
    return len(timed) == len(names)


# -- perfbench mode -----------------------------------------------------


def _perfbench_run(arm: str, checkout: str, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        raise ArmFailed(arm, f"{workload} seed {seed}", f"exit {p.returncode}\n{p.stderr}")
    return json.loads(p.stdout.splitlines()[-1])


def perfbench_ab(arms: dict, workload: str, pairs: int, out: dict) -> bool:
    """Fills ``out`` with a record of every end-to-end metric; returns
    whether every run reported ``correct: true``. Raises ArmFailed when
    a run fails."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = {arm: [] for arm in ARMS}
    for seed in range(1, pairs + 1):
        order = ARMS if seed % 2 else ARMS[::-1]
        for arm in order:
            runs[arm].append(_perfbench_run(arm, arms[arm][0], workload, seed,
                                            bench["run_seconds"]))
        _log(f"{workload}: pair {seed}/{pairs} done")
    out["metrics"] = {}
    for m in bench["end_to_end"]:
        old, new = ([r["metrics"][m["name"]]["value"] for r in runs[arm]] for arm in ARMS)
        v = verdict(old, new, m["better"])
        v["bound"] = m["bound"]
        v["within_bound"] = within_bound(old, new, m["better"], m["bound"])
        out["metrics"][m["name"]] = v
    share = {arm: sum(r["failed"] for r in rs) / max(sum(r["attempted"] for r in rs), 1)
             for arm, rs in runs.items()}
    out["failed_share"] = share
    out["failed_share_ok"] = share["new"] <= share["old"]
    out["correct"] = {arm: all(r["correct"] for r in rs) for arm, rs in runs.items()}
    return all(out["correct"].values())


# -- main ---------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--old-ref", required=True, help="git ref of the old arm")
    ap.add_argument("--new-ref", help="git ref of the new arm (default: the working tree)")
    ap.add_argument("--pairs", type=int, default=10, help="timed pairs (default 10)")
    ap.add_argument("--sf-dir", help="fixture directory the registry entries read")
    ap.add_argument("targets", nargs="+", metavar="TARGET",
                    help="registry name or perfbench:<workload>")
    args = ap.parse_args(argv)
    names = [t for t in args.targets if not t.startswith(PERFBENCH)]
    workloads = [t[len(PERFBENCH):] for t in args.targets if t.startswith(PERFBENCH)]
    if args.pairs < 2:
        ap.error("--pairs must be at least 2 (quartiles need two runs)")
    if names and not args.sf_dir:
        ap.error("registry targets need --sf-dir")
    sf_dir = args.sf_dir and os.path.abspath(args.sf_dir)  # workers run in their checkout

    record = {"old_ref": args.old_ref, "new_ref": args.new_ref or "working tree",
              "pairs": args.pairs, "sf_dir": sf_dir, "targets": {}}
    ok = True
    scratch = tempfile.mkdtemp(prefix="ab-")
    try:
        with checkouts(args.old_ref, args.new_ref, scratch) as arms:
            record["commits"] = {arm: arms[arm][1] for arm in ARMS}
            if names:
                ok &= registry_ab(arms, names, args.pairs, sf_dir, scratch,
                                  record["targets"])
            for w in workloads:
                ok &= perfbench_ab(arms, w, args.pairs,
                                   record["targets"].setdefault(PERFBENCH + w, {}))
    except ArmFailed as e:
        record["error"] = e.record
        ok = False
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(record))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
