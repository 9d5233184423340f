#!/usr/bin/env python3
"""Paired A/B for the r14 _blocked_groups / gram_cross_pairs window
rewrite (one evaluation of the expensive keyed relation instead of
two/three — profiled in scripts/r14_prof_neardup.py): the OLD arm is
the pre-rewrite operators/similarity.py loaded verbatim from git
(`git show <ref>`), so both arms run the exact production bodies.
Entries: sim_near_dup_pairs, sim_semdedup, sim_decontaminate.
Identity asserted per entry before timing.

Usage: [OLD_REF=24015cf] [SPARK_GRAFT_SF_DIR=...] python3 scripts/r14_ab_blocked_groups.py [-n 5]
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gpu_olap_engine_spark.config import EngineConfig  # noqa: E402
from gpu_olap_engine_spark.operators import similarity as S_new  # noqa: E402
from gpu_olap_engine_spark.queries import load_all  # noqa: E402
from gpu_olap_engine_spark.queries.tables import T  # noqa: E402
from gpu_olap_engine_spark.session import get_spark  # noqa: E402


def load_old_module(ref: str):
    src = subprocess.run(
        ["git", "show", f"{ref}:gpu_olap_engine_spark/operators/similarity.py"],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout
    path = "/tmp/r14_similarity_old.py"
    with open(path, "w") as f:
        f.write(src)
    spec = importlib.util.spec_from_file_location("similarity_old", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def shapes(S, spark, sf_dir):
    emb = lambda: T(spark, sf_dir, "embeddings")  # noqa: E731

    def near_dup():
        return S.near_dup_pairs(emb(), threshold=0.45, block_m=10, dim=64)

    def semdedup():
        return S.semdedup(emb(), n_clusters=8, iters=3, threshold=0.45)

    def decontaminate():
        keyed = S._near_dup_keyed(emb(), "vec_id", "embedding", 10)
        train = keyed.filter(F.col("vid") % 7 != 0)
        ev = keyed.filter(F.col("vid") % 7 == 0)
        return (
            S.gram_cross_pairs(train, ev, threshold=0.45)
            .groupBy(F.col("id_big").alias("vec_id"))
            .agg(
                F.count("*").cast("long").alias("n_eval_hits"),
                F.max("cosine").alias("max_cosine"),
            )
        )

    return {
        "sim_near_dup_pairs": near_dup,
        "sim_semdedup": semdedup,
        "sim_decontaminate": decontaminate,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", "--reps", type=int, default=5)
    ap.add_argument("--entries", default=None)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    old_ref = os.environ.get("OLD_REF", "24015cf")
    S_old = load_old_module(old_ref)
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
    registry["q03_join_agg_topk"].fn(spark, "/root/testdata/sf0.001").collect()
    registry["sim_near_dup_pairs"].fn(
        spark, "/root/testdata/sf0.001"
    ).write.format("noop").mode("overwrite").save()

    new_shapes = shapes(S_new, spark, sf_dir)
    old_shapes = shapes(S_old, spark, sf_dir)
    names = (args.entries.split(",") if args.entries
             else list(new_shapes))

    for name in names:
        a, b = new_shapes[name](), old_shapes[name]()
        diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        assert diff == 0, f"{name}: identity diff_rows={diff}"
        print(f"identity ok: {name}", file=sys.stderr)

    out = {}
    for name in names:
        runs = {"new": [], "old": []}
        for _ in range(args.reps):
            for arm, sh in (("new", new_shapes), ("old", old_shapes)):
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(f"{name}:{arm}")
                t0 = time.perf_counter()
                sh[name]().write.format("noop").mode("overwrite").save()
                runs[arm].append(round(time.perf_counter() - t0, 3))
                spark.sparkContext.setJobDescription(None)
        out[name] = {
            "runs": runs,
            "min": {k: min(v) for k, v in runs.items()},
        }
        print(json.dumps({name: out[name]}))
    print(json.dumps({"sf_dir": sf_dir, "old_ref": old_ref, "all": {
        n: v["min"] for n, v in out.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
