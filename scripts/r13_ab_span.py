#!/usr/bin/env python3
"""In-process alternating A/B for the inherited (uncommitted) r13
changes: span_stats old-shape vs new-shape(+/-persist), and the
persist question for lines_keep_first / q143. Throwaway measurement
harness (same session shape as r13_isobench)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gpu_olap_engine_spark.config import EngineConfig  # noqa: E402
from gpu_olap_engine_spark.operators import dedup as D  # noqa: E402
from gpu_olap_engine_spark.queries import load_all  # noqa: E402
from gpu_olap_engine_spark.queries.tables import T, spread  # noqa: E402
from gpu_olap_engine_spark.session import get_spark  # noqa: E402

IDENTITY = lambda df: df  # noqa: E731
REAL_MEMO = getattr(D, '_persist_memo', lambda df: df.persist())


def old_span_stats(spark, sf_dir):
    """Pre-r13 (HEAD) shape: semi-join election + separate totals scan."""
    df = spread(T(spark, sf_dir, "documents"))
    k = 8
    base = df.select(
        F.col("doc_id").alias("id"), D.tokenize(F.col("text")).alias("w")
    )
    words = F.col("w")
    grams = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, k)),
        ),
    )
    g = base.select("id", F.explode(grams).alias("gram"))
    per = g.groupBy("id", "gram").agg(F.count("*").alias("occ"))
    dup = (
        per.groupBy("gram")
        .agg(F.sum("occ").alias("occ_total"))
        .filter(F.col("occ_total") >= 2)
        .select("gram")
    )
    dup_per_doc = (
        per.join(dup, "gram", "left_semi")
        .groupBy("id")
        .agg(F.sum("occ").alias("n_dup_spans"))
    )
    totals = base.select(
        "id",
        (F.size(words) - (k - 1)).cast("long").alias("n_spans"),
    ).filter(F.col("n_spans") >= 1)
    return (
        totals.join(dup_per_doc, "id", "left")
        .select(
            "id",
            "n_spans",
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias(
                "n_dup_spans"
            ),
            (
                F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("double")
                / F.col("n_spans")
            ).alias("dup_frac"),
        )
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(EngineConfig(), master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    registry["q03_join_agg_topk"].fn(spark, "/root/testdata/sf0.001").collect()

    def clear_caches() -> None:
        for df in list(D._SHINGLE_CACHE.values()):
            df.unpersist()
        D._SHINGLE_CACHE.clear()
        spark.catalog.clearCache()

    variants = [
        ("span_old", lambda: old_span_stats(spark, sf_dir), IDENTITY),
        ("span_new_noP", lambda: registry["dedup_span_stats"].fn(spark, sf_dir), IDENTITY),
        ("span_new_P", lambda: registry["dedup_span_stats"].fn(spark, sf_dir), REAL_MEMO),
        ("lines_noP", lambda: registry["dedup_lines_keep_first"].fn(spark, sf_dir), IDENTITY),
        ("lines_P", lambda: registry["dedup_lines_keep_first"].fn(spark, sf_dir), REAL_MEMO),
        ("q143_noP", lambda: registry["q143_mad_outliers"].fn(spark, sf_dir), IDENTITY),
        ("q143_P", lambda: registry["q143_mad_outliers"].fn(spark, sf_dir), REAL_MEMO),
    ]
    reps = int(os.environ.get("AB_REPS", "5"))
    runs: dict[str, list[float]] = {n: [] for n, _, _ in variants}
    for _rep in range(reps):
        for name, build, memo in variants:
            clear_caches()
            D._persist_memo = memo  # noqa: historical A/B hook
            spark.sparkContext.setJobDescription(f"ab:{name}")
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            runs[name].append(round(time.perf_counter() - t0, 3))
            D._persist_memo = REAL_MEMO
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({n: {"runs": r, "min": min(r)} for n, r in runs.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
