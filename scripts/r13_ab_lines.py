#!/usr/bin/env python3
"""In-process alternating A/B for line_dedup_keep_first shapes:
  cur_P     : persist(occ), 3 consumers (inherited uncommitted shape)
  arith_noP : n_segments computed arithmetically (no 3rd explode), no persist
  arith_P   : same + persist(occ) (2 consumers)
  win       : window-min election (one exchange on sk), arithmetic n_segments
plus q143 persist on/off at more reps."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from gpu_olap_engine_spark.config import EngineConfig  # noqa: E402
from gpu_olap_engine_spark.operators import dedup as D  # noqa: E402
from gpu_olap_engine_spark.queries import load_all  # noqa: E402
from gpu_olap_engine_spark.queries.tables import T, spread  # noqa: E402
from gpu_olap_engine_spark.session import get_spark  # noqa: E402

IDENTITY = lambda df: df  # noqa: E731
REAL_MEMO = getattr(D, '_persist_memo', lambda df: df.persist())
WIDTH = 5


def _occ(spark, sf_dir):
    df = spread(T(spark, sf_dir, "documents"))
    base_w = df.select(
        F.col("doc_id").alias("id"), D.tokenize(F.col("text")).alias("w")
    )
    words = F.col("w")
    n_seg = F.greatest(F.ceil(F.size(words) / WIDTH).cast("int"), F.lit(1))
    seg_arr = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * WIDTH + 1, WIDTH)),
    )
    occ = base_w.select("id", F.posexplode(seg_arr).alias("pos", "seg"))
    occ = occ.withColumn("ord_key", F.col("id") * 1_000_000 + F.col("pos"))
    occ = occ.withColumn("sk", F.col("seg"))
    base = df.select(
        F.col("doc_id").alias("id"),
        F.greatest(
            F.ceil(F.size(D.tokenize(F.col("text"))) / WIDTH).cast("int"),
            F.lit(1),
        ).cast("long").alias("n_segments"),
    )
    return occ, base


def _finish(base, kept_agg):
    return base.join(kept_agg, "id", "left").select(
        "id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.col("n_segments").cast("long").alias("n_segments"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_segments") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def _kept_agg(kept):
    return kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )


def lines_arith(spark, sf_dir, persist):
    occ, base = _occ(spark, sf_dir)
    if persist:
        occ = REAL_MEMO(occ)
    firsts = occ.groupBy("sk").agg(F.min("ord_key").alias("first_key"))
    kept = occ.join(firsts, "sk").filter(F.col("ord_key") == F.col("first_key"))
    return _finish(base, _kept_agg(kept))


def lines_win(spark, sf_dir):
    occ, base = _occ(spark, sf_dir)
    w = Window.partitionBy("sk")
    kept = occ.withColumn("first_key", F.min("ord_key").over(w)).filter(
        F.col("ord_key") == F.col("first_key")
    )
    return _finish(base, _kept_agg(kept))


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
        ("cur_P", lambda: registry["dedup_lines_keep_first"].fn(spark, sf_dir), REAL_MEMO),
        ("arith_noP", lambda: lines_arith(spark, sf_dir, False), IDENTITY),
        ("arith_P", lambda: lines_arith(spark, sf_dir, True), REAL_MEMO),
        ("win", lambda: lines_win(spark, sf_dir), IDENTITY),
        ("q143_noP", lambda: registry["q143_mad_outliers"].fn(spark, sf_dir), IDENTITY),
        ("q143_P", lambda: registry["q143_mad_outliers"].fn(spark, sf_dir), REAL_MEMO),
    ]
    reps = int(os.environ.get("AB_REPS", "6"))
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
    # cross-check: the variants must be row-identical to the current shape
    cur = registry["dedup_lines_keep_first"].fn(spark, sf_dir)
    for name, alt in [
        ("arith", lines_arith(spark, sf_dir, False)),
        ("win", lines_win(spark, sf_dir)),
    ]:
        diff = cur.exceptAll(alt).count() + alt.exceptAll(cur).count()
        print(f"identity {name}: diff_rows={diff}")
    spark.stop()


if __name__ == "__main__":
    main()
