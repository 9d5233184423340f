"""Join utilities for scale: skew salting and as-of composition.

AQE's skew-join handles most runtime skew (enabled by EngineConfig);
explicit salting is for the pathological case AQE cannot fix — a
single key so hot that even a split partition bottlenecks one
aggregation/build task. The reference has no notion of skew at all
(its radix partitioner scatters by hash and hopes,
join_kernels.cuh:45-76).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join a skew-heavy fact side against a replicable side.

    The skewed side gets a random salt in [0, salt); the small side is
    replicated salt times (explode of a literal range). The join key
    becomes (key, salt), splitting each hot key across `salt` tasks.
    For inner/left/semi/anti joins the result is identical to the
    plain join (each probe row carries exactly one salt and the
    replicated side holds every key at every salt, so per-row match
    existence is unchanged); right/full outer are rejected — unmatched
    rows of the replicated side would be emitted once per salt copy.
    Use when one side is small enough to replicate but too big (or the
    key too hot) to broadcast outright.
    """
    if how not in (
        "inner",
        "left",
        "left_outer",
        "leftouter",
        "left_semi",
        "leftsemi",
        "semi",
        "left_anti",
        "leftanti",
        "anti",
    ):
        raise ValueError(
            f"salted_join supports inner/left/semi/anti joins, got {how!r}: "
            "unmatched replicated-side rows would duplicate under "
            "right/full outer"
        )
    salted_fact = skewed.withColumn(
        "_salt", (F.rand(seed=42) * salt).cast("int")
    )
    replicated = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = salted_fact.join(replicated, [key, "_salt"], how)
    return out.drop("_salt")


def salted_aggregate(
    df: DataFrame,
    key: str,
    aggs: list[Column],
    partial_aggs: list[Column],
    salt: int = 16,
) -> DataFrame:
    """Two-phase aggregation with an explicit salt for hot keys:
    groupBy(key, salt) -> partial aggs -> groupBy(key) -> final aggs.

    `partial_aggs` run per (key, salt); `aggs` combine the partials
    (caller pairs them, e.g. partial COUNT -> final SUM). Spark's own
    partial aggregation usually makes this unnecessary — it exists for
    aggregates whose map-side combine collapses poorly (e.g.
    collect_set over a hot key).
    """
    salted = df.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
    partial = salted.groupBy(key, "_salt").agg(*partial_aggs)
    return partial.groupBy(key).agg(*aggs)


def merge_by_key(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    action_col: str | None = None,
) -> DataFrame:
    """MERGE INTO semantics as a pure DataFrame transform: one row per
    key from the union of both inputs — source values win where the
    key matches (WHEN MATCHED THEN UPDATE), source-only keys insert
    (WHEN NOT MATCHED THEN INSERT), target-only keys persist.

    Both inputs must share a schema. Output column set = input column
    set, plus `action_col` ('updated'/'inserted'/'kept') when asked.

    ONE full-outer shuffle join on the key — the same cost profile a
    table format's MERGE pays for its find-touched-files phase, minus
    the transaction log. At 100 TB: run it partition-wise against a
    bucketed target (zero-exchange on the target side) and write
    through a table format (sources.table_format.merge_into); this
    transform is the semantics layer its MERGE shares. The reference
    has no writes at all (parser.rs rejects non-SELECT).
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    cols = [c for c in target.columns if c not in keys]
    t = target.select(
        *keys,
        *[F.col(c).alias(f"__t_{c}") for c in cols],
        F.lit(1).alias("__t_present"),
    )
    s = source.select(
        *keys,
        *[F.col(c).alias(f"__s_{c}") for c in cols],
        F.lit(1).alias("__s_present"),
    )
    j = t.join(s, keys, "full_outer")
    matched = F.col("__s_present").isNotNull()
    target_present = F.col("__t_present").isNotNull()
    out = [
        *keys,
        *[
            F.coalesce(F.col(f"__s_{c}"), F.col(f"__t_{c}")).alias(c)
            for c in cols
        ],
    ]
    if action_col:
        out.append(
            F.when(matched & target_present, F.lit("updated"))
            .when(matched, F.lit("inserted"))
            .otherwise(F.lit("kept"))
            .alias(action_col)
        )
    return j.select(*out)


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    on: list[str],
    id_col: str = "id",
    start_col: str = "start",
    end_col: str = "end",
    bucket_width: int = 3_600_000_000,
) -> DataFrame:
    """Interval overlap join between two LARGE interval sets without a
    quadratic product: the genomics/session-analysis join
    (a.start <= b.end AND b.start <= a.end, equi on `on`).

    Scale shape: each interval explodes to the fixed-width buckets it
    touches (ceil(len/width)+1 rows — bounded when interval length
    is), candidates come from an EQUI-join on (on..., bucket), the
    true overlap predicate verifies candidates only, and the pair
    list dedups (an overlapping pair is found once per shared
    bucket). Pick `bucket_width` >= typical interval length so the
    explode factor stays ~2. A naive theta join is a per-key cross
    product — quadratic in events-per-key — and is exactly what this
    operator exists to avoid at 100 TB.

    Inputs must both carry `on` + id/start/end columns (int64
    microseconds or any integral unit). Output: on..., a_<id>,
    a_<start>, a_<end>, b_<id>, b_<start>, b_<end>.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    def prep(df: DataFrame, side: str) -> DataFrame:
        renamed = df.select(
            *on,
            F.col(id_col).alias(f"{side}_{id_col}"),
            F.col(start_col).alias(f"{side}_{start_col}"),
            F.col(end_col).alias(f"{side}_{end_col}"),
        )
        return renamed.withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col(f"{side}_{start_col}") / bucket_width),
                    F.floor(F.col(f"{side}_{end_col}") / bucket_width),
                )
            ),
        )
    cand = prep(a, "a").join(prep(b, "b"), [*on, "__bucket"])
    overlap = (F.col(f"a_{start_col}") <= F.col(f"b_{end_col}")) & (
        F.col(f"b_{start_col}") <= F.col(f"a_{end_col}")
    )
    return (
        cand.filter(overlap)
        .drop("__bucket")
        .dropDuplicates([*on, f"a_{id_col}", f"b_{id_col}"])
    )
