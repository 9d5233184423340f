"""Event/time-series operators over the ``events`` fixture.

The reference is batch-only ("streaming" there means out-of-core
paging, README.md:12,340-352); these are the batch twins of the
Structured Streaming surface in ``gpu_olap_engine_spark.streaming`` —
same window/session/dedup semantics, oracle-checkable via DuckDB.

Timestamps: events.ts is a microsecond parquet timestamp without UTC
adjustment (TIMESTAMP_NTZ in Spark); both engines are normalized to
epoch MICROseconds (BIGINT) before any arithmetic, so bucket math is
pure integer ops and cross-engine deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gpu_olap_engine_spark.queries import register
from gpu_olap_engine_spark.queries.tables import T, dsum, o_dsum

# epoch-us helpers: Spark side casts ntz->tz under the session zone,
# which is pinned UTC; DuckDB reads the same parquet values naively.
_US = "epoch_us(CAST(ts AS TIMESTAMP))"


def _with_us(df: DataFrame) -> DataFrame:
    return df.withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))


@register(
    "q31_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k
    FROM events GROUP BY event_type
    """,
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the ``props`` column (semi-structured
    payloads — entirely outside the reference's int64-only kernel type
    system, arrow-interop/src/column_buffer.rs:24-47)."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(F.get_json_object("props", "$.k").cast("long"))
        .cast("long")
        .alias("sum_k"),
    )


@register(
    "q32_tumbling_window",
    oracle=f"""
    SELECT CAST(({_US} - ({_US} % 600000000)) / 1000000 AS BIGINT) AS bucket_start,
           event_type,
           COUNT(*) AS cnt,
           {o_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute event-time window (batch twin of
    streaming.windowed_counts). Implemented with F.window; the bucket
    key is emitted as epoch seconds so the oracle's integer bucket
    arithmetic matches exactly."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "10 minutes").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("cnt"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").cast("long").alias("bucket_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@register(
    "q33_sessionize",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_id, {_US} AS us,
               LAG({_US}) OVER (PARTITION BY user_id ORDER BY {_US}, event_id)
                   AS prev_us
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM seq
    ), sessions AS (
        SELECT user_id,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id
    """,
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap — the batch twin
    of a session window (F.session_window in streaming). Gap detection
    via LAG + running SUM: one shuffle on user_id, then a per-partition
    sort; scales to arbitrarily many users."""
    ev = _with_us(T(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn("session_id", F.sum("new_session").over(run))
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@register(
    "q50_hypertable_rollup",
    oracle=f"""
    SELECT CAST(({_US} - ({_US} % 3600000000)) / 1000000 AS BIGINT) AS hour_start,
           event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(floor(value * 10000) AS BIGINT)) AS DOUBLE)
               / 10000 AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascading rollup: minute-level partials
    aggregated once, then hour-level totals computed FROM the minute
    partials (counts and integer-quantized value sums compose
    exactly). At 100 TB the minute layer is a materialized continuous
    aggregate; coarser granularities reuse it instead of rescanning
    raw events — the oracle computes hours directly from raw rows and
    must match bit-for-bit."""
    ev = _with_us(T(spark, sf_dir, "events"))
    minute = (
        ev.groupBy(
            (F.col("us") - F.col("us") % 60_000_000).alias("minute_us"),
            "event_type",
        ).agg(
            F.count("*").alias("cnt"),
            # decimal partials: a pathological hot (bucket, type) can
            # outgrow int64 at corpus scale (q111's cliff class);
            # decimal partials still compose exactly across layers.
            F.sum(
                F.floor(F.col("value") * 10000).cast("decimal(20,0)")
            ).alias("qv"),
        )
    )
    return (
        minute.groupBy(
            ((F.col("minute_us") - F.col("minute_us") % 3_600_000_000) / 1_000_000)
            .cast("long")
            .alias("hour_start"),
            "event_type",
        )
        .agg(
            F.sum("cnt").cast("long").alias("cnt"),
            (F.sum("qv").cast("double") / 10000).alias("sum_value"),
        )
    )


@register(
    "q51_gapfill",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(min({_US} - ({_US} % 3600000000)) / 1000000 AS BIGINT) AS lo,
               CAST(max({_US} - ({_US} % 3600000000)) / 1000000 AS BIGINT) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, 3600)) AS hour_start FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (
        SELECT CAST(({_US} - ({_US} % 3600000000)) / 1000000 AS BIGINT)
                   AS hour_start,
               event_type, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    )
    SELECT s.hour_start, t.event_type,
           CAST(coalesce(a.c, 0) AS BIGINT) AS cnt
    FROM spine s CROSS JOIN types t
    LEFT JOIN actual a
      ON a.hour_start = s.hour_start AND a.event_type = t.event_type
    """,
)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: a dense (hour x event_type) spine built
    from sequence(), left-joined against actual counts, empty buckets
    filled with 0 — the densification step before windowed ML
    features. The spine generation is O(range), never a scan."""
    ev = _with_us(T(spark, sf_dir, "events"))
    hour = ((F.col("us") - F.col("us") % 3_600_000_000) / 1_000_000).cast("long")
    actual = ev.groupBy(hour.alias("hour_start"), "event_type").agg(
        F.count("*").alias("c")
    )
    bounds = ev.agg(
        F.min(hour).alias("lo"), F.max(hour).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("hour_start")
    )
    types = ev.select("event_type").distinct()
    return (
        spine.crossJoin(F.broadcast(types))
        .join(F.broadcast(actual), ["hour_start", "event_type"], "left")
        .select(
            "hour_start",
            "event_type",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("cnt"),
        )
    )


@register(
    "q34_asof_join",
    oracle=f"""
    WITH tagged AS (
        SELECT event_id, user_id, {_US} AS us,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_probe
        FROM events WHERE event_type IN ('view', 'purchase')
    ), carried AS (
        SELECT event_id, user_id, is_probe,
               LAST_VALUE(CASE WHEN is_probe = 0 THEN event_id END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY us, is_probe, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS matched_view_id
        FROM tagged
    )
    SELECT event_id AS purchase_id, user_id,
           CAST(matched_view_id AS DOUBLE) AS matched_view_id
    FROM carried WHERE is_probe = 1
    """,
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each 'purchase' matched to the user's latest
    'view' at-or-before it. Absent from the reference (only simple
    equi-joins, physical_plan.rs:235-248).

    Implemented union-style — tag both streams, single sort per user
    partition, carry the last build-side id forward — which is O(n log n)
    per partition with ONE shuffle, instead of the naive
    range-self-join that explodes quadratically at 100 TB. Ties
    (view.ts == purchase.ts) sort build-first, i.e. <= semantics."""
    ev = _with_us(
        T(spark, sf_dir, "events").filter(F.col("event_type").isin("view", "purchase"))
    )
    tagged = ev.withColumn(
        "is_probe", F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "is_probe", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "matched_view_id",
        F.last(
            F.when(F.col("is_probe") == 0, F.col("event_id")), ignorenulls=True
        ).over(w),
    )
    return carried.filter(F.col("is_probe") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        # nullable int -> double for unambiguous pandas conversion
        F.col("matched_view_id").cast("double").alias("matched_view_id"),
    )


@register(
    "q88_scd2_history",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_id, event_type, {_US} AS us,
               LEAD({_US}) OVER (
                   PARTITION BY user_id ORDER BY {_US}, event_id
               ) AS next_us
        FROM events WHERE user_id < 200
    )
    SELECT user_id, event_id, event_type,
           us AS eff_from_us,
           CAST(next_us AS DOUBLE) AS eff_to_us,
           CAST(CASE WHEN next_us IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_current
    FROM seq
    """,
)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC -> SCD type-2 history build: each per-user change event
    becomes a versioned dimension row with [eff_from, eff_to) validity
    and an is_current flag — the standard slowly-changing-dimension
    materialization a warehouse derives from a change stream. One
    window (single shuffle on user_id); at 100 TB the user_id
    partitioning is exactly the layout the downstream point-in-time
    join wants, so the shuffle is reused. eff_to is NULL (open) for
    the newest row per user; emitted as DOUBLE for unambiguous
    nullable transport (same convention as q34)."""
    ev = _with_us(T(spark, sf_dir, "events").filter(F.col("user_id") < 200))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    nxt = F.lead("us").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("us").alias("eff_from_us"),
        nxt.cast("double").alias("eff_to_us"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("long").alias("is_current"),
    )


@register(
    "q89_incremental_rollup_merge",
    oracle=f"""
    SELECT CAST(({_US} - ({_US} % 600000000)) / 1000000 AS BIGINT)
               AS bucket_start,
           event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(floor(value * 10000) AS BIGINT))
                AS DOUBLE) / 10000 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the event stream is
    split at a cutoff into a 'materialized' base and a 'new arrivals'
    delta, each rolled up independently to (10-min bucket, event_type)
    partials, then MERGED by re-aggregating the algebraic state
    (count-sum pairs add). The oracle computes the rollup directly over
    all events, so the check proves merge(partial(base), partial(delta))
    == full(all) bit-exactly — the invariant that lets a 100 TB rollup
    absorb a daily delta without rescanning history. Sums carry the
    quantized-integer representation (floor(value*1e4) int64) through
    the merge so partial+final addition is order-independent."""
    ev = _with_us(T(spark, sf_dir, "events"))
    bucket = ((F.col("us") - F.col("us") % 600_000_000) / 1_000_000).cast(
        "long"
    )
    # 2024-01-21 00:00 UTC in epoch microseconds (events span Jan 2024)
    cutoff_us = 1_705_795_200_000_000

    def partial(df):
        return df.groupBy(
            bucket.alias("bucket_start"), F.col("event_type")
        ).agg(
            F.count("*").alias("cnt"),
            # decimal partials (q111's cliff class): exact at any
            # group size AND still algebraic -- partial+final adds
            # the same exact integers in any order.
            F.sum(
                F.floor(F.col("value") * 10000).cast("decimal(20,0)")
            ).alias("s_i"),
        )

    base = partial(ev.filter(F.col("us") < cutoff_us))
    delta = partial(ev.filter(F.col("us") >= cutoff_us))
    return (
        base.unionByName(delta)
        .groupBy("bucket_start", "event_type")
        .agg(
            F.sum("cnt").alias("cnt"),
            (F.sum("s_i").cast("double") / 10000).alias("sum_value"),
        )
    )


@register(
    "q91_interval_overlap_join",
    oracle=f"""
    WITH e AS (
        SELECT event_id, user_id, event_type, {_US} AS us FROM events
    ),
    a AS (SELECT event_id, user_id, us AS s, us + 14400000000 AS e
          FROM e WHERE event_type = 'view'),
    b AS (SELECT event_id, user_id, us AS s, us + 14400000000 AS e
          FROM e WHERE event_type = 'purchase')
    SELECT a.user_id,
           a.event_id AS view_id,
           b.event_id AS purchase_id,
           least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
    FROM a JOIN b
      ON a.user_id = b.user_id AND a.s <= b.e AND b.s <= a.e
    """,
)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join (operators.joins.interval_overlap_join):
    view activity windows x purchase windows (4 h each) per user. The
    oracle states the semantics with the naive theta join — quadratic
    per user, fine at oracle scale; the Spark side runs the bucketed
    candidate path (explode to touched 4 h buckets, equi-join on
    (user, bucket), verify + dedup) that stays linear in true overlap
    density at 100 TB."""
    from gpu_olap_engine_spark.operators.joins import (  # noqa: PLC0415
        interval_overlap_join,
    )

    iv = 14_400_000_000  # 4 h in microseconds
    ev = _with_us(T(spark, sf_dir, "events"))
    mk = lambda typ: ev.filter(F.col("event_type") == typ).select(  # noqa: E731
        "event_id",
        "user_id",
        F.col("us").alias("s"),
        (F.col("us") + iv).alias("e"),
    )
    pairs = interval_overlap_join(
        mk("view"),
        mk("purchase"),
        on=["user_id"],
        id_col="event_id",
        start_col="s",
        end_col="e",
        bucket_width=iv,
    )
    return pairs.select(
        "user_id",
        F.col("a_event_id").alias("view_id"),
        F.col("b_event_id").alias("purchase_id"),
        (
            F.least("a_e", "b_e").cast("long")
            - F.greatest("a_s", "b_s").cast("long")
        ).alias("overlap_us"),
    )


@register(
    "q94_hierarchy_rollup",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT o_orderkey AS node, o_orderkey // 3 AS parent
        FROM orders WHERE o_orderkey > 0
    ),
    anc AS (
        SELECT node, parent AS anc FROM e WHERE node != parent
        UNION ALL
        SELECT a.node, e.parent FROM anc a JOIN e ON a.anc = e.node
        WHERE e.node != e.parent
    ),
    pairs AS (
        SELECT node, anc FROM anc
        UNION ALL
        SELECT o_orderkey, o_orderkey FROM orders
    )
    SELECT p.anc AS node,
           COUNT(*) AS subtree_size,
           {o_dsum('o.o_totalprice')} AS subtree_total
    FROM pairs p JOIN orders o ON p.node = o.o_orderkey
    WHERE p.anc < 40
    GROUP BY p.anc
    """,
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (recursive) aggregate: subtree size and value
    rollup over a ternary order hierarchy (parent(k) = k div 3 — a
    data-driven edge table, WALKED, not computed in closed form: an
    ancestor chain exists only through intermediate nodes that exist
    as orders). The recursive-CTE query class: the oracle's WITH
    RECURSIVE joins the same edge table per step — NOT the arithmetic
    recursion anc -> anc // 3, which silently diverges on sparse key
    spaces by walking through keys no order has (the round-6 sf1
    replica, with its 1e9-stride replica offsets, caught exactly that
    oracle bug: node 1's subtree counted 1.5M arithmetically vs 150k
    walked). The Spark side builds the closure by pointer doubling
    (operators.graph.ancestor_closure — ceil(log2 depth) distributed
    join rounds: 4 for the dense fixture's ~11-deep tree; the count
    fixpoint, not a precomputed depth, decides termination). The
    closure is |nodes| x avg-depth rows; at 100 TB the doubling
    rounds are the whole point — a per-level loop would take depth
    sequential shuffles."""
    from gpu_olap_engine_spark.operators.graph import (  # noqa: PLC0415
        ancestor_closure,
    )

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    edges = o.filter(F.col("o_orderkey") > 0).select(
        F.col("o_orderkey").alias("node"),
        F.expr("o_orderkey div 3").alias("parent"),
    )
    pairs = ancestor_closure(edges).unionByName(
        o.select(
            F.col("o_orderkey").alias("node"),
            F.col("o_orderkey").alias("anc"),
        )
    )
    return (
        pairs.filter(F.col("anc") < 40)
        .join(o, pairs.node == o.o_orderkey)
        .groupBy(F.col("anc").alias("node"))
        .agg(
            F.count("*").alias("subtree_size"),
            dsum("o_totalprice", "subtree_total"),
        )
    )


@register(
    "q117_gapfill_interpolate",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(min({_US} - ({_US} % 3600000000)) / 1000000 AS BIGINT) AS lo,
               CAST(max({_US} - ({_US} % 3600000000)) / 1000000 AS BIGINT) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, 3600)) AS hour_start FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (
        SELECT CAST(({_US} - ({_US} % 3600000000)) / 1000000 AS BIGINT)
                   AS hour_start,
               event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS v
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT s.hour_start, t.event_type, a.v
        FROM spine s CROSS JOIN types t
        LEFT JOIN actual a
          ON a.hour_start = s.hour_start AND a.event_type = t.event_type
    ),
    carried AS (
        SELECT *,
            LAST_VALUE(CASE WHEN v IS NOT NULL THEN hour_start END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY hour_start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ph,
            LAST_VALUE(v IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY hour_start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
            FIRST_VALUE(CASE WHEN v IS NOT NULL THEN hour_start END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY hour_start
                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nh,
            FIRST_VALUE(v IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY hour_start
                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
        FROM dense
    )
    SELECT hour_start, event_type,
           CASE WHEN v IS NOT NULL THEN v
                ELSE pv + (nv - pv) * (CAST(hour_start - ph AS DOUBLE)
                                       / CAST(nh - ph AS DOUBLE))
           END AS filled_value,
           v IS NULL AS is_gap
    FROM carried
    """,
)
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LINEAR INTERPOLATION (the TimescaleDB
    ``interpolate()`` analog, next to q51's zero-fill and the LOCF
    carry q93 demonstrates): hourly mean value per event type on a
    dense spine; every missing hour gets the line between its nearest
    present neighbors (NULL before the first / after the last
    observation — both engines agree by construction). Two
    ignore-nulls carries per direction over ONE per-type sort; the
    interpolation expression is written in the identical operation
    order on both engines so the doubles match bitwise."""
    ev = _with_us(T(spark, sf_dir, "events"))
    hour = F.expr("(us - us % 3600000000) div 1000000")
    actual = ev.groupBy(
        hour.alias("hour_start"), F.col("event_type")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count("*")
        ).alias("v")
    )
    bounds = ev.agg(
        F.min(hour).alias("lo"), F.max(hour).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("hour_start")
    )
    types = ev.select("event_type").distinct()
    dense = (
        spine.crossJoin(F.broadcast(types))
        .join(actual, ["hour_start", "event_type"], "left")
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    present_h = F.when(F.col("v").isNotNull(), F.col("hour_start"))
    carried = dense.select(
        "hour_start",
        "event_type",
        "v",
        F.last(present_h, ignorenulls=True).over(wp).alias("ph"),
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.first(present_h, ignorenulls=True).over(wn).alias("nh"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("hour_start") - F.col("ph")).cast("double")
        / (F.col("nh") - F.col("ph")).cast("double")
    )
    return carried.select(
        "hour_start",
        "event_type",
        F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp).alias(
            "filled_value"
        ),
        F.col("v").isNull().alias("is_gap"),
    )


@register(
    "q118_downsample_lttb",
    oracle=f"""
    WITH pts AS (
        SELECT event_type, event_id, {_US} AS us, value,
               ({_US} // 1000000) // 43200 AS bucket
        FROM events
    ),
    bavg AS (
        SELECT event_type, bucket,
               CAST(SUM(us) AS DOUBLE) / COUNT(*) AS ax,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
                   AS ay
        FROM pts GROUP BY event_type, bucket
    ),
    scored AS (
        SELECT p.*,
               pa.ax AS pax, pa.ay AS pay, na.ax AS nax, na.ay AS nay,
               abs((pa.ax - na.ax) * (p.value - pa.ay)
                   - (pa.ax - p.us) * (na.ay - pa.ay)) AS area
        FROM pts p
        LEFT JOIN bavg pa
          ON pa.event_type = p.event_type AND pa.bucket = p.bucket - 1
        LEFT JOIN bavg na
          ON na.event_type = p.event_type AND na.bucket = p.bucket + 1
    ),
    ranked AS (
        SELECT *,
            ROW_NUMBER() OVER (
                PARTITION BY event_type, bucket
                ORDER BY CASE WHEN pax IS NULL OR nax IS NULL THEN NULL
                              ELSE area END DESC NULLS LAST,
                         us, event_id
            ) AS rn
        FROM scored
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket, event_id,
           CAST(us AS BIGINT) AS us, value
    FROM ranked WHERE rn = 1
    """,
)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visualization-grade downsampling: one representative point per
    (event type, 12-hour bucket) by the PARALLEL LTTB variant —
    largest-triangle selection where both anchors are the NEIGHBOR
    BUCKETS' centroids instead of the sequentially-chosen points (the
    sequential dependency is what makes classic LTTB unparallelizable;
    the centroid-anchored form is the standard distributed
    approximation). Edge buckets (no neighbor on one side) fall back
    to the earliest point, deterministically. One bucket-keyed
    aggregate + two broadcastable centroid joins + one per-bucket
    window — no sequential pass anywhere."""
    ev = _with_us(T(spark, sf_dir, "events"))
    pts = ev.select(
        "event_type",
        "event_id",
        "us",
        "value",
        F.expr("(us div 1000000) div 43200").alias("bucket"),
    )
    bavg = pts.groupBy("event_type", "bucket").agg(
        # sum(us) in DECIMAL, not bigint: epoch-microseconds are ~2^50
        # each, so a bucket of >2^13 points overflows int64 — Spark's
        # non-ANSI sum WRAPS silently while DuckDB's SUM(BIGINT)
        # promotes to exact HUGEINT (caught by the sf10 value sweep:
        # wrapped ax => wrong areas => wrong LTTB winners). decimal
        # sum is exact to 38 digits on both engines; the double cast
        # of the same exact integer is bit-identical.
        (
            F.sum(F.col("us").cast("decimal(20,0)")).cast("double")
            / F.count("*")
        ).alias("ax"),
        (
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count("*")
        ).alias("ay"),
    )
    pa = bavg.select(
        F.col("event_type").alias("pt"), (F.col("bucket") + 1).alias("pb"),
        F.col("ax").alias("pax"), F.col("ay").alias("pay"),
    )
    na = bavg.select(
        F.col("event_type").alias("nt"), (F.col("bucket") - 1).alias("nb"),
        F.col("ax").alias("nax"), F.col("ay").alias("nay"),
    )
    # Explicit broadcast: the centroid relation has one row per
    # (event_type, 12h bucket) — bounded by the TIME RANGE, not the
    # point count, so it stays kilobytes at any corpus scale. Catalyst
    # sizes an aggregate's output from its pre-agg input, so at ~sf10
    # statistics it flipped these to SortMergeJoin (caught by the sf10
    # plan lint). The SMJ plan shuffles 100% of the fact rows through
    # one (event_type, bucket) exchange (reused by both joins and the
    # window); the pinned plan exchanges the fact side NOWHERE — after
    # the broadcast joins, WindowGroupLimit Partial runs map-side, so
    # only ~1 row per (group x partition) reaches the window exchange.
    # Locally the two are warm-equal (shuffle = memcpy; measured at
    # sf10); on a 1000-executor network, 0 vs 100% of fact bytes
    # across the wire is the whole game. See DESIGN_100TB.md §3.
    scored = (
        pts.join(
            F.broadcast(pa),
            (pts["event_type"] == pa["pt"]) & (pts["bucket"] == pa["pb"]),
            "left",
        )
        .join(
            F.broadcast(na),
            (pts["event_type"] == na["nt"]) & (pts["bucket"] == na["nb"]),
            "left",
        )
        .withColumn(
            "area",
            F.abs(
                (F.col("pax") - F.col("nax")) * (F.col("value") - F.col("pay"))
                - (F.col("pax") - F.col("us")) * (F.col("nay") - F.col("pay"))
            ),
        )
    )
    w = Window.partitionBy("event_type", "bucket").orderBy(
        F.when(
            F.col("pax").isNull() | F.col("nax").isNull(), F.lit(None)
        ).otherwise(F.col("area")).desc_nulls_last(),
        "us",
        "event_id",
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("bucket").cast("long").alias("bucket"),
            "event_id",
            F.col("us").cast("long").alias("us"),
            "value",
        )
    )


@register(
    "q121_time_weighted_avg",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, {_US} AS us, value FROM events
    ),
    seg AS (
        SELECT user_id, value, us,
               LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
        FROM e
    )
    SELECT user_id,
           COUNT(nxt) AS n_segments,
           CAST(SUM(nxt - us) AS BIGINT) AS held_us,
           CAST(SUM(CAST(floor(value * (nxt - us) / 1000000 * 10000) AS BIGINT))
                AS DOUBLE) / 10000
           / (CAST(SUM(nxt - us) AS DOUBLE) / 1000000) AS twap
    FROM seg WHERE nxt IS NOT NULL
    GROUP BY user_id
    """,
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (step/LOCF weighting — the TimescaleDB
    ``time_weight('LOCF')`` analog): each observation holds its value
    until the user's next event; TWAP = sum(value * held-seconds) /
    total held-seconds. One LEAD over the per-user sort supplies the
    segment durations (a user's final observation has no duration and
    is excluded, per the open-ended-interval convention); weighted
    terms are quantized to 1e-4 before summation so accumulation
    order cannot matter. The financial/IoT aggregate class that plain
    AVG silently gets wrong under irregular sampling."""
    ev = _with_us(T(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seg = ev.select(
        "user_id", "value", "us", F.lead("us").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    # associate exactly as the oracle: ((value * dur_us) / 1e6) * 1e4
    term_q = F.floor(
        F.col("value") * (F.col("nxt") - F.col("us")) / 1_000_000 * 10_000
    ).cast("long")
    return seg.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("nxt") - F.col("us")).cast("long").alias("held_us"),
        (
            (F.sum(term_q).cast("double") / 10_000)
            / (F.sum(F.col("nxt") - F.col("us")).cast("double") / 1_000_000)
        ).alias("twap"),
    )


@register(
    "q124_gapfill_locf",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(min({_US} - ({_US} % 3600000000)) / 1000000 AS BIGINT) AS lo,
               CAST(max({_US} - ({_US} % 3600000000)) / 1000000 AS BIGINT) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, 3600)) AS hour_start FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (
        SELECT CAST(({_US} - ({_US} % 3600000000)) / 1000000 AS BIGINT)
                   AS hour_start,
               event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS v
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT s.hour_start, t.event_type, a.v
        FROM spine s CROSS JOIN types t
        LEFT JOIN actual a
          ON a.hour_start = s.hour_start AND a.event_type = t.event_type
    )
    SELECT hour_start, event_type,
           LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value,
           v IS NULL AS is_gap
    FROM dense
    """,
)
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LOCF (last observation carried forward — the
    TimescaleDB ``locf()`` analog), completing the fill trio beside
    q51's zero-fill and q117's linear interpolation: one ignore-nulls
    carry over the per-type sort; hours before the first observation
    stay NULL on both engines. The fill a metrics store uses when the
    series is a STATE (gauge) rather than a rate."""
    ev = _with_us(T(spark, sf_dir, "events"))
    hour = F.expr("(us - us % 3600000000) div 1000000")
    actual = ev.groupBy(hour.alias("hour_start"), F.col("event_type")).agg(
        (
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count("*")
        ).alias("v")
    )
    bounds = ev.agg(F.min(hour).alias("lo"), F.max(hour).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("hour_start")
    )
    types = ev.select("event_type").distinct()
    dense = spine.crossJoin(F.broadcast(types)).join(
        actual, ["hour_start", "event_type"], "left"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dense.select(
        "hour_start",
        "event_type",
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        F.col("v").isNull().alias("is_gap"),
    )


@register(
    "q131_asof_join_forward",
    oracle=f"""
    WITH tagged AS (
        SELECT event_id, user_id, {_US} AS us,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_probe
        FROM events WHERE event_type IN ('view', 'purchase')
    ), carried AS (
        SELECT event_id, user_id, is_probe,
               FIRST_VALUE(CASE WHEN is_probe = 0 THEN event_id END IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY us, 1 - is_probe, event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS matched_view_id
        FROM tagged
    )
    SELECT event_id AS purchase_id, user_id,
           CAST(matched_view_id AS DOUBLE) AS matched_view_id
    FROM carried WHERE is_probe = 1
    """,
)
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each 'purchase' matched to the user's
    EARLIEST 'view' at-or-after it (the mirror of q34's backward
    match — e.g. "next quote after the trade"). Same union-style
    single-shuffle plan: tag both streams, one sort per user
    partition, carry the first build-side id backward over a
    CURRENT ROW .. UNBOUNDED FOLLOWING frame. Ties (view.ts ==
    purchase.ts) order probe-first so >= semantics include the
    simultaneous view. Reference has only inner/outer equi-joins
    (logical_plan.rs:52-58); neither as-of direction exists there."""
    ev = _with_us(
        T(spark, sf_dir, "events").filter(F.col("event_type").isin("view", "purchase"))
    )
    tagged = ev.withColumn(
        "is_probe", F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us"), (F.lit(1) - F.col("is_probe")), F.col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = tagged.withColumn(
        "matched_view_id",
        F.first(
            F.when(F.col("is_probe") == 0, F.col("event_id")), ignorenulls=True
        ).over(w),
    )
    return carried.filter(F.col("is_probe") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("matched_view_id").cast("double").alias("matched_view_id"),
    )


# 5-minute tolerance for the nearest-match as-of (microseconds).
_ASOF_TOL_US = 300_000_000


@register(
    "q132_asof_join_nearest",
    oracle=f"""
    WITH tagged AS (
        SELECT event_id, user_id, {_US} AS us,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_probe
        FROM events WHERE event_type IN ('view', 'purchase')
    ), carried AS (
        SELECT event_id, user_id, us, is_probe,
               LAST_VALUE(CASE WHEN is_probe = 0 THEN event_id END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY us, is_probe, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS back_id,
               LAST_VALUE(CASE WHEN is_probe = 0 THEN us END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY us, is_probe, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS back_us,
               FIRST_VALUE(CASE WHEN is_probe = 0 THEN event_id END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY us, 1 - is_probe, event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS fwd_id,
               FIRST_VALUE(CASE WHEN is_probe = 0 THEN us END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY us, 1 - is_probe, event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS fwd_us
        FROM tagged
    )
    SELECT event_id AS purchase_id, user_id,
           CAST(CASE
             WHEN back_us IS NOT NULL AND us - back_us <= {_ASOF_TOL_US}
                  AND (fwd_us IS NULL OR fwd_us - us > {_ASOF_TOL_US}
                       OR us - back_us <= fwd_us - us)
               THEN back_id
             WHEN fwd_us IS NOT NULL AND fwd_us - us <= {_ASOF_TOL_US}
               THEN fwd_id
             ELSE NULL
           END AS DOUBLE) AS matched_view_id
    FROM carried WHERE is_probe = 1
    """,
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-within-tolerance as-of join: each 'purchase' matched to
    the temporally CLOSEST 'view' within +/-5 minutes, earlier wins
    ties — the sensor-fusion / trade-vs-quote alignment semantics
    (pandas merge_asof direction='nearest' + tolerance). Composed
    from the q34 backward carry and the q131 forward carry in ONE
    window pass per direction over the same shuffled layout — two
    sorts, one shuffle, no self-join, so the 100 TB cost is identical
    to a plain as-of. All delta arithmetic is integer microseconds."""
    ev = _with_us(
        T(spark, sf_dir, "events").filter(F.col("event_type").isin("view", "purchase"))
    )
    tagged = ev.withColumn(
        "is_probe", F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("us", "is_probe", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us"), (F.lit(1) - F.col("is_probe")), F.col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    is_view = F.col("is_probe") == 0
    carried = (
        tagged.withColumn(
            "back_id", F.last(F.when(is_view, F.col("event_id")), True).over(wb)
        )
        .withColumn("back_us", F.last(F.when(is_view, F.col("us")), True).over(wb))
        .withColumn(
            "fwd_id", F.first(F.when(is_view, F.col("event_id")), True).over(wf)
        )
        .withColumn("fwd_us", F.first(F.when(is_view, F.col("us")), True).over(wf))
    )
    tol = F.lit(_ASOF_TOL_US)
    d_back = F.col("us") - F.col("back_us")
    d_fwd = F.col("fwd_us") - F.col("us")
    matched = (
        F.when(
            F.col("back_us").isNotNull()
            & (d_back <= tol)
            & (F.col("fwd_us").isNull() | (d_fwd > tol) | (d_back <= d_fwd)),
            F.col("back_id"),
        )
        .when(F.col("fwd_us").isNotNull() & (d_fwd <= tol), F.col("fwd_id"))
        .otherwise(F.lit(None))
    )
    return carried.filter(F.col("is_probe") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        matched.cast("double").alias("matched_view_id"),
    )


# Attribution lookback window (microseconds): 6 hours.
_ATTR_LOOKBACK_US = 21_600_000_000


@register(
    "q133_touch_attribution",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, {_US} AS us FROM events
    ),
    p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
    t AS (SELECT * FROM ev WHERE event_type <> 'purchase')
    SELECT p.event_id AS purchase_id, p.user_id,
           arg_min(t.event_type, t.us::HUGEINT * 100000000 + t.event_id)
               AS first_touch,
           arg_max(t.event_type, t.us::HUGEINT * 100000000 + t.event_id)
               AS last_touch,
           COUNT(*) AS n_touches
    FROM p JOIN t
      ON t.user_id = p.user_id
     AND t.us <= p.us AND t.us >= p.us - {_ATTR_LOOKBACK_US}
    GROUP BY 1, 2
    """,
)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-touch attribution: for every purchase, the FIRST and
    LAST non-purchase touch inside a 6-hour lookback, plus the
    touch count — the first-touch/last-touch credit assignment a
    growth pipeline computes per conversion. Implemented as a
    time-BUCKETED candidate equi-join (bucket = lookback width, probe
    joins buckets b and b-1) exactly like the q91 interval join, so
    candidates are bounded by per-user activity in ~12 hours, never the
    full history; min_by/max_by on the (us, event_id) struct keeps
    tie-breaks deterministic on both engines. Purchases with an empty
    lookback are excluded (inner semantics, documented)."""
    ev = _with_us(T(spark, sf_dir, "events"))
    lb = F.lit(_ATTR_LOOKBACK_US)
    bucket = (F.col("us") / lb).cast("long")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("us").alias("p_us"),
        )
        .withColumn("b", (F.col("p_us") / lb).cast("long"))
        .withColumn("probe_b", F.explode(F.array(F.col("b"), F.col("b") - 1)))
    )
    t = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("t_type"),
        F.col("us").alias("t_us"),
        bucket.alias("t_b"),
    )
    cand = p.join(
        t,
        (F.col("t_user") == F.col("user_id")) & (F.col("t_b") == F.col("probe_b")),
    ).filter(
        (F.col("t_us") <= F.col("p_us"))
        & (F.col("t_us") >= F.col("p_us") - lb)
    )
    key = F.struct(F.col("t_us"), F.col("t_id"))
    return cand.groupBy("purchase_id", "user_id").agg(
        F.min_by(F.col("t_type"), key).alias("first_touch"),
        F.max_by(F.col("t_type"), key).alias("last_touch"),
        F.count("*").alias("n_touches"),
    )


@register(
    "q138_transition_matrix",
    oracle=f"""
    WITH pairs AS (
        SELECT event_type AS prev_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY {_US}, event_id
               ) AS next_type
        FROM events
    ),
    c AS (
        SELECT prev_type, next_type, COUNT(*) AS n
        FROM pairs WHERE next_type IS NOT NULL
        GROUP BY prev_type, next_type
    ),
    t AS (SELECT prev_type, SUM(n) AS total FROM c GROUP BY prev_type)
    SELECT c.prev_type, c.next_type, n,
           CAST((1000000::HUGEINT * n) // total AS BIGINT) AS ppm
    FROM c JOIN t USING (prev_type)
    """,
)
def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey transition matrix: count each consecutive
    (event_type -> next event_type) pair per user timeline and report
    row-normalized transition frequency in exact integer ppm — the
    first-order Markov model a product-analytics pipeline fits over
    clickstreams. ONE shuffle on user_id for the lead() carry, then a
    tiny aggregate over |event_types|^2 cells; the normalizing total
    rides a window over the already-small count relation. Integer
    floor-division keeps both engines bit-identical (no double
    ratios). Reference has no window functions at all (SURVEY.md
    gap); this is the composed form."""
    ev = _with_us(T(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
    )
    c = pairs.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "next_type",
        "n",
        F.expr(
            "(1000000 * CAST(n AS DECIMAL(20,0)))"
            " DIV sum(n) OVER (PARTITION BY prev_type)"
        ).alias("ppm"),
    )


@register(
    "q147_linear_attribution",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, {_US} AS us FROM events
    ),
    p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
    t AS (SELECT * FROM ev WHERE event_type <> 'purchase'),
    touches AS (
        SELECT p.event_id AS purchase_id, t.event_type AS touch_type,
               t.event_id AS touch_id,
               COUNT(*) OVER (PARTITION BY p.event_id) AS n_touches,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY t.us, t.event_id) AS touch_rank
        FROM p JOIN t
          ON t.user_id = p.user_id
         AND t.us <= p.us AND t.us >= p.us - {_ATTR_LOOKBACK_US}
    ),
    credited AS (
        SELECT touch_type,
               (1000000 // n_touches)
               + CASE WHEN touch_rank = 1 THEN 1000000 % n_touches
                      ELSE 0 END AS credit_ppm
        FROM touches
    )
    SELECT touch_type,
           COUNT(*) AS n_touches,
           CAST(SUM(credit_ppm) AS BIGINT) AS total_credit_ppm
    FROM credited GROUP BY touch_type
    """,
)
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every non-purchase touch in the
    6-hour lookback shares a conversion's credit equally, in exact
    integer ppm — floor(1e6/n) per touch with the remainder assigned
    to the EARLIEST touch, so each conversion distributes exactly
    1,000,000 ppm and the per-channel totals are integers both
    engines agree on bit-for-bit (no fractional credit drift).
    Completes the attribution family: q133 gives first/last-touch,
    this gives the position-independent split. Same time-bucketed
    candidate equi-join as q133 bounds the join to ~12 h of per-user
    activity; the credit arithmetic rides two windows over the
    already-small touch relation."""
    ev = _with_us(T(spark, sf_dir, "events"))
    lb = F.lit(_ATTR_LOOKBACK_US)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("us").alias("p_us"),
        )
        .withColumn("b", (F.col("p_us") / lb).cast("long"))
        .withColumn("probe_b", F.explode(F.array(F.col("b"), F.col("b") - 1)))
    )
    t = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("touch_type"),
        F.col("us").alias("t_us"),
        (F.col("us") / lb).cast("long").alias("t_b"),
    )
    touches = (
        p.join(
            t,
            (F.col("t_user") == F.col("user_id"))
            & (F.col("t_b") == F.col("probe_b")),
        )
        .filter(
            (F.col("t_us") <= F.col("p_us"))
            & (F.col("t_us") >= F.col("p_us") - lb)
        )
        .select("purchase_id", "touch_type", "t_id", "t_us")
    )
    wn = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy("t_us", "t_id")
    credited = touches.select(
        "touch_type",
        F.count("*").over(wn).alias("n_t"),
        F.row_number().over(wr).alias("rk"),
    ).select(
        "touch_type",
        (
            F.floor(F.lit(1000000) / F.col("n_t")).cast("long")
            + F.when(F.col("rk") == 1, F.lit(1000000) % F.col("n_t"))
            .otherwise(F.lit(0))
            .cast("long")
        ).alias("credit_ppm"),
    )
    return credited.groupBy("touch_type").agg(
        F.count("*").alias("n_touches"),
        F.sum("credit_ppm").alias("total_credit_ppm"),
    )


@register(
    "q151_lateness_profile",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, {_US} AS us,
               MAX({_US}) OVER (
                   PARTITION BY user_id
                   ORDER BY ((event_id % 1000003) * (2654435761 % 1000003))
                            % 1000003, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS hwm
        FROM events
    ),
    lat AS (
        SELECT CASE
                 WHEN hwm IS NULL OR us >= hwm THEN 'on_time'
                 WHEN hwm - us < 1000000 THEN 'lt_1s'
                 WHEN hwm - us < 60000000 THEN 'lt_1m'
                 WHEN hwm - us < 600000000 THEN 'lt_10m'
                 ELSE 'ge_10m'
               END AS band,
               CASE WHEN hwm IS NULL OR us >= hwm THEN 0
                    ELSE hwm - us END AS lateness_us
        FROM seq
    )
    SELECT band, COUNT(*) AS n_events,
           CAST(MAX(lateness_us) AS BIGINT) AS max_lateness_us
    FROM lat GROUP BY band
    """,
)
def q151(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-lateness profile — the measurement that DESIGNS a
    watermark: the per-user high-water mark is a running max over
    already-seen event times in arrival order, and every event's
    lateness against it is banded (on-time / <1s / <1m / <10m /
    >=10m). The band counts tell you what `withWatermark` delay
    bounds state size vs. what fraction of events a given delay
    would drop. The fixtures record no arrival time (event_id is
    timestamp-sorted, which would make every event on-time), so
    arrival order is SIMULATED by a deterministic integer-hash
    shuffle of the sequence — both engines use the identical
    permutation, and the lateness arithmetic stays exact integer
    microseconds. One shuffle on user_id (the same layout the
    streaming aggregation itself uses)."""
    ev = _with_us(T(spark, sf_dir, "events"))
    # mod-reduce BEFORE multiplying: raw id * constant overflows int64
    # for the sf1 replica's offset ids (wrap in Spark, promote in
    # DuckDB — either way a divergence)
    arrival = (
        (F.col("event_id") % 1000003) * F.lit(2654435761 % 1000003)
    ) % 1000003
    w = (
        Window.partitionBy("user_id")
        .orderBy(arrival, "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hwm = F.max("us").over(w)
    on_time = hwm.isNull() | (F.col("us") >= hwm)
    late = hwm - F.col("us")
    band = (
        F.when(on_time, "on_time")
        .when(late < 1_000_000, "lt_1s")
        .when(late < 60_000_000, "lt_1m")
        .when(late < 600_000_000, "lt_10m")
        .otherwise("ge_10m")
    )
    lat = ev.select(
        band.alias("band"),
        F.when(on_time, F.lit(0)).otherwise(late).alias("lateness_us"),
    )
    return lat.groupBy("band").agg(
        F.count("*").alias("n_events"),
        F.max("lateness_us").cast("long").alias("max_lateness_us"),
    )
