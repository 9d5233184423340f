"""Registry entries that EXECUTE through Structured Streaming.

Every other streaming artifact in this repo is either a batch twin
(q32/q33/q56/q139) or a pytest-gated pipeline (tests/test_streaming).
These entries close the remaining gap: the registered callable runs a
real `writeStream` (file source -> availableNow trigger -> memory
sink, through streaming.pipelines.run_to_memory), waits for
termination, and returns the sink's rows — so the
DRIVER's DuckDB gate checks the output of the actual streaming
engine, not a batch re-expression. With a finite input and an
availableNow trigger the streaming semantics (watermark, state store,
output mode) reduce to the batch answer, which is exactly what makes
an ANSI-SQL oracle possible.

Reference analog: none — the reference engine is batch-only
(SURVEY.md §2.9); this is the Spark-first capability the brief
mandates. Aggregates are quantized to exact integers (the repo-wide
ppm/e4 convention) so the state-store accumulation order cannot
produce float drift vs the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_olap_engine_spark.queries import register
from gpu_olap_engine_spark.streaming.pipelines import (
    purchases_with_recent_views,
    read_events_stream,
    run_to_memory,
    running_user_totals,
    session_counts,
    windowed_counts,
)

_US = "epoch_us(CAST(ts AS TIMESTAMP))"


@register(
    "stream_windowed_counts",
    oracle=f"""
    SELECT CAST(({_US} - ({_US} % 600000000)) / 1000000 AS BIGINT)
               AS bucket_start,
           event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT)
               AS sum_value_e4
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling event-time windows per event_type, EXECUTED
    by the Structured Streaming engine: file source over the fixture
    dir, 30-minute watermark, complete output mode, availableNow
    trigger, memory sink — then the sink table is returned for the
    oracle gate. Finite input + availableNow makes the stateful
    result equal the batch group-by, so the gate checks the real
    streaming path (state store updates, watermark bookkeeping, sink
    commit) for value drift. Values are summed pre-quantized
    (floor(value*10000) as int64) so state-merge order cannot
    introduce float error. At scale this exact pipeline runs
    continuously with the same watermark bounding state; the memory
    sink swaps for the txn upsert sink (streaming/pipelines.py)."""
    events = read_events_stream(spark, sf_dir)
    return run_to_memory(windowed_counts(events), "complete")


@register(
    "stream_session_windows",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_id, {_US} AS us,
               LAG({_US}) OVER (PARTITION BY user_id ORDER BY {_US}, event_id)
                   AS prev_us
        FROM events
    ), flagged AS (
        -- session_window MERGES an event arriving EXACTLY gap after
        -- the previous one (empirically pinned by
        -- test_session_window_gap_boundary): new session iff
        -- diff > gap, the same rule as q33's batch sessionization
        SELECT user_id, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM seq
    ), sessions AS (
        SELECT user_id, us,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM flagged
    )
    SELECT user_id,
           CAST(MIN(us) // 1000000 AS BIGINT) AS session_start,
           CAST((MAX(us) + 1800000000) // 1000000 AS BIGINT) AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user, EXECUTED by the streaming
    engine's session_window operator (the state path that MERGES
    overlapping session state as events arrive, which tumbling
    windows never exercise): file source, 30-minute gap and
    watermark, complete mode, availableNow, memory sink. The oracle
    is the gaps-and-islands formulation with the operator's exact
    boundary rule — a gap-EQUAL arrival merges into the running
    session (new session iff diff > gap), pinned empirically by
    tests/test_streaming.py::test_session_window_gap_boundary since
    the fixture's microsecond timestamps never land on the boundary.
    Window bounds come back as epoch seconds (start = first event,
    end = last event + gap). Ties on (user_id, ts) cannot occur in
    the fixture (event ts is unique per user); the ORDER BY carries
    event_id anyway for the LAG to be deterministic."""
    events = read_events_stream(spark, sf_dir)
    return run_to_memory(session_counts(events), "complete")


@register(
    "stream_interval_join",
    oracle=f"""
    WITH v AS (
        SELECT user_id, event_id AS view_id, {_US} AS v_us
        FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT user_id, event_id AS purchase_id, {_US} AS p_us
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, v.view_id
    FROM p JOIN v ON p.user_id = v.user_id
       AND v.v_us <= p.p_us
       AND v.v_us >= p.p_us - 3600000000
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join EXECUTED by the streaming engine:
    each purchase matched to the same user's views within the
    preceding hour (streaming/pipelines.purchases_with_recent_views),
    run through a real writeStream in append mode — the dual-sided
    state-store path (both inputs buffered, watermark-bounded
    eviction) that no batch twin exercises. Finite input +
    availableNow reduces the semantics to the batch interval join the
    oracle spells out; the gate compares the exact matched-pair id
    set (all-integer, bit-stable). At scale this exact topology runs
    continuously with view-side state bounded by watermark+horizon."""
    events = read_events_stream(spark, sf_dir)
    joined = purchases_with_recent_views(events).select("purchase_id", "view_id")
    return run_to_memory(joined, "append")


@register(
    "stream_dedup_keys",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup EXECUTED by the engine:
    dropDuplicatesWithinWatermark on (user_id, event_type) — the
    bounded-state exact-dedup path (one state-store entry per live
    key, watermark-evicted) — run through a real writeStream in
    append mode, then the sink table is aggregated to per-type
    distinct-user counts. Only the KEY columns pass through, so
    which duplicate row survives is irrelevant and the result is
    deterministic: it must equal the batch COUNT(DISTINCT). At scale
    this is the ingestion-dedup front of the corpus pipeline
    (streaming.ingest_corpus_stream) with state bounded by the
    watermark horizon instead of growing with history."""
    deduped = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "event_type", "ts")
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return (
        run_to_memory(deduped, "append")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "stream_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT)
               AS total_value_e4
    FROM events GROUP BY user_id
    """,
)
def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) EXECUTED by
    the streaming engine: per-user running count + value total through
    the arbitrary-state extension point (streaming/pipelines.py
    running_user_totals — the analog of the reference's custom-kernel
    registration, README.md:354-378), run as a real writeStream in
    update mode with an availableNow trigger and a memory sink. The
    operator accumulates exact int64 e4 units inside the
    state store, so micro-batch boundaries and state-merge order
    cannot move the result off the batch answer. The sink holds one
    row per user per update; n_events strictly increases per
    invocation (the operator is only called for groups with data), so
    max_by(total, n_events) recovers each user's FINAL state row
    deterministically whether the trigger produced one micro-batch or
    many (the ~sf1 replica streams multiple files)."""
    totals = running_user_totals(read_events_stream(spark, sf_dir))
    return (
        run_to_memory(totals, "update")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value_e4", "n_events").alias("total_value_e4"),
        )
    )
