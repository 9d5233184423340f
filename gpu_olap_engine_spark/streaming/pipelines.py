"""Streaming pipelines over the events table.

All pipelines are source-agnostic (they take any streaming DataFrame
with the events schema); ``read_events_stream`` provides the
file-source handle used by tests (parquet file stream, the local
stand-in for Kafka — at scale swap ``readStream.format("kafka")``,
everything downstream is unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_olap_engine_spark.queries.tables import SCHEMAS


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events fixture with ts as a
    microsecond TimestampType (LTZ — watermarks reject NTZ).

    The stream reads through the fixture's pinned schema, like the
    batch loader (queries.tables.T): ts is a microsecond
    TIMESTAMP_NTZ, cast to LTZ here. The session timezone is pinned UTC
    (config.py), so the cast is value-faithful."""
    import os

    schema = SCHEMAS["events"]
    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):
        # multi-file table (e.g. the ~sf1 replica): stream the table
        # directory itself
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        # single-file fixture: file streams take a directory, so
        # stream the fixture dir filtered to the events leaf file
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is set) event-time window
    counts per event_type, tolerant of late data up to the watermark.
    Streaming twin of q32_tumbling_window."""
    w = (
        F.window("ts", window, slide)
        if slide
        else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").cast("long").alias("bucket_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows per user (gap-based), the streaming twin of
    q33_sessionize: state closes once the watermark passes gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").cast("long").alias("session_start"),
            F.col("sw.end").cast("long").alias("session_end"),
            "n_events",
        )
    )


def enrich_with_dimension(events: DataFrame, dim: DataFrame, on: list) -> DataFrame:
    """Stream-static join: enrich a stream against a static dimension
    (broadcast per micro-batch, re-resolved if the dimension is a
    view over mutable storage). The standard lookup pattern — no
    state, no watermark needed."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), on, "left")


def running_user_totals(
    events: DataFrame,
    watermark: str = "30 minutes",
    quantized: bool = False,
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total, emitted on every update.

    This is the engine's arbitrary-state extension point (the
    streaming analog of the reference's custom-kernel registration,
    README.md:354-378): state lives in the state store, partitioned by
    key, recoverable from checkpoints — not in Python memory.

    ``quantized=True`` switches the accumulator to exact int64 e4
    units (per-row floor(value*10000), then integer sums) and emits
    ``total_value_e4 long`` instead of ``total_value double`` —
    integer accumulation is order-independent, so the result is
    bit-stable against an ANSI-SQL oracle regardless of micro-batch
    boundaries or state-merge order (the repo-wide ppm/e4
    convention). The float default keeps the exact-sum semantics the
    unit tests pin.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    def update_float(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    def update_e4(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int(
                np.floor(pdf["value"].to_numpy() * 10000)
                .astype("int64")
                .sum()
            )
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_e4": [total],
            }
        )

    if quantized:
        fn, out_schema, state_schema = (
            update_e4,
            "user_id long, n_events long, total_value_e4 long",
            "n long, total long",
        )
    else:
        fn, out_schema, state_schema = (
            update_float,
            "user_id long, n_events long, total_value double",
            "n long, total double",
        )
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def purchases_with_recent_views(
    events: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's views within the preceding hour.

    Both sides are watermarked so the view-side state store is bounded
    (views older than watermark+horizon are evicted) — the
    production-safe form of the batch as-of/interval join (q34). One
    input stream, two filtered branches, joined on user + time range.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", horizon)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", horizon)
    )
    return purchases.join(
        views,
        F.expr(
            f"""
            p_user = v_user
            AND view_ts <= purchase_ts
            AND view_ts >= purchase_ts - INTERVAL {horizon}
            """
        ),
    ).select("purchase_id", F.col("p_user").alias("user_id"), "view_id")


def _add_batch_totals(batch_df: DataFrame, existing: DataFrame | None) -> DataFrame:
    """Per-user (n_events, total_value) of one micro-batch, added onto
    the running totals in `existing` (None: there are none yet). Only
    the batch's users come out — the sinks' upserts keep the rest."""
    delta = batch_df.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
    if existing is None:
        return delta
    return (
        delta.alias("d")
        .join(existing.alias("e"), "user_id", "left")
        .select(
            "user_id",
            (
                F.col("d.n_events") + F.coalesce(F.col("e.n_events"), F.lit(0))
            ).alias("n_events"),
            (
                F.col("d.total_value")
                + F.coalesce(F.col("e.total_value"), F.lit(0.0))
            ).alias("total_value"),
        )
    )


def upsert_totals_sink(path: str, ledger_key: str):
    """Build the foreachBatch sink for ``stream_upsert_user_totals``.

    The additive merge alone is not idempotent under micro-batch REPLAY
    (foreachBatch is at-least-once across restarts), so each applied
    batch_id is recorded in a ledger file next to the store, keyed by
    the owning query (its checkpoint dir): a redelivered (ledger_key,
    batch_id) pair is skipped instead of double-counted. Distinct
    queries (fresh checkpoints) keep their legitimate additive
    semantics. The ledger write uses write-temp + os.replace (atomic on
    POSIX) and happens only after the merge lands — a crash between
    merge and ledger write degrades to at-least-once, the same floor a
    transactional format (Delta/Iceberg MERGE, ROADMAP.md#1) would
    lift.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        import json  # noqa: PLC0415
        import os  # noqa: PLC0415

        from gpu_olap_engine_spark.sources import upsert_parquet  # noqa: PLC0415

        ledger = path.rstrip("/") + ".batch_ledger.json"
        applied: dict = {}
        if os.path.exists(ledger):
            with open(ledger) as f:
                applied = json.load(f)
        if applied.get(ledger_key, -1) >= batch_id:
            return  # replayed micro-batch: already merged

        spark = batch_df.sparkSession
        if os.path.exists(path):
            totals = _add_batch_totals(batch_df, spark.read.parquet(path))
            upsert_parquet(spark, path, totals, ["user_id"])
        else:
            _add_batch_totals(batch_df, None).write.mode("overwrite").parquet(path)

        applied[ledger_key] = batch_id
        tmp = ledger + ".tmp"
        with open(tmp, "w") as f:
            json.dump(applied, f)
        os.replace(tmp, ledger)

    return sink


def stream_upsert_user_totals(events: DataFrame, path: str, checkpoint_dir: str):
    """foreachBatch incremental sink: per-micro-batch user totals
    merged additively into a parquet store via sources.upsert_parquet
    — the incremental-materialization pattern (stream -> continuously
    maintained aggregate table) that completes the streaming surface's
    sink story. Only keys touched by the batch are rewritten; untouched
    keys stay in place (the upsert's anti-join keeps them). Replay-safe:
    see ``upsert_totals_sink`` (per-query batch-id ledger).
    Returns the started StreamingQuery (availableNow trigger).
    """
    return (
        events.writeStream.foreachBatch(upsert_totals_sink(path, checkpoint_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def txn_upsert_totals_sink(table_path: str, ledger_key: str):
    """Transactional foreachBatch sink over the snapshot table format:
    the additive per-user merge AND the applied-batch-id ledger commit
    in ONE atomic manifest publish (table_format.merge_into app_id).

    This closes the at-least-once window ``upsert_totals_sink``
    documents: there, a crash between the parquet merge and the
    separate ledger-file write lets a replayed batch double-count.
    Here the crash points collapse to two cases, both safe:
    * before the manifest link publishes — NOTHING is visible (the
      txn's data files are unreferenced orphans for vacuum); the
      replayed batch applies exactly once;
    * after the link — the batch id is already in the manifest; the
      replayed batch is skipped.
    Data loss is impossible for the same reason: the source's
    checkpoint only advances after foreachBatch returns, so an
    unapplied batch is always redelivered.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from gpu_olap_engine_spark.sources import table_format as tf  # noqa: PLC0415

        spark = batch_df.sparkSession
        updates = _add_batch_totals(batch_df, tf.read_snapshot(spark, table_path))
        tf.merge_into(
            spark, table_path, updates, ["user_id"], app_id=(ledger_key, batch_id)
        )

    return sink


def stream_upsert_user_totals_txn(
    events: DataFrame, table_path: str, checkpoint_dir: str
):
    """Exactly-once incremental materialization: per-micro-batch user
    totals merged into a snapshot table (sources.table_format), batch
    id recorded in the same atomic commit — see txn_upsert_totals_sink.
    Creates the (empty) table on first use so every batch takes the
    same merge path. Returns the started StreamingQuery (availableNow).
    """
    from gpu_olap_engine_spark.sources import table_format as tf  # noqa: PLC0415

    spark = events.sparkSession
    try:
        tf.latest_version(table_path)
    except ValueError:
        schema = events.groupBy("user_id").agg(
            F.count("*").alias("n_events"), F.sum("value").alias("total_value")
        ).schema
        tf.create_table(spark.createDataFrame([], schema), table_path)
    return (
        events.writeStream.foreachBatch(
            txn_upsert_totals_sink(table_path, checkpoint_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Stateful exact dedup on event_id within the watermark horizon
    (dropDuplicatesWithinWatermark): the streaming analog of exact
    dedup, with bounded state — the 100 TB-safe variant of
    dropDuplicates on an unbounded stream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the documents fixture — the ingestion
    shape of a crawler pipeline: new parquet shards appear in a
    directory and flow through curation incrementally."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def ingest_corpus_stream(docs: DataFrame, path: str, checkpoint_dir: str):
    """Incremental corpus ingestion: content-fingerprint exact dedup
    ON ARRIVAL, then append the curated rows to a parquet store.

    This is how the batch dedup operators run in production — the
    corpus is not re-deduplicated from scratch per crawl; new shards
    dedup against state. Fingerprint = md5 prefix of the normalized
    text (the q114/q115 digest), so two byte-identical documents in
    different shards collapse to the arrival-order first. State here
    is the full fingerprint set (no watermark: document streams have
    no event time and corpus dedup is exact by contract); at 100 TB
    the state store is RocksDB-backed and sharded by the fingerprint —
    the same key the batch path shuffles on. Restart-safe via the
    checkpoint; the append sink plus dropDuplicates gives exactly-once
    curated rows under availableNow replays."""
    from gpu_olap_engine_spark.operators.dedup import base_hash  # noqa: PLC0415

    curated = docs.withColumn(
        "fingerprint", base_hash(F.lower(F.trim(F.col("text"))))
    ).dropDuplicates(["fingerprint"])
    return (
        curated.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )
