"""Streaming pipelines over the events table.

All pipelines are source-agnostic (they take any streaming DataFrame
with the events schema); ``read_events_stream`` provides the
file-source handle used by tests (parquet file stream, the local
stand-in for Kafka — at scale swap ``readStream.format("kafka")``,
everything downstream is unchanged). ``run_to_memory`` is the one
memory-sink runner: the registry's streaming entries, the tests and
the examples all run a pipeline to completion through it.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_olap_engine_spark.queries.tables import SCHEMAS


def _fixture_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream of one fixture table, read through its
    pinned schema like the batch loader (queries.tables.T), so no
    footer-read job runs to build it."""
    path = f"{sf_dir}/{table}.parquet"
    reader = spark.readStream.schema(SCHEMAS[table])
    if os.path.isdir(path):
        # multi-file table (e.g. the ~sf1 replica): stream the table
        # directory itself
        return reader.parquet(path)
    # single-file fixture: file streams take a directory, so stream
    # the fixture dir filtered to the table's leaf file
    return reader.option("pathGlobFilter", f"{table}.parquet").parquet(sf_dir)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events fixture with ts as a
    microsecond TimestampType (LTZ — watermarks reject NTZ). The
    fixture's ts is a microsecond TIMESTAMP_NTZ; the session timezone
    is pinned UTC (config.py), so the cast is value-faithful."""
    return _fixture_stream(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def run_to_memory(df: DataFrame, mode: str) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and
    return the sink's rows: a uniquely named query, an availableNow
    trigger, then the wait for its end. The sink's temp view is
    dropped before the return, so a long-lived session keeps no view
    per call; the returned DataFrame's plan holds the sink itself and
    reads the same rows on every action."""
    spark = df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def windowed_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is set) event-time window
    counts per event_type, tolerant of late data up to the watermark.
    Streaming twin of q32_tumbling_window.

    Values are summed in exact int64 e4 units (per-row
    floor(value*10000)): an integer sum cannot change with micro-batch
    boundaries or state-merge order, so the result equals the batch
    answer bit for bit. It stays int64 (not decimal like the batch
    rollups): the group is ONE window of one type, so the sum is
    bounded by arrival rate, not corpus size -- ~1e7/row quantized
    needs ~1e12 rows in a single window to wrap."""
    w = (
        F.window("ts", window, slide)
        if slide
        else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.floor(F.col("value") * 10000).cast("long")).alias(
                "sum_value_e4"
            ),
        )
        .select(
            F.col("w.start").cast("long").alias("bucket_start"),
            "event_type",
            "cnt",
            "sum_value_e4",
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
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total, emitted on every update.

    This is the engine's arbitrary-state extension point (the
    streaming analog of the reference's custom-kernel registration,
    README.md:354-378): state lives in the state store, partitioned by
    key, recoverable from checkpoints — not in Python memory.

    The accumulator is exact int64 e4 units (per-row
    floor(value*10000), then integer sums), emitted as
    ``total_value_e4 long``: integer accumulation is
    order-independent, so the result is bit-stable against an
    ANSI-SQL oracle regardless of micro-batch boundaries or
    state-merge order (the repo-wide ppm/e4 convention).
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    def update(key, pdfs, state: GroupState):
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

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            "user_id long, n_events long, total_value_e4 long",
            "n long, total long",
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


def _add_batch_totals(batch_df: DataFrame, existing: DataFrame) -> DataFrame:
    """Per-user (n_events, total_value) of one micro-batch, added onto
    the running totals in `existing`. Only the batch's users come out
    — the sink's merge keeps the rest."""
    delta = batch_df.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
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


def txn_upsert_totals_sink(table_path: str, ledger_key: str):
    """Transactional foreachBatch sink over the snapshot table format:
    the additive per-user merge AND the applied-batch-id ledger commit
    in ONE atomic manifest publish (table_format.merge_into app_id).

    foreachBatch is at-least-once across restarts, so a batch can be
    redelivered. A ledger written apart from the data leaves a window
    (a crash between the merge and the ledger write) in which a
    replayed batch double-counts. Here the crash points collapse to
    two cases, both safe:
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
    return _fixture_stream(spark, sf_dir, "documents")


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
