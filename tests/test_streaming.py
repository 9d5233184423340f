"""Streaming pipelines: run file-source streams to completion
(availableNow) and assert parity with the batch twins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpu_olap_engine_spark.queries import load_all
from gpu_olap_engine_spark.streaming import (
    dedup_stream,
    read_events_stream,
    run_to_memory,
    running_user_totals,
    session_counts,
    windowed_counts,
)
from tests.conftest import SF_SMALL


def test_windowed_counts_matches_batch(spark):
    stream = read_events_stream(spark, SF_SMALL)
    got = {
        (r["bucket_start"], r["event_type"]): (r["cnt"], r["sum_value_e4"])
        for r in run_to_memory(windowed_counts(stream), "complete").collect()
    }
    batch = load_all()["q32_tumbling_window"].fn(spark, SF_SMALL).collect()
    want = {
        (r["bucket_start"], r["event_type"]): r["cnt"] for r in batch
    }
    assert set(got) == set(want)
    for k, (cnt, _) in got.items():
        assert cnt == want[k]


def test_session_counts_total_events(spark):
    stream = read_events_stream(spark, SF_SMALL)
    rows = run_to_memory(session_counts(stream), "complete").collect()
    # every event lands in exactly one session
    n_events = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    assert sum(r["n_events"] for r in rows) == n_events
    # session count per user matches the batch sessionizer (q33)
    batch = {
        r["user_id"]: r["n_sessions"]
        for r in load_all()["q33_sessionize"].fn(spark, SF_SMALL).collect()
    }
    stream_counts: dict[int, int] = {}
    for r in rows:
        stream_counts[r["user_id"]] = stream_counts.get(r["user_id"], 0) + 1
    assert stream_counts == batch


def test_dedup_stream_drops_duplicates(spark):
    stream = read_events_stream(spark, SF_SMALL)
    out = run_to_memory(dedup_stream(stream), "append")
    total = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    distinct_ids = out.select("event_id").distinct().count()
    assert out.count() == distinct_ids  # no dup ids in output
    assert distinct_ids <= total


def test_stateful_running_totals_matches_batch(spark):
    """applyInPandasWithState totals after the full stream equal the
    plain batch aggregation, exactly (integer e4 units)."""
    stream = read_events_stream(spark, SF_SMALL)
    # single availableNow batch -> one update row per user
    got = {
        r["user_id"]: (r["n_events"], r["total_value_e4"])
        for r in run_to_memory(running_user_totals(stream), "update").collect()
    }
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 10000).cast("long")).alias("t"),
        )
        .collect()
    }
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark):
    """Watermarked stream-stream join result == the equivalent batch
    interval join over the full dataset (availableNow processes
    everything, so no rows are lost to the watermark)."""
    from gpu_olap_engine_spark.streaming import purchases_with_recent_views

    stream = read_events_stream(spark, SF_SMALL)
    joined = run_to_memory(purchases_with_recent_views(stream), "append")
    got = {(r["purchase_id"], r["view_id"]) for r in joined.collect()}
    from gpu_olap_engine_spark.queries.tables import T

    ev = T(spark, SF_SMALL, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r["purchase_id"], r["view_id"])
        for r in p.join(
            v,
            F.expr(
                "p_user = v_user AND view_ts <= purchase_ts "
                "AND view_ts >= purchase_ts - INTERVAL 1 HOUR"
            ),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stream_static_join_enriches(spark):
    """Stream-static join: events enriched against a static user
    dimension; every event matched (user ids derive from custkeys)."""
    from gpu_olap_engine_spark.streaming import enrich_with_dimension

    stream = read_events_stream(spark, SF_SMALL)
    dim = (
        spark.read.parquet(f"{SF_SMALL}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    out = run_to_memory(
        enrich_with_dimension(stream, dim, ["user_id"]).select(
            "event_id", "user_id", "c_mktsegment"
        ),
        "append",
    )
    total = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    assert out.count() == total
    assert out.filter(F.col("c_mktsegment").isNull()).count() == 0


def test_sliding_window_covers_each_event_twice(spark):
    stream = read_events_stream(spark, SF_SMALL)
    out = run_to_memory(
        windowed_counts(stream, window="20 minutes", slide="10 minutes"),
        "complete",
    )
    total = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    emitted = out.agg(F.sum("cnt").alias("s")).collect()[0]["s"]
    assert emitted == 2 * total  # every event belongs to exactly 2 windows


def test_corpus_ingest_stream_matches_batch_dedup(spark, tmp_path):
    """Streaming corpus ingestion (fingerprint dedup on arrival) must
    land exactly the batch-distinct row count, and a second
    availableNow run over the same input must add nothing (checkpoint
    makes the ingest idempotent). Two inputs: the single-file fixture
    and the same documents as a multi-file table directory (the
    layout of the ~sf1/~sf10 replicas)."""
    from gpu_olap_engine_spark.operators.dedup import base_hash
    from gpu_olap_engine_spark.streaming.pipelines import (
        ingest_corpus_stream,
        read_documents_stream,
    )

    multi = str(tmp_path / "multi")
    spark.read.parquet(f"{SF_SMALL}/documents.parquet").repartition(3).write.parquet(
        f"{multi}/documents.parquet"
    )
    for i, sf in enumerate((SF_SMALL, multi)):
        out, ckpt = str(tmp_path / f"corpus{i}"), str(tmp_path / f"ckpt{i}")
        docs = read_documents_stream(spark, sf)
        q = ingest_corpus_stream(docs, out, ckpt).start()
        q.awaitTermination(120)

        batch = spark.read.parquet(f"{sf}/documents.parquet")
        want = (
            batch.select(base_hash(F.lower(F.trim(F.col("text")))).alias("fp"))
            .distinct()
            .count()
        )
        got = spark.read.parquet(out)
        assert got.count() == want
        assert got.select("fingerprint").distinct().count() == want

        # replay: same input, same checkpoint -> no new rows
        q2 = ingest_corpus_stream(read_documents_stream(spark, sf), out, ckpt).start()
        q2.awaitTermination(120)
        assert spark.read.parquet(out).count() == want


def test_txn_upsert_sink_exactly_once_accumulates(spark, tmp_path):
    """Transactional sink parity: one availableNow pass lands the batch
    aggregate in the snapshot table; a second query (fresh checkpoint)
    doubles every total — additive across queries, exactly-once within
    one."""
    from gpu_olap_engine_spark.sources import table_format as tf
    from gpu_olap_engine_spark.streaming import stream_upsert_user_totals_txn

    table = str(tmp_path / "totals_t")
    want = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    for pass_no in (1, 2):
        stream = read_events_stream(spark, SF_SMALL)
        q = stream_upsert_user_totals_txn(
            stream, table, str(tmp_path / f"ck{pass_no}")
        )
        q.awaitTermination(120)
        got = {
            r["user_id"]: (r["n_events"], round(r["total_value"], 6))
            for r in tf.read_snapshot(spark, table).collect()
        }
        assert set(got) == set(want)
        for k, (n, t) in want.items():
            assert got[k][0] == pass_no * n
            assert abs(got[k][1] - pass_no * t) < 1e-6


def test_txn_sink_crash_mid_commit_restart_converges(spark, tmp_path, monkeypatch):
    """The crash-recovery property the legacy ledger could not give:
    kill the writer at the EXACT atomicity boundary — after the txn's
    data files are written, before the manifest link publishes — then
    restart the stream on the same checkpoint. The redelivered batch
    must apply exactly once: no loss (the checkpoint had not advanced)
    and no duplication (nothing of the dead txn is referenced). The
    injected failure raises out of foreachBatch, killing the streaming
    query the same way a process death would land for the store."""
    from gpu_olap_engine_spark.sources import table_format as tf
    from gpu_olap_engine_spark.streaming import stream_upsert_user_totals_txn

    table = str(tmp_path / "totals_t")
    ckpt = str(tmp_path / "ck")

    real_publish = tf._publish
    crashes = {"armed": False, "hits": 0}

    def crashing_publish(path, version, manifest):
        if crashes["armed"] and manifest["op"] == "merge":
            crashes["armed"] = False
            crashes["hits"] += 1
            raise OSError("simulated writer death before commit")
        real_publish(path, version, manifest)

    monkeypatch.setattr(tf, "_publish", crashing_publish)
    crashes["armed"] = True
    q = stream_upsert_user_totals_txn(read_events_stream(spark, SF_SMALL), table, ckpt)
    with pytest.raises(Exception, match="simulated writer death|StreamingQuery"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    assert crashes["hits"] == 1
    # nothing visible: the table is still the empty create version
    assert tf.read_snapshot(spark, table).count() == 0

    # restart on the SAME checkpoint: the unacked batch is redelivered
    q2 = stream_upsert_user_totals_txn(read_events_stream(spark, SF_SMALL), table, ckpt)
    q2.awaitTermination(120)
    assert q2.exception() is None
    monkeypatch.undo()

    want = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in tf.read_snapshot(spark, table).collect()
    }
    assert set(got) == set(want)
    for k, (n, t) in want.items():
        assert got[k][0] == n, "lost or duplicated rows after crash+restart"
        assert abs(got[k][1] - t) < 1e-6
    # the dead txn's orphan files are unreferenced -> vacuum reaps them
    assert tf.vacuum_table(table) >= 1


def test_txn_sink_replay_after_commit_is_skipped(spark, tmp_path):
    """Crash AFTER the manifest link: the batch id is already in the
    manifest, so the redelivered batch is a no-op (the dup half of
    exactly-once, exercised via direct sink calls)."""
    from gpu_olap_engine_spark.sources import table_format as tf
    from gpu_olap_engine_spark.streaming import txn_upsert_totals_sink

    table = str(tmp_path / "totals_t")
    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    schema = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    ).schema
    tf.create_table(spark.createDataFrame([], schema), table)

    sink = txn_upsert_totals_sink(table, "qA")
    sink(events, 0)
    v_after = tf.latest_version(table)
    first = {
        r["user_id"]: r["n_events"]
        for r in tf.read_snapshot(spark, table).collect()
    }
    sink(events, 0)  # redelivery of a committed batch
    assert tf.latest_version(table) == v_after  # no new commit at all
    sink(events, 1)  # genuinely new batch still merges
    second = {
        r["user_id"]: r["n_events"]
        for r in tf.read_snapshot(spark, table).collect()
    }
    assert all(second[k] == 2 * first[k] for k in first)


def test_session_window_gap_boundary(spark, tmp_path):
    """Pins the boundary rule stream_session_windows' oracle encodes:
    an event arriving EXACTLY gap after the previous one MERGES into
    the running session (new session iff diff > gap), while one
    microsecond beyond the gap splits. Built data, run through the
    real streaming entry — the fixture's microsecond timestamps never
    land on the boundary, so only this test guards it."""
    import pandas as pd

    from gpu_olap_engine_spark.queries import load_all

    gap_us = 1_800_000_000
    t0 = pd.Timestamp("2025-01-01 00:00:00")
    rows = [
        # user 1: second event exactly at t0+gap -> MERGES, one session
        (1, 1, t0),
        (2, 1, t0 + pd.Timedelta(microseconds=gap_us)),
        # user 2: second event 1us inside the gap -> one session
        (3, 2, t0),
        (4, 2, t0 + pd.Timedelta(microseconds=gap_us - 1)),
        # user 3: second event 1us beyond the gap -> two sessions
        (5, 3, t0),
        (6, 3, t0 + pd.Timedelta(microseconds=gap_us + 1)),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts"]
    ).assign(event_type="view", value=1.0, props="{}")
    sf_dir = str(tmp_path / "sf")
    spark.createDataFrame(
        pdf[["event_id", "ts", "user_id", "event_type", "value", "props"]]
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")
    entry = load_all()["stream_session_windows"]
    out = entry.fn(spark, sf_dir)
    per_user = {
        r.user_id: r.cnt
        for r in out.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert per_user == {1: 1, 2: 1, 3: 2}
    # the oracle must agree on the same data: run it through DuckDB
    import duckdb

    oracle = entry.oracle
    duck = duckdb.connect()
    duck.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    odf = duck.sql(oracle).df()
    o_per_user = odf.groupby("user_id").size().to_dict()
    assert o_per_user == {1: 1, 2: 1, 3: 2}


STREAM_ENTRIES = (
    "stream_windowed_counts",
    "stream_session_windows",
    "stream_interval_join",
    "stream_dedup_keys",
    "stream_user_totals",
)


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_stream_entries_leave_no_view(spark):
    """A long-lived session keeps no state per streaming call: running
    every registry entry that executes a stream leaves no memory-sink
    temp view behind, and each result still reads the same rows on a
    second action."""
    from collections import Counter

    before = _temp_views(spark)
    for name in STREAM_ENTRIES:
        df = load_all()[name].fn(spark, SF_SMALL)
        first = Counter(df.collect())
        assert first, name
        assert Counter(df.collect()) == first, name
    assert _temp_views(spark) == before
