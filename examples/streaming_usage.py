#!/usr/bin/env python3
"""Structured Streaming tour: the engine's event-time surface.

The reference is batch-only (its "streaming" is out-of-core paging);
this walks the real stream pipelines the engine adds — file-source
stand-in for Kafka, event-time windows with watermarks, session
windows, and the exactly-once foreachBatch sink that maintains
per-user totals in a snapshot table. Each pipeline's batch twin is
oracle-checked (q32/q33); tests assert stream==batch parity.

Run: python3 examples/streaming_usage.py [fixture_dir]
(default fixture_dir: /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(data_dir: str = "/root/testdata/sf0.001") -> None:
    from gpu_olap_engine_spark.config import EngineConfig
    from gpu_olap_engine_spark.session import get_spark
    from gpu_olap_engine_spark.sources import table_format as tf
    from gpu_olap_engine_spark.streaming import (
        read_events_stream,
        run_to_memory,
        session_counts,
        stream_upsert_user_totals_txn,
        windowed_counts,
    )

    spark = get_spark(EngineConfig(shuffle_partitions=8), master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. event-time tumbling windows with a 30-minute watermark
    events = read_events_stream(spark, data_dir)
    wc = run_to_memory(windowed_counts(events), "complete")
    print("1. tumbling 10-min windows (top 5 by count):")
    wc.orderBy(wc.cnt.desc(), "bucket_start", "event_type").show(5)

    # 2. session windows per user (30-min gap)
    events = read_events_stream(spark, data_dir)
    sess = run_to_memory(session_counts(events), "complete")
    print("2. session windows (5 busiest):")
    sess.orderBy(sess.n_events.desc(), "user_id").show(5)

    # 3. exactly-once foreachBatch sink: per-user totals merged into a
    #    snapshot table, each batch id committed with its data
    with tempfile.TemporaryDirectory() as tmp:
        table, ckpt = f"{tmp}/totals", f"{tmp}/ckpt"
        q = stream_upsert_user_totals_txn(
            read_events_stream(spark, data_dir), table, ckpt
        )
        q.awaitTermination(120)
        print("3. snapshot-table user totals (top 5):")
        totals = tf.read_snapshot(spark, table)
        totals.orderBy(totals.total_value.desc(), "user_id").show(5)

    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
