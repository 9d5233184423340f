"""Structured Streaming surface.

The reference is batch-only — its "streaming" is out-of-core paging
(README.md:12,340-352; EngineConfig.batch_size, lib.rs:27-28) and CUDA
transfer overlap (gpu-memory-manager/src/transfer_queue.rs:23-33).
Per the 100 TB mandate this engine adds real event-time stream
processing; the batch twins of these pipelines (q32/q33) are
oracle-checked, and tests assert stream==batch parity.
"""

from gpu_olap_engine_spark.streaming.pipelines import (
    dedup_stream,
    enrich_with_dimension,
    purchases_with_recent_views,
    read_events_stream,
    run_to_memory,
    running_user_totals,
    session_counts,
    stream_upsert_user_totals_txn,
    txn_upsert_totals_sink,
    windowed_counts,
)

__all__ = [
    "read_events_stream",
    "run_to_memory",
    "windowed_counts",
    "session_counts",
    "dedup_stream",
    "running_user_totals",
    "enrich_with_dimension",
    "purchases_with_recent_views",
    "stream_upsert_user_totals_txn",
    "txn_upsert_totals_sink",
]
