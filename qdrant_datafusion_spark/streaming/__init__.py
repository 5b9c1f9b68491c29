"""Structured Streaming extension.

The reference has no streaming at all — its scan is explicitly bounded
(reference src/table.rs:248-249, ``Boundedness::Bounded`` +
``EmissionType::Final``), and pagination is an unimplemented TODO
(src/stream.rs:20-23).  This module is the additive north-star surface:
continuous ingestion into collection tables plus the standard streaming
operators (windowed aggregation with watermarks, sessionization, stateful
dedup at ingest time).
"""

from qdrant_datafusion_spark.streaming.ingest import (  # noqa: F401
    sessionized_counts,
    stream_apply_changes,
    stream_collection_writer,
    stream_dedup_exact,
    stream_interval_join,
    stream_near_dup_ingest,
    stream_paragraph_ingest,
    stream_semantic_ingest,
    streaming_funnel,
    streaming_topk,
    windowed_event_counts,
)
