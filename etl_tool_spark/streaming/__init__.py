"""Structured Streaming surface (ABSENT in the reference — it is
explicitly batch-only, playbook_development_guide.md:460)."""

from etl_tool_spark.streaming.dedup import (
    clean_ingest_stream,
    exact_dedup_stream,
    budget_ingest_stream,
    full_clean_ingest_stream,
    land_budget_batch,
    near_dedup_ingest_stream,
    near_dedup_stream,
    semantic_ingest_stream,
)
from etl_tool_spark.streaming.cdc import (
    cdc_merge_stream,
    list_versions,
    merge_cdc_batch,
    read_snapshot,
    restore_version,
    snapshot_diff,
    vacuum,
)
from etl_tool_spark.streaming.events import (
    interval_join_streams,
    read_events_stream,
    sessionize_stream,
    stream_to_memory,
    streaming_dedup,
    windowed_counts,
)

__all__ = ["near_dedup_stream", "exact_dedup_stream", "clean_ingest_stream",
           "read_events_stream", "windowed_counts", "sessionize_stream",
           "streaming_dedup", "stream_to_memory", "interval_join_streams",
           "merge_cdc_batch", "cdc_merge_stream", "read_snapshot",
           "list_versions", "vacuum", "snapshot_diff", "restore_version",
           "budget_ingest_stream", "land_budget_batch",
           "full_clean_ingest_stream", "near_dedup_ingest_stream",
           "semantic_ingest_stream"]
