"""Structured Streaming jobs over the events stream.

Net-new capability beyond the reference surface (SURVEY §2.10: the
reference has no streaming): event-time windows + watermarks for late
data, streaming dedup, stateful counting, and the parquet-state upsert
and quantile-summary sinks.
"""

from super_store_datawarehouse_spark.streaming.jobs import (
    dedup_events_stream,
    hourly_counts_stream,
    read_events_stream,
)

__all__ = ["read_events_stream", "hourly_counts_stream", "dedup_events_stream"]
