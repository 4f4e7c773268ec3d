"""Structured Streaming re-expression of the reference's nightly batch.

The reference's only refresh model is a cron full rebuild
(README.md:261-263). At scale the same daily-grain aggregates come
from a stream: ``readStream`` over the events source, watermarked
tumbling windows, stateful dedup, and sessionization by Spark's native
``session_window`` (``events_stream.session_window_agg``).
"""

from marketing_etl_analytics_spark.streaming.events_stream import (  # noqa: F401
    daily_event_aggregates,
    dedup_events,
    read_events_stream,
)
