"""Structured Streaming: incremental DICOM ingest (the S3-event pattern)
and watermarked window aggregations."""

from .ingest_stream import start_ingest_stream  # noqa: F401
from .windows import (  # noqa: F401
    sessionized_counts,
    sliding_counts,
    streaming_dedup,
    tumbling_counts,
)
from .stateful import running_totals  # noqa: F401
from .joins import enrich_with_dim, interval_join  # noqa: F401
from .upsert import latest_per_key, read_snapshot, start_upsert_sink  # noqa: F401
