from edspdf_spark.streaming.stream import (
    read_pages_stream,
    stream_neardup_gate,
    windowed_ingest_metrics,
)

__all__ = [
    "read_pages_stream",
    "stream_neardup_gate",
    "windowed_ingest_metrics",
]
