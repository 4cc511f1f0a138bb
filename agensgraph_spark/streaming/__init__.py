from agensgraph_spark.streaming.ingest import (  # noqa: F401
    stream_file_source,
    stream_dedup,
    windowed_event_counts,
    stream_append_label,
    drain_to_memory,
)
