from fever_spark.streaming.sketch_stream import (
    StreamingSketchAccumulator, windowed_counts_stream, session_collector_stream,
)
from fever_spark.streaming.dedup_stream import (
    bloom_stream_dedup, exact_stream_dedup,
)

__all__ = ["StreamingSketchAccumulator", "windowed_counts_stream",
           "session_collector_stream", "bloom_stream_dedup",
           "exact_stream_dedup"]
