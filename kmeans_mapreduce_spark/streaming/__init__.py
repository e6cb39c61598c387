from kmeans_mapreduce_spark.streaming.stream_ops import (  # noqa: F401
    stream_window_counts,
    run_stream_to_memory,
)
