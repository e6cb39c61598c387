from kmeans_mapreduce_spark.operators.kmeans import (  # noqa: F401
    KMeansResult,
    assign,
    bbox,
    fit,
    init_random,
    lloyd_step,
    recompute,
    wssse,
)
