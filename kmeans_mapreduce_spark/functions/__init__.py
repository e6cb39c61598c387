from kmeans_mapreduce_spark.functions.distance import (  # noqa: F401
    sq_dist_2d,
    nearest_centroid_2d,
    cosine_sim,
)
