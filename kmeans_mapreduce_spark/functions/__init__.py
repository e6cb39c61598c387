from kmeans_mapreduce_spark.functions.distance import cosine_sim  # noqa: F401
