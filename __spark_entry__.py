"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship full k-means fit on sf0.001;
``queries``/``oracle_sql`` expose every implemented operator from
SURVEY.md §2 (plus north-star extensions) with DuckDB oracle twins.
Implementation lives in ``kmeans_mapreduce_spark.queries``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full Lloyd's fit (seeded init → iterate → converge) on
    the sf0.001 lineitem-derived point set; returns final centroids."""
    from kmeans_mapreduce_spark.queries import q_kmeans_fit_centers

    return q_kmeans_fit_centers(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from kmeans_mapreduce_spark.queries import (
        core_queries,
        driver_ordered,
        extension_queries,
    )

    # every @query-registered builder; the 50 names of
    # queries.DRIVER_WINDOW_QUERIES (the driver's CORRECTNESS window)
    # come first, the rest follow in declaration order
    return driver_ordered({**core_queries(), **extension_queries()})


def oracle_sql() -> dict[str, str]:
    from kmeans_mapreduce_spark.queries import core_oracle_sql, extension_oracle_sql

    return {**core_oracle_sql(), **extension_oracle_sql()}
