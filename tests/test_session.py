"""Session sizing: the driver heap, checked without starting a JVM, and
the codegen class cache, checked in the test session."""

from __future__ import annotations

import types

from kmeans_mapreduce_spark import queries as Q
from kmeans_mapreduce_spark import session

# Registry queries that generate the same code on every run, so their
# second run is all codegen-cache hits. Together they compile about 160
# classes at sf0.001: more than Spark's default 100-entry cache holds.
_STABLE_QUERIES = [
    "join_min_cost_supplier",
    "join_top_customers",
    "join_excess_stock",
    "join_waiting_suppliers",
    "join_revenue_by_nation",
    "join_supplier_cnt",
    "join_small_quantity",
    "join_shipping_priority",
    "join_top_revenue_supplier",
    "join_idle_customers",
]


class _Builder:
    """Stands in for ``SparkSession.builder``: records the confs."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def test_driver_memory_is_half_the_box_capped_at_32g(monkeypatch):
    page = 4096

    def driver_mem(gib, env=None):
        phys = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": (gib << 30) // page}
        monkeypatch.setattr(session.os, "sysconf", phys.__getitem__)
        if env is None:
            monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", env)
        monkeypatch.setattr(
            session, "SparkSession", types.SimpleNamespace(builder=_Builder())
        )
        return session.get_spark()["spark.driver.memory"]

    assert driver_mem(15) == "7680m"
    assert driver_mem(64) == "32768m"
    assert driver_mem(512) == "32768m"
    # the environment variable stays a deployment override
    assert driver_mem(15, env="4g") == "4g"


def _clear_codegen_cache(spark):
    """Empty Spark's generated-class cache (a private static field of
    ``CodeGenerator``), so that what earlier tests left in it cannot
    turn the first round below into cache hits."""
    field = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    ).getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).loadingCache().invalidateAll()


def test_repeated_queries_compile_no_new_classes(spark, sf_dir):
    registry = Q.registry()

    def compiles_in_one_round():
        before = session.codegen_compiles(spark)
        for name in _STABLE_QUERIES:
            df = registry[name].build(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        return session.codegen_compiles(spark) - before

    _clear_codegen_cache(spark)
    first = compiles_in_one_round()
    assert first > 100, f"the round fits the default cache ({first} classes)"
    # an LRU smaller than the round evicts each class before its next use
    assert compiles_in_one_round() == 0
