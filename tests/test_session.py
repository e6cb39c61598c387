"""Session sizing, checked without starting a JVM."""

from __future__ import annotations

import types

from kmeans_mapreduce_spark import session


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
