"""The session factory's sizing: the driver heap follows the host's memory,
and a plan whose generated Java source was compiled before reuses the cached
class."""

import os

from pyspark.sql import functions as F

from warp_pipes_spark.session import driver_mem


def _heap_on_host(monkeypatch, phys_gb: int) -> str:
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_gb * 2**30 // page}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    return driver_mem()


def test_driver_heap_is_a_quarter_of_memory_capped_at_24g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert _heap_on_host(monkeypatch, 16) == "4096m"
    assert _heap_on_host(monkeypatch, 96) == "24g"
    assert _heap_on_host(monkeypatch, 256) == "24g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert _heap_on_host(monkeypatch, 16) == "6g"
    assert _heap_on_host(monkeypatch, 256) == "6g"


def test_session_takes_its_heap_from_the_rule(spark):
    assert spark.sparkContext.getConf().get("spark.driver.memory") == driver_mem()


def _janino_compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_repeated_plans_hit_the_codegen_cache(spark):
    # each literal is inlined into the generated source, so 150 plans are
    # 150+ distinct classes: more than Spark's default cache of 100 holds
    def one_round():
        for i in range(150):
            spark.range(64).filter(F.col("id") != F.lit(i)).agg(F.sum("id")).collect()

    one_round()
    before = _janino_compiles(spark)
    one_round()
    assert _janino_compiles(spark) - before == 0
