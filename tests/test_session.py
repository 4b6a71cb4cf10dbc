"""The session factory's codegen-cache sizing: a plan whose generated Java
source was compiled before reuses the cached class."""

from pyspark.sql import functions as F


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
