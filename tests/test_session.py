"""The session factory's sizing: the driver heap follows the host's memory,
a plan whose generated Java source was compiled before reuses the cached
class, and Python workers fork from the engine's daemon wherever the
session starts."""

import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from warp_pipes_spark import session
from warp_pipes_spark.session import driver_mem

_PACKAGE_DIR = os.path.dirname(os.path.abspath(session.__file__))


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


def test_python_workers_run_the_engine_daemon(spark):
    @F.pandas_udf("string")
    def invalidate_source(s):
        import zipimport

        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__code__.co_filename)

    (source,) = spark.range(1).select(invalidate_source("id")).first()
    assert os.path.basename(source) == "worker_daemon.py"
    assert os.path.samefile(source, os.path.join(_PACKAGE_DIR, "worker_daemon.py"))


def test_pandas_udf_runs_from_any_cwd_without_pythonpath(tmp_path):
    # the daemon is imported by module name: without the package on the
    # workers' path every Python task of such a session would fail
    repo = os.path.dirname(_PACKAGE_DIR)
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import functions as F
        from warp_pipes_spark.session import get_spark

        spark = get_spark(master="local[2]", shuffle_partitions=2)
        plus_one = F.pandas_udf(lambda s: s + 1, "long")
        print(sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[1, 2, 3]"
