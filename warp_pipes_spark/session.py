"""SparkSession factory with scale-oriented defaults.

Single place to configure the engine: AQE on (runtime re-planning, skew-join
handling, partition coalescing), Arrow on (vectorized pandas-UDF transfer),
shuffle partitions sized for the local harness but overridable for clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def driver_mem() -> str:
    """The driver heap: ``SPARK_GRAFT_DRIVER_MEM`` when set, else the
    smaller of 24g and a quarter of physical memory."""
    if mem := os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return mem
    quarter_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 4 // 2**20
    return "24g" if quarter_mb >= 24 * 1024 else f"{quarter_mb}m"


def get_spark(
    app_name: str = "warp-pipes-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # runtime re-planning: skew-join splitting, small-partition coalescing
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level filtering: build a Bloom filter on the small
        # (creation) side of a shuffle join and push it into the large
        # side's scan — prunes most probe rows before the exchange on
        # selective joins (e.g. incremental dedup's batch-vs-corpus anti
        # join) with zero semantic change
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # PySpark 4 wraps EVERY DataFrame API call to capture the Python
        # call site for error enrichment: an inspect-stack walk plus two
        # extra py4j round trips (PySparkCurrentOrigin.set/clear) per
        # call. Pure driver-side overhead — measured ~30% of warm
        # DataFrame-construction time on the chattiest operators
        # (construction is half the wall time of a 239-query catalog
        # run). Error messages lose only the Python-frame annotation.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Arrow for pandas UDF / mapInPandas hot paths
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # generated-class cache: a plan whose Java source was compiled
        # before reuses the class instead of Janino-compiling it again
        # (and C2 re-JIT-compiling the new bytecode). Measured working
        # sets (distinct classes, perfbench seed 101, 4 vCPU): one
        # 120-document curate pass 116; serve set-up 170 and each
        # 16-query batch 63; one bench.py catalog run at sf0.001 3,445.
        # Guava splits the cap over 4 segments that evict on their own,
        # so at Spark's default of 100 every curate pass recompiled 103
        # of its 116 classes. 1,000 gives each segment 250 slots against
        # an expected 58 of the largest repeated working set (serve, at
        # most 233): a repeated pass compiles nothing. The catalog run
        # does not fit and compiles 3,720 classes (5,273 at 100), the
        # price of keeping the cache at about 5 MB: each cached class
        # pins 4-5 KB of metaspace through its class loader. Static and
        # JVM-wide, read when the first class is generated: a session
        # built outside this factory keeps Spark's 100.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # keep driver output deterministic for tests
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver heap IS the executor heap for all worker
        # threads, and the only bound on the engine's memory. A cap above
        # physical memory never makes the JVM collect: it grows until the
        # kernel's OOM killer takes it. So the heap is the smaller of 24g
        # (hosts of 96 GB and more) and a quarter of physical memory: the
        # JDK's own default maximum heap (MaxRAMPercentage=25), and the
        # rule perfbench sets for itself. SPARK_GRAFT_DRIVER_MEM overrides it.
        .config("spark.driver.memory", driver_mem())
        .config("spark.ui.enabled", "false")
        # managed-table warehouse (bucketed tables) kept out of the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/wps-warehouse"),
        )
        .config(
            # derby home for the managed-table metastore; widened JIT code
            # cache — a long-lived session compiles hundreds of generated
            # WholeStageCodegen classes, and the JDK default (240 MB)
            # degrades to interpreted execution once full
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/wps-derby -XX:ReservedCodeCacheSize=640m",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
