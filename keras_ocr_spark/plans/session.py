"""SparkSession builder with the engine's scale-oriented defaults.

All skew/shuffle knobs are set here once: AQE (runtime re-plan +
coalesce + skew-join splitting), Arrow for the pandas-UDF boundary,
UTC session timezone (so DuckDB oracle comparison is well-defined),
shuffle partitions sized to cores rather than the 200 default.

The codegen cache is sized to hold a pass's working set. A
``curate_corpus`` pass generates 137 distinct classes on a cold JVM
(1,000 docs, 4 vCPUs), more than Spark's default cache of 100 entries,
so every warm pass evicted the classes of the one before and Janino
recompiled 164-171 of them. With 1000 entries a warm pass compiles
none. The cache key is the generated source, which by default embeds
the whole-stage codegen stage id; AQE numbers stages as it plans them,
so the same stage could come back under another id and compile again —
hence ``useIdInClassName`` off.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "keras_ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    n_threads = int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else cpus
    shuffle_partitions = shuffle_partitions or max(n_threads, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Static: read once when the JVM's codegen cache is created.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Batch-throughput GC: ParallelGC beats G1's latency-oriented
        # defaults for string-heavy scan/shuffle workloads (measured ~1.8x
        # on the extraction pipeline at local[32]). Takes effect only on
        # fresh JVM launch — irrelevant for an already-running gateway.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
