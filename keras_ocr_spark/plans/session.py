"""SparkSession builder with the engine's scale-oriented defaults.

All skew/shuffle knobs are set here once: AQE (runtime re-plan +
coalesce + skew-join splitting), Arrow for the Python-UDF boundary,
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


def engine_conf(master: str | None = None, shuffle_partitions: int | None = None) -> dict[str, str]:
    """The SQL settings :func:`build_session` gives a session with this
    ``master`` (``None``: the one spark-submit chose). The jobs report
    their session's values of these keys in their summaries."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    local = master or ""
    n_threads = int(local[6:-1]) if local.startswith("local[") and local[6:-1].isdigit() else cpus
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or max(n_threads, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        # Static: read once when the JVM's codegen cache is created.
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.sql.codegen.useIdInClassName": "false",
    }


def build_session(
    app_name: str = "keras_ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The engine's session. ``spark.master`` is set only when ``master``
    is given; under spark-submit, pass none and the submitted master
    stands."""
    conf = {
        **engine_conf(master, shuffle_partitions),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        # Batch-throughput GC: ParallelGC beats G1's latency-oriented
        # defaults for string-heavy scan/shuffle workloads (measured ~1.8x
        # on the extraction pipeline at local[32]). Its adaptive sizing
        # grows the young generation after collections, up to a third of
        # the heap by default, by amounts that follow pause and interval
        # timings, so the same 3g-heap extraction run peaked anywhere
        # from ~1.6 to ~2.1 GB RSS. NewRatio=6 caps the young generation
        # at a seventh of the heap, about what most runs grew to anyway,
        # so the footprint no longer drifts with timing. Takes effect only
        # on fresh JVM launch — irrelevant for an already-running gateway.
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -XX:NewRatio=6",
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
