"""SparkSession factory.

Local test mode runs local[N] in one JVM; the same configuration names hold
on a real cluster (spark.sql.* configs are cluster-side). Defaults follow the
scale guidance: AQE on (runtime join-strategy + skew handling), Arrow on
(pandas-UDF batches), shuffle partitions sized to cores locally — on a large
cluster this would be set to ~2-3x total executor cores or left to AQE
coalescing.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sciencebeam_parser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing floors partitions at 1 MB by default — but this
        # engine's hot stages are CPU-dense and byte-light (a few MB of
        # token rows drive ~30 window/regex expressions each), so the
        # 1 MB floor serialized them onto a handful of cores (measured:
        # cascade 11.1s -> 6.7s, segmentation features 8.8s -> 3.4s with
        # the lower floor). parallelismFirst still targets
        # bytes/defaultParallelism, so byte-heavy stages at cluster scale
        # coalesce exactly as before.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Two caches hold compiled code. (1) HotSpot's code cache holds
        # JIT-compiled machine code: long query suites compile thousands
        # of whole-stage-codegen classes, the JVM default (~240 MB) fills
        # after ~100 queries and the JIT silently degrades to interpreter
        # for every later plan (measured: the same query 6.6s standalone
        # vs 22s late in the bench suite), hence ReservedCodeCacheSize
        # below. (2) Spark's generated-class cache (Janino) is
        # spark.sql.codegen.cache.maxEntries, set after this block.
        .config(
            "spark.driver.extraJavaOptions",
            # append to (not clobber) any user/env-supplied options; note
            # this is a no-op when getOrCreate reuses a running JVM
            (
                os.environ.get("SPARK_DRIVER_EXTRA_JAVA_OPTIONS", "")
                + " -XX:ReservedCodeCacheSize=1g"
            ).strip(),
        )
        .config("spark.ui.enabled", "false")
        # Spark's generated-class cache is LRU with 100 entries by default.
        # A convert pass (q290 + q130) generates 179 distinct classes and
        # asks for them in the same cyclic order each pass, so every lookup
        # missed: 184-191 Janino compiles per warm pass, 0 at 2000 entries.
        # One sf0.01 sweep of all 279 queries generates 3835 distinct
        # classes and compiles 4007 at this size: only 172 are repeats.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # task start without re-parsing zip archive directories (pydaemon)
        .config("spark.python.daemon.module", "sciencebeam_parser_spark.pydaemon")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

