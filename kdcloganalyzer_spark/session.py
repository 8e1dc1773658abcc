"""SparkSession factory with scale-appropriate defaults.

The defaults target the driver's bench box (local[32], 128 GiB) but every
knob is chosen to also be the right call on a 1000-executor cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow for any Python exchange, and a shuffle-partition count that AQE can
coalesce downward rather than a hardcoded small one it can't raise.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: local[N] task slots (and shuffle partitions) when SPARK_GRAFT_CPUS is unset
DEFAULT_CPUS = "32"
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS))
#: whole-stage codegen class cache (``spark.sql.codegen.cache.maxEntries``,
#: an LRU, Spark default 100). Sized to the engine's generated-code working
#: set, measured on 4 cores: one ingest op compiles 30 classes, one perfbench
#: query_mix cycle ~180-220, and one pass over all 408 registered ids at
#: sf0.001 ~4,300 (metaspace after that pass: 262 MB, against 232 MB at 100).
#: At 100 the query_mix cycle evicted every id's classes before the id ran
#: again, so each warm run recompiled 2-35 byte-identical classes (a Janino
#: compile each, then the JIT warming the fresh class up again). 8,192 is ~2x
#: the full registry. Static: read once per JVM when codegen first runs, so
#: it only takes effect through ``get_spark``'s builder; a plain
#: ``SparkSession.builder`` session (how ``__spark_entry__`` is called) keeps
#: Spark's 100.
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(
    app_name: str = "kdcloganalyzer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Adaptive execution: coalesce post-shuffle partitions, split skewed
        # joins, convert to broadcast at runtime. Essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for any pandas UDF / toPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Timestamps: keep everything session-tz independent.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Streaming checkpoint base on tmpfs when available: the bounded
    # bench/test streams are commit-latency-bound (measured −20-25% per
    # stateful query vs /tmp-on-disk), and a checkpoint that must
    # survive a DRIVER restart doesn't belong on local disk either —
    # on a real cluster this conf points at object storage / HDFS and
    # durability comes from that filesystem, not the local one. Each
    # query start gets its own random subdir under the base; the base
    # is removed at interpreter exit (appcache.tempdir), matching the
    # fresh-checkpoint-per-invocation contract every bounded stream
    # here uses. Explicit per-query checkpointLocation options (the
    # restart-semantics tests) override this base and are untouched.
    if not spark.conf.get("spark.sql.streaming.checkpointLocation", None):
        from kdcloganalyzer_spark import appcache

        spark.conf.set(
            "spark.sql.streaming.checkpointLocation",
            appcache.tempdir("kdcspark_ckpt_", fast=True),
        )
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM (Spark's ``CodegenMetrics``
    compilation-time histogram count). A codegen-cache hit compiles
    nothing, so the difference across a warm re-run is its cache misses."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
