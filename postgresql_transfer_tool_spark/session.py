"""SparkSession factory tuned for the engine.

The reference tool runs a single sequential psycopg2 connection pair
(``transfer_data_script.py:18-19,88``); here a session is a full Spark
runtime. Local-mode settings mirror what a 1000-executor cluster profile
would set per-executor: AQE on (runtime shuffle-partition coalescing,
broadcast-join conversion, skew-join splitting), Arrow for any
Python-boundary crossing, UTC session time zone so timestamp semantics
are engine-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "postgresql_transfer_tool_spark"

#: generated-class cache capacity; see the comment in :func:`tuning_conf`
CODEGEN_CACHE_ENTRIES = 8192


def default_parallelism() -> int:
    """CPU budget: honours the driver's SPARK_GRAFT_CPUS contract."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def tuning_conf(cpus: int | None = None) -> dict[str, str]:
    """Engine configuration, applicable to local mode and cluster mode alike.

    ``spark.sql.shuffle.partitions`` is sized to the actual core budget
    (the 200 default over-parallelizes small local runs and
    under-parallelizes a 100 TB cluster run — AQE coalescing then adapts
    downward at runtime, so we set the *ceiling* to ~2× cores).
    """
    cpus = cpus or default_parallelism()
    return {
        "spark.sql.shuffle.partitions": str(max(2 * cpus, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Broadcast decisions are RUNTIME-ONLY (AQE), never static:
        # static size estimates propagate through localCheckpoint
        # barriers from the ORIGIN plan and wildly underestimate
        # post-explode relations — at the 100× sweep the planner chose
        # to broadcast the 100M-row shingle relation (twice) plus its
        # per-doc counts and OOMed the driver. AQE converts to
        # broadcast from EXACT shuffle-stage sizes, so genuinely small
        # sides still broadcast at runtime, and explicit F.broadcast()
        # hints on bounded dimensions are unaffected.
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # Generated-class (Janino) cache, shared by every query in the
        # JVM; executors keep their own, sized by the same setting. The
        # default 100 entries is below the engine's working set: one
        # full-registry pass at sf0.01 compiles 4,166 distinct classes
        # (CodegenMetrics compile count, unbounded cache) and one
        # memo-cold pass over the 8 curation rows ≈240, so with the
        # default every later curation pass recompiled ≈235 of them
        # (6 at this size). 8192 is about twice the registry's working
        # set. Metaspace after the registry pass was 230 MB, and 165 MB
        # after three curation passes with either size (4 cores).
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }


def get_spark(app_name: str = DEFAULT_APP_NAME, cpus: int | None = None) -> SparkSession:
    """Create (or reuse) a local SparkSession with the engine's tuning.

    Used by tests and ``bench.py``; the verification driver passes in its
    own session, which every query function accepts as a parameter.
    """
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in tuning_conf(cpus).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # every lazy localCheckpoint warns once that its lineage was
    # truncated (34 lines in one memo-cold curation job); the engine
    # checkpoints on purpose, so keep only errors from that logger
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD", jvm.org.apache.logging.log4j.Level.ERROR
    )
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled so far in this JVM (the driver's
    ``CodegenMetrics`` compile count); a delta around a query is the
    number of classes it compiled instead of taking from the cache."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())
