"""SparkSession construction with scale-appropriate defaults.

Local mode here is the test harness; the config is written for a real
multi-executor cluster (AQE, Arrow batching, shuffle sizing) and only
the master URL changes under spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Bound the bytes per Arrow batch entering mapInPandas: oversized docs
# (>=256 KiB) at 256 rows/batch worst-case ~64 MB, normal docs ~2 MB.
ARROW_BATCH_ROWS = 256

# Entries of Spark's generated-code class cache (default 100). Measured
# through py4j (CodegenMetrics compile count) on 4 vCPUs, a fresh
# 64-doc job followed by ten 40-doc resumed deltas compiles 182 classes
# in all. At 100 every delta recompiles 62-80 of them; at 150 a
# replayed delta compiles 3-5; at 200, as at 300-2000, it compiles 3,
# the classes whose code differs per run. Each compile also costs C2
# JIT time, and a larger cache keeps more classes in memory.
CODEGEN_CACHE_ENTRIES = 200


def get_spark(
    app_name: str = "westa_ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: int | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # match parallelism: local[N] -> N, otherwise leave at 2x cores
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else 64

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # local mode: the driver JVM is the only memory pool (takes
        # effect at first session creation; under spark-submit the
        # submit-time flags win)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", "12g"),
        )
        # static too (first session creation only): holds the
        # generated classes of a run's plans, see CODEGEN_CACHE_ENTRIES
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
        # binary html payloads are large; keep scan splits modest so one
        # input split's worth of pages fits executor memory at 100 TB.
        # The narrow scan->extract->write plan parallelizes by input
        # split, so when total_input/splits < cores (small local runs)
        # shrink this so every core gets work.
        .config(
            "spark.sql.files.maxPartitionBytes",
            str(
                max_partition_bytes
                or int(os.environ.get(
                    "SPARK_MAX_PARTITION_BYTES", 128 * 1024 * 1024
                ))
            ),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
