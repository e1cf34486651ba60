"""SparkSession construction with scale-appropriate defaults.

These configs are chosen for the 100 TB design point and degrade
gracefully on local[N]:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing)
* Arrow enabled with bounded batch size — the extraction UDFs are
  Arrow-batched; maxRecordsPerBatch bounds executor memory per batch the
  way the reference bounds DataLoader batches (gliner/model.py:1461-1466)
* shuffle partitions sized by caller (cores on local; thousands on a
  real cluster)
* 128 MiB file split targets so a 100 TB scan yields ~800k well-sized
  input partitions rather than a few giant ones
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "gliner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 256,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # Partition count is a per-task MEMORY bound before it is a
    # parallelism knob (SCALE.md "Shuffle-partition count is a memory
    # knob"): at 2×cores, wide joins over exploded rows ran their hash
    # aggregates 32-concurrent into the shared local-mode heap and
    # collapsed 5.8× (measured, round 5). Start high; AQE coalesces
    # the small ones at runtime for free.
    shuffle_partitions = shuffle_partitions or max(cpus * 8, 64)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs executors inside the driver JVM: size the heap
        # for cores × working set, not for a driver-only process
        # (only effective before the JVM starts)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
