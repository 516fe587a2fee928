"""SparkSession factory with the engine's scale-oriented defaults.

Local testing uses ``local[N]``; the same config block is what we'd submit
with ``spark-submit --py-files`` to a real cluster — nothing here is
local-mode-specific except the master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if it is a number, else (unset, ``'*'`` or any
    other value) the number of cores this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "ehr_ner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    n = default_cpus()
    master = master or f"local[{n}]"
    if shuffle_partitions is None:
        # size to parallelism; at cluster scale this is ~2-3x total cores
        # (AQE coalesces small partitions back down at runtime)
        shuffle_partitions = max(2 * n, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-plan — coalesce shuffle partitions, skew-join split,
        # dynamic broadcast. Essential at 100 TB, harmless at sf0.01.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE does NOT coalesce beneath .persist() boundaries unless this is
        # on — and the linking stage persists its small per-surface frames,
        # so without it every cached sub-plan keeps the full shuffle width
        # (64 near-empty tasks per stage at small SF; pure scheduler
        # overhead).  Safe here: every query result is partition-order
        # independent (hash-checked sorted), and at warehouse scale AQE
        # sizes the cached output by bytes exactly as it does uncached.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow channel: the scorer UDF wants full batches (vectorized math
        # amortizes per-batch overhead; 10k rows x ~0.5 KB tokens is ~5 MB).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # keep the scorer resident across tasks (model-load-once semantics)
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # small single-file inputs must still fan out across the executors:
        # without a minimum split count a sub-128m table scans as ONE
        # partition and every pre-shuffle stage (explode, hash, Arrow UDF)
        # runs on one core.  At warehouse scale files outnumber cores and
        # this floor is a no-op.
        .config("spark.sql.files.minPartitionNum", str(2 * n))
        # deterministic TIMESTAMP_NTZ <-> epoch conversions everywhere
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
