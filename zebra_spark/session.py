"""SparkSession builder with scale-appropriate defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join handling,
arrow batches sized to the block size) but runnable on local[N].
"""

from __future__ import annotations

import os
from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

DEFAULT_ROWS_PER_BATCH = 1 << 16  # arrow batch == encode block candidate size


def get_spark(
    master: str | None = None,
    app_name: str = "zebra-spark",
    shuffle_partitions: int | None = None,
    rows_per_batch: int = DEFAULT_ROWS_PER_BATCH,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(rows_per_batch))
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("ZS_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def map_items(
    spark: SparkSession,
    items: Sequence,
    fn: Callable[[Iterator], Iterator],
    schema,
    n_tasks: int | None = None,
) -> DataFrame:
    """Run ``fn(iterator over one task's items) -> Iterator[pa.RecordBatch]``
    once per task over a driver-side list.

    Task i of n gets the contiguous run ``items[i*k//n:(i+1)*k//n]`` of a
    ``spark.range`` (n defaults to k) and looks its items up in the list
    the closure carries (PySpark broadcasts one above 1 MB): no Python RDD,
    whose second worker pool skips worker_boot, and no shuffle."""
    k = len(items)
    n = max(1, min(k, n_tasks or k))

    def run(batches):
        return fn(items[i] for rb in batches for i in rb.column(0).to_pylist())

    return spark.range(0, k, 1, n).mapInArrow(run, schema=schema)
