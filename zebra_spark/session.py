"""SparkSession builder with scale-appropriate defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join handling,
arrow batches sized to the block size) but runnable on local[N].
"""

from __future__ import annotations

import os
from bisect import bisect_left
from functools import partial
from itertools import accumulate
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


def plan_tasks(
    sizes: Sequence[int], cores: int, open_cost: int, max_bytes: int
) -> list[range]:
    """Cut items of ``sizes`` bytes, each charged ``open_cost`` more, into
    contiguous, non-empty runs in list order, one per task: one task per
    core while items last, and more only in whole waves of ``cores``
    while a run of several items would exceed ``max_bytes``.  Runs end at
    the item boundaries nearest equal shares of the total."""
    k = len(sizes)
    if k == 0:
        return []
    ends = list(accumulate((s + open_cost for s in sizes), initial=0))
    total = ends[-1]
    # fewer waves than this leave some run above max_bytes
    n = min(k, cores * max(1, -(-total // (cores * max_bytes))))
    while True:
        cuts = [0]
        for j in range(1, n):
            share = total * j / n
            i = bisect_left(ends, share)
            if share - ends[i - 1] <= ends[i] - share:
                i -= 1
            cuts.append(min(max(i, cuts[-1] + 1), k - n + j))
        runs = [range(a, b) for a, b in zip(cuts, cuts[1:] + [k])]
        if all(len(r) == 1 or ends[r.stop] - ends[r.start] <= max_bytes for r in runs):
            return runs
        n = min(k, n + cores)


def _run_task(runs: list, fn: Callable, batches: Iterator) -> Iterator:
    ids = (j for rb in batches for j in rb.column(0).to_pylist())
    return fn(item for j in ids for item in runs[j])


def map_items(
    spark: SparkSession,
    items: Sequence,
    fn: Callable[[Iterator], Iterator],
    schema,
    sizes: Sequence[int],
) -> DataFrame:
    """Run ``fn(iterator over one task's items) -> Iterator[pa.RecordBatch]``
    once per task over a driver-side list whose item i is ``sizes[i]``
    bytes.  The one place that sizes a Python-read job: ``plan_tasks``
    with Spark's file-split settings and ``defaultParallelism`` cores.

    Task j is partition j of a ``spark.range`` and looks its run up in the
    list the task body carries (PySpark broadcasts one above 1 MB): no
    Python RDD, whose second worker pool skips worker_boot, and no
    shuffle.  The body is a module-level function under ``partial``, so
    it pickles by reference and its worker imports this package (and
    worker_boot) whatever ``fn`` names."""
    conf = spark._jsparkSession.sessionState().conf()
    cores = spark.sparkContext.defaultParallelism
    plan = plan_tasks(
        sizes, cores, conf.filesOpenCostInBytes(), conf.filesMaxPartitionBytes()
    )
    runs = [items[r.start:r.stop] for r in plan]
    return spark.range(0, len(runs), 1, max(1, len(runs))).mapInArrow(
        partial(_run_task, runs, fn), schema=schema
    )
