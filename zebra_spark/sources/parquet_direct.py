"""Direct-read parquet encode: distribute row-group splits, read in-worker.

``encode_df`` (operators/encode.py) pipes rows JVM -> Arrow -> Python; that
double hop costs a full serialization of the input.  For the pure encode
job — where Python reads, encodes, and emits only small block rows — the
idiomatic high-throughput layout is to ship *splits* (file, row-group), not
rows: each task opens its split with pyarrow (local FS here; HDFS/S3
filesystems on a cluster) and streams batches straight into the codec.
This is exactly how Spark's own DataSourceV2 readers, and zebra's 1 MiB
chunked file streaming (zebra-core/src/Zebra/Serial/Binary/File.hs:104-126),
keep the scan on the worker.

Row-group granularity gives free partition pruning and deterministic
output independent of parallelism (split list is sorted).
"""

from __future__ import annotations

import glob
import os
from typing import Iterator

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from ..operators.encode import BLOCKS_DDL, encode_chunk_rows
from ..session import map_items


def row_group_footers(
    files: list[str],
) -> Iterator[tuple[str, int, pq.RowGroupMetaData]]:
    """``(file, row group, its footer metadata)`` for every row group of
    ``files``, in order; reads footers only."""
    for f in files:
        md = pq.ParquetFile(f, memory_map=True).metadata
        for rg in range(md.num_row_groups):
            yield f, rg, md.row_group(rg)


def list_row_groups(path: str) -> list[tuple[str, int]]:
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) or [path]
    return [(f, rg) for f, rg, _ in row_group_footers(files)]


def encode_parquet_direct(
    spark: SparkSession,
    path: str,
    rows_per_block: int = 1 << 16,
    max_block_values: int = 1 << 22,
    columns: list[str] | None = None,
    tasks_per_core: int = 4,
) -> DataFrame:
    """Encode a parquet dataset without the JVM->Python row hop.

    Returns the same blocks DataFrame as ``encode_df``.
    """
    splits = list_row_groups(path)
    # group splits into ~tasks_per_core tasks per core instead of one task
    # per row group: each task streams its contiguous run of the sorted
    # split list, so per-task scheduling overhead amortizes — measured 26
    # row groups on local[1]: 26 tasks cost ~2.8 s of pure scheduling
    # against 1.8 s of compute.  The default 4x parallelism keeps elastic
    # balance against variable split sizes; on a large cluster splits >>
    # 4*cores and every core still gets a steady queue.  For short
    # benchmark legs over UNIFORM splits, pass 1: every task then gets an
    # equal run, and every python task has a fixed worker cost, measured
    # at 0.03 CPU-s for a one-row no-op mapInArrow on local[1], which on a
    # ~2 s leg is still worth not multiplying.
    n_tasks = tasks_per_core * spark.sparkContext.defaultParallelism

    def gen(task_splits: Iterator[tuple[str, int]]) -> Iterator[pa.RecordBatch]:
        for p, rg in task_splits:
            # memory_map: page-cache reads without userspace copies —
            # measured ~7% off the tokens-column decode (guide §6)
            pf = pq.ParquetFile(p, memory_map=True)
            table = pf.read_row_group(rg, columns=columns)
            # one state per row group: block_id seq stays unique across
            # chunks
            state = {"seq": 0}
            for chunk in table.to_batches(max_chunksize=rows_per_block):
                yield from encode_chunk_rows(
                    chunk, task_tag=f"{os.path.basename(p)}:{rg}",
                    max_block_values=max_block_values, _state=state,
                )

    return map_items(spark, splits, gen, BLOCKS_DDL, n_tasks)


def encode_metrics_direct(
    spark: SparkSession,
    path: str,
    rows_per_block: int = 1 << 16,
    tasks_per_core: int = 1,
) -> DataFrame:
    """Encode a parquet dataset and return per-TASK codec metric sums
    (rows/raw/enc/zebra bytes + token count) — the dry-run / size-estimate
    job, and the scaling-bench leg.

    Unlike ``encode_parquet_direct`` + a JVM-side aggregate, the fold over
    block rows happens IN the encode task (python-side), so encoded
    payloads never cross the Arrow socket: one tiny row per task reaches
    the JVM.  This mirrors the production sink shape — write_zebra_files
    also streams payloads to storage from python and ships only manifest
    rows — and matters for measurement: at local[4] on a 4-core host
    grant, JVM ingest of ~300 MB of payload rows steals ~1 s from the
    python workers (measured r6), polluting the N-vs-4N wall ratio with
    sink cost that a per-executor sink would overlap.
    """
    splits = list_row_groups(path)

    def gen(task_splits: Iterator[tuple[str, int]]) -> Iterator[pa.RecordBatch]:
        # called once per task, so the fold spans the task's whole run
        tot = {"rows": 0, "raw": 0, "enc": 0, "zebra": 0, "tok": 0}
        for p, rg in task_splits:
            pf = pq.ParquetFile(p, memory_map=True)
            table = pf.read_row_group(rg)
            if "n_tok" in table.column_names:
                tot["tok"] += int(table.column("n_tok").to_numpy().sum())
            state = {"seq": 0}
            for chunk in table.to_batches(max_chunksize=rows_per_block):
                for blk in encode_chunk_rows(
                    chunk,
                    task_tag=f"{os.path.basename(p)}:{rg}",
                    _state=state,
                ):
                    tot["rows"] += blk.column("n_rows")[0].as_py()
                    tot["raw"] += blk.column("raw_bytes")[0].as_py()
                    tot["enc"] += blk.column("enc_bytes")[0].as_py()
                    tot["zebra"] += blk.column("zebra_bytes")[0].as_py()
        yield pa.RecordBatch.from_pydict(
            {
                "n_rows": [tot["rows"]],
                "n_tokens": [tot["tok"]],
                "raw_bytes": [tot["raw"]],
                "enc_bytes": [tot["enc"]],
                "zebra_bytes": [tot["zebra"]],
            }
        )

    return map_items(
        spark,
        splits,
        gen,
        "n_rows long, n_tokens long, raw_bytes long, enc_bytes long, "
        "zebra_bytes long",
        tasks_per_core * spark.sparkContext.defaultParallelism,
    )
