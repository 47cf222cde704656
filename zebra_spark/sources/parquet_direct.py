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
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ..codec.arrowbuf import batch
from ..operators.encode import BLOCKS_DDL, encode_chunk_rows
from ..session import map_items


def row_groups(
    footers: list[tuple[str, pq.FileMetaData]], keep=None
) -> tuple[list[tuple[str, int]], list[int]]:
    """The ``(file, row group)`` items of the ``(file, footer)`` pairs, in
    order, whose metadata ``keep`` accepts (all without it), and their
    compressed bytes: the items and sizes ``map_items`` plans."""
    items, sizes = [], []
    for f, md in footers:
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            if keep is None or keep(g):
                items.append((f, rg))
                sizes.append(
                    sum(g.column(i).total_compressed_size for i in range(g.num_columns))
                )
    return items, sizes


def list_row_groups(path: str) -> tuple[list[tuple[str, int]], list[int]]:
    """``row_groups`` of every file of a parquet file or directory."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) or [path]
    return row_groups([(f, pq.read_metadata(f, memory_map=True)) for f in files])


def _encode_row_group(
    p: str, rg: int, rows_per_block: int, columns=None, **kw
) -> tuple[pa.Table, Iterator[pa.RecordBatch]]:
    """Row group ``rg`` of file ``p``, read in the task, and a lazy
    iterator over its block rows."""
    # memory_map: page-cache reads without userspace copies — measured
    # ~7% off the tokens-column decode (guide §6)
    table = pq.ParquetFile(p, memory_map=True).read_row_group(rg, columns=columns)
    # one state per row group: block_id seq stays unique across chunks
    state = {"seq": 0}
    return table, (
        blk
        for chunk in table.to_batches(max_chunksize=rows_per_block)
        for blk in encode_chunk_rows(
            chunk, task_tag=f"{os.path.basename(p)}:{rg}", _state=state, **kw
        )
    )


def encode_parquet_direct(
    spark: SparkSession,
    path: str,
    rows_per_block: int = 1 << 16,
    max_block_values: int = 1 << 22,
    columns: list[str] | None = None,
) -> DataFrame:
    """Encode a parquet dataset without the JVM->Python row hop.

    Returns the same blocks DataFrame as ``encode_df``.  Each task streams
    its contiguous run of the sorted row groups.
    """
    # map_items sizes the runs by bytes: one task per core unless a run
    # would pass Spark's split size.  A task has a fixed JVM cost: the F1
    # encode on local[4] spent a median 0.79 JVM CPU-s a pass in 4 tasks
    # and 0.98 in 8 (32 passes each, four alternating sessions), ~0.05 a
    # task, with Python CPU flat (1.32 and 1.34 CPU-s).
    splits, sizes = list_row_groups(path)

    def gen(task_splits: Iterator[tuple[str, int]]) -> Iterator[pa.RecordBatch]:
        for p, rg in task_splits:
            yield from _encode_row_group(
                p, rg, rows_per_block, columns, max_block_values=max_block_values
            )[1]

    return map_items(spark, splits, gen, BLOCKS_DDL, sizes)


_METRICS_SCHEMA = pa.schema(
    [(k, pa.int64()) for k in ("n_rows", "n_tokens", "raw_bytes", "enc_bytes", "zebra_bytes")]
)


def encode_metrics_direct(
    spark: SparkSession,
    path: str,
    rows_per_block: int = 1 << 16,
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
    splits, sizes = list_row_groups(path)

    def gen(task_splits: Iterator[tuple[str, int]]) -> Iterator[pa.RecordBatch]:
        # called once per task, so the fold spans the task's whole run
        tot = {"rows": 0, "raw": 0, "enc": 0, "zebra": 0, "tok": 0}
        for p, rg in task_splits:
            table, blocks = _encode_row_group(p, rg, rows_per_block)
            if "n_tok" in table.column_names:
                # a NULL n_tok counts 0 (pc.sum skips it)
                tot["tok"] += pc.sum(table.column("n_tok")).as_py() or 0
            for blk in blocks:
                tot["rows"] += blk.column("n_rows")[0].as_py()
                tot["raw"] += blk.column("raw_bytes")[0].as_py()
                tot["enc"] += blk.column("enc_bytes")[0].as_py()
                tot["zebra"] += blk.column("zebra_bytes")[0].as_py()
        yield batch(
            _METRICS_SCHEMA,
            {
                "n_rows": [tot["rows"]],
                "n_tokens": [tot["tok"]],
                "raw_bytes": [tot["raw"]],
                "enc_bytes": [tot["enc"]],
                "zebra_bytes": [tot["zebra"]],
            },
        )

    return map_items(
        spark, splits, gen, from_arrow_schema(_METRICS_SCHEMA), sizes
    )
