"""Rechunk: re-block an encoded dataset at a different rows-per-block.

Reference: ``Striped.rechunk`` (zebra-core/src/Zebra/Table/Striped.hs:
999-1038; CLI default 256 rows/block, zebra-cli/main/zebra.hs:224-232) —
a stream of striped tables re-cut to a fixed row count, preserving the
concatenation of rows.

Spark expression: ONE fused task body, on whichever source
``decode._map_blocks`` chooses — each block row is decoded and the rows
re-cut to the new block size inside the same Python task.  The old
decode_df -> encode_df chain shipped every decoded row
JVM->Python->JVM->Python->JVM (two extra Arrow socket crossings of the
full table per rechunk); fused, decoded batches go straight into the
encoder's buffer (guide §4: the boundary crossings, not the codec, were
the cost — measured 4.0 s -> 2.6 s on the 600k-row lineitem driver
query).  Decoded rows are buffered across input blocks, so the small
blocks of one task compact into full-size output blocks: a stored
table's small row groups share a task (``map_items`` plans by bytes), and
any other DataFrame can be passed as ``blocks.coalesce(n)`` for fewer tasks.
Used operationally to compact many small blocks (e.g. from streaming
micro-batches) into scan-efficient large ones, or split oversized blocks.
"""

from __future__ import annotations

import uuid
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame

from .decode import _block_decoder, _map_blocks, _stored_source
from .encode import BLOCKS_DDL, _has_metadata, encode_chunk_rows


def rechunk_blocks(
    blocks: DataFrame,
    rows_per_block: int,
    schema=None,
    key_col: str | None = None,
    key_bloom: bool = False,
) -> DataFrame:
    """Re-encode a blocks table at ``rows_per_block`` (single fused task).

    ``key_col``/``key_bloom``: re-emit the read-path skip structures
    (zone maps / Bloom filters) on the compacted blocks — at 100 TB a
    compaction that silently drops them turns every later keyed read
    into a full scan.
    """
    # a bare stored table's schema is read with pyarrow: no job
    stored = _stored_source(blocks)
    schema, decode = _block_decoder(blocks, stored, schema)
    field_meta = schema.json() if _has_metadata(schema) else None

    def fused(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        task_id = uuid.uuid4().hex[:12]
        state = {"seq": 0}
        buf: list[pa.RecordBatch] = []
        buffered = 0

        def cut(rb: pa.RecordBatch):
            return encode_chunk_rows(
                rb,
                task_tag=task_id,
                rows_per_block=rows_per_block,
                key_col=key_col,
                key_bloom=key_bloom,
                _state=state,
                field_meta=field_meta,
            )

        def joined() -> pa.RecordBatch:
            if len(buf) == 1:
                return buf[0]
            return pa.Table.from_batches(buf).combine_chunks().to_batches()[0]

        for rb in decode(batches):
            if rb.num_rows == 0:
                continue
            buf.append(rb)
            buffered += rb.num_rows
            if buffered >= rows_per_block:
                # emit every FULL block; the remainder stays buffered so
                # rows keep concatenating across input blocks (compaction)
                big = joined()
                n_full = (buffered // rows_per_block) * rows_per_block
                yield from cut(big.slice(0, n_full))
                rem = big.slice(n_full)
                buf = [rem] if rem.num_rows else []
                buffered = rem.num_rows
        if buffered:
            yield from cut(joined())

    return _map_blocks(blocks, stored, fused, BLOCKS_DDL)
