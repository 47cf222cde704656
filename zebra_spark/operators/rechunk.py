"""Rechunk: re-block an encoded dataset at a different rows-per-block.

Reference: ``Striped.rechunk`` (zebra-core/src/Zebra/Table/Striped.hs:
999-1038; CLI default 256 rows/block, zebra-cli/main/zebra.hs:224-232) —
a stream of striped tables re-cut to a fixed row count, preserving the
concatenation of rows.

Spark expression (r7): ONE fused mapInArrow per task — each block row is
decoded and the rows re-cut to the new block size inside the same Python
UDF.  The old decode_df -> encode_df chain shipped every decoded row
JVM->Python->JVM->Python->JVM (two extra Arrow socket crossings of the
full table per rechunk); fused, decoded batches go straight into the
encoder's buffer (guide §4: the boundary crossings, not the codec, were
the cost — measured 4.0 s -> 2.6 s on the 600k-row lineitem driver
query).  Decoded rows are buffered across input blocks, so many small
blocks still compact into full-size output blocks.
Used operationally to compact many small blocks (e.g. from streaming
micro-batches) into scan-efficient large ones, or split oversized blocks.
"""

from __future__ import annotations

import uuid
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame

from .decode import (
    _decode_fn,
    _stored_footers,
    arrow_schema_of,
    spark_schema_with_meta,
)
from .encode import BLOCKS_DDL, _has_metadata, encode_chunk_rows


def rechunk_blocks(
    blocks: DataFrame,
    rows_per_block: int,
    schema=None,
    coalesce_partitions: int | None = None,
    key_col: str | None = None,
    key_bloom: bool = False,
) -> DataFrame:
    """Re-encode a blocks table at ``rows_per_block`` (single fused UDF).

    ``coalesce_partitions``: optionally reduce task count first so small
    blocks from many tasks merge into full-size blocks (rechunk-compact).

    ``key_col``/``key_bloom``: re-emit the read-path skip structures
    (zone maps / Bloom filters) on the compacted blocks — at 100 TB a
    compaction that silently drops them turns every later keyed read
    into a full scan.
    """
    from ..codec.warmup import warm_codec

    seed = None
    if schema is None:
        # a bare stored table's schema is read with pyarrow: no job
        footers = _stored_footers(
            blocks, {"block_id", "payload", "crc32", "schema_id", "schema"}
        )
        schema, seed = arrow_schema_of(blocks, footers)
    if isinstance(schema, pa.Schema):
        schema = spark_schema_with_meta(schema)
    field_meta = schema.json() if _has_metadata(schema) else None
    if coalesce_partitions is not None:
        blocks = blocks.coalesce(coalesce_partitions)
    nullable = {f.name: f.nullable for f in schema.fields}
    decode = _decode_fn(verify_crc=True, nullable=nullable, seed=seed)

    def fused(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        warm_codec()
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

        for rb in decode(batches):
            if rb.num_rows == 0:
                continue
            buf.append(rb)
            buffered += rb.num_rows
            if buffered >= rows_per_block:
                # emit every FULL block; the remainder stays buffered so
                # rows keep concatenating across input blocks (compaction)
                big = (
                    pa.Table.from_batches(buf).combine_chunks().to_batches()[0]
                    if len(buf) > 1
                    else buf[0]
                )
                n_full = (buffered // rows_per_block) * rows_per_block
                yield from cut(big.slice(0, n_full))
                rem = big.slice(n_full)
                buf = [rem] if rem.num_rows else []
                buffered = rem.num_rows
        if buffered:
            big = (
                pa.Table.from_batches(buf).combine_chunks().to_batches()[0]
                if len(buf) > 1
                else buf[0]
            )
            yield from cut(big)

    return blocks.mapInArrow(fused, schema=BLOCKS_DDL)
