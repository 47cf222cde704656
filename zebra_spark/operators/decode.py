"""Distributed decode + verify: blocks DataFrame -> original DataFrame.

Spark analogue of `zebra export` (zebra-cli/src/Zebra/Command/Export.hs:
114-143): each task decodes its block rows back to Arrow batches.  Fully
parallel — a block is self-describing (schema + payload + crc32).
"""

from __future__ import annotations

import json
import zlib
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema


def spark_schema_with_meta(arrow_schema: pa.Schema) -> T.StructType:
    """Arrow schema -> Spark StructType, restoring the full Spark schema
    (with zebra.* field metadata, nested included) the encoder stored under
    ``zebra.spark_schema`` (mapInArrow strips StructField metadata, so the
    schema JSON rides schema-level in the arrow bytes)."""
    raw = (arrow_schema.metadata or {}).get(b"zebra.spark_schema")
    if raw:
        return T.StructType.fromJson(json.loads(raw.decode()))
    return from_arrow_schema(arrow_schema)

from ..codec.blocks import decode_batch
from ..codec.warmup import warm_codec


class SchemaBytesMissing(ValueError):
    """A block row has NULL schema bytes and its task has not parsed that
    ``schema_id`` yet: a blocks table written before every row carried
    its schema, then filtered, shuffled or split."""


def _block_schema(
    parsed: dict[str, pa.Schema], rb: pa.RecordBatch, i: int
) -> pa.Schema:
    """Arrow schema of block row ``i``; each ``schema_id`` is parsed once
    per ``parsed`` dict (one per task)."""
    sid = rb.column("schema_id")[i].as_py()
    schema = parsed.get(sid)
    if schema is None:
        raw = rb.column("schema")[i].as_py()
        if raw is None:
            raise SchemaBytesMissing(
                f"block {rb.column('block_id')[i].as_py()} has no schema bytes "
                f"for schema {sid} (a blocks table written before every row "
                "carried its schema); decode with schema=None, or rewrite it "
                "with rechunk_blocks"
            )
        schema = parsed[sid] = pa.ipc.read_schema(pa.py_buffer(raw))
    return schema


def _decode_fn(
    verify_crc: bool,
    columns=None,
    validate_maps: bool = False,
    seed: tuple[str, bytes] | None = None,
):
    """``seed``: one ``(schema_id, schema bytes)`` pair parsed before the
    first row, so rows of older tables that carry only the id still
    decode."""

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        warm_codec()
        parsed: dict[str, pa.Schema] = {}
        if seed is not None:
            parsed[seed[0]] = pa.ipc.read_schema(pa.py_buffer(seed[1]))
        for rb in batches:
            payloads = rb.column("payload")
            crcs = rb.column("crc32")
            ids = rb.column("block_id")
            for i in range(rb.num_rows):
                payload = payloads[i].as_py()
                if verify_crc:
                    crc = crcs[i].as_py()
                    if crc is not None and zlib.crc32(payload) != crc:
                        raise ValueError(
                            f"crc mismatch in block {ids[i].as_py()}"
                        )
                yield decode_batch(
                    payload,
                    _block_schema(parsed, rb, i),
                    columns=columns,
                    validate_maps=validate_maps,
                )

    return decode


def arrow_schema_of(blocks: DataFrame) -> tuple[pa.Schema, tuple[str, bytes]]:
    """The arrow schema of the first schema-bearing block row, and its
    ``(schema_id, bytes)`` pair to seed ``_decode_fn``: one ``head()`` job."""
    row = (
        blocks.filter(F.col("schema").isNotNull())
        .select("schema_id", "schema")
        .head()
    )
    if row is None:
        raise ValueError("blocks DataFrame is empty; pass an explicit schema")
    seed = (row[0], bytes(row[1]))
    return pa.ipc.read_schema(pa.py_buffer(seed[1])), seed


def zone_map_filter(blocks: DataFrame, key_range) -> DataFrame:
    """Block-skipping predicate over the per-block zone maps.

    Keeps exactly the blocks whose [key_min, key_max] interval intersects
    ``key_range = (lo, hi)`` (either bound may be None = unbounded), plus
    blocks encoded WITHOUT a key_col (NULL zone maps — nothing is known
    about them, so they cannot be skipped).  Bounds are compared in the
    order-preserving string form encode._key_str writes, so the same call
    works for int and string keys.

    This is the natural extension of the reference's min/max key
    discipline (zebra tracks exactly these bounds for Summary.hs:64-100 /
    Consistency.hs:77-125); at 100 TB a keyed point/range read must skip
    block payloads BEFORE the decode UDF ever sees them — the filter runs
    JVM-side on two slim string columns and parquet-prunes when the blocks
    table is stored.
    """
    from .encode import _key_str

    lo, hi = key_range
    for b in (lo, hi):
        # r7 (ADVICE): float bounds stringify to a non-lexicographically-
        # ordered form ('10.0' < '2.0'), so blocks holding in-range rows
        # would be SILENTLY skipped — reject instead of losing rows.  The
        # zfile range reader has the same int/string discipline
        # (_validate_key_range); date/datetime stringify ordered.
        if isinstance(b, float):
            raise TypeError(
                "key_range bounds must be int/string/date/timestamp — "
                f"float bound {b!r} has no order-preserving string form"
            )
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col("key_max") >= F.lit(_key_str(lo)))
    if hi is not None:
        cond = cond & (F.col("key_min") <= F.lit(_key_str(hi)))
    return blocks.filter(F.col("key_min").isNull() | cond)


def bloom_filter_blocks(blocks: DataFrame, key_equals) -> DataFrame:
    """Point-lookup block skipping on the per-block key Bloom filters
    (codec/bloom.py; written by ``encode_df(key_bloom=True)``).

    ``key_equals``: one lookup value or a list — a block survives when ANY
    value might be present.  Blocks without a filter (NULL key_bloom —
    encoded before the opt-in, or without it) always survive: nothing is
    known about them.  Pure Catalyst: k constant-hash probes per value,
    `element_at` + bit masks inside whole-stage codegen — complements zone
    maps, which only skip when the layout clusters the key."""
    from ..codec.bloom import bloom_might_contain_expr

    if "key_bloom" not in blocks.columns:
        # blocks stored before the bloom column existed: nothing is known,
        # nothing can be skipped
        return blocks
    values = key_equals if isinstance(key_equals, (list, tuple)) else [key_equals]
    if not values:
        raise ValueError("key_equals: need at least one lookup value")
    cond = bloom_might_contain_expr(F.col("key_bloom"), values[0])
    for v in values[1:]:
        cond = cond | bloom_might_contain_expr(F.col("key_bloom"), v)
    return blocks.filter(cond)


def decode_df(
    blocks: DataFrame,
    schema=None,
    verify_crc: bool = True,
    columns: list[str] | None = None,
    validate_maps: bool = False,
    resolve_schemas: bool = False,
    key_range=None,
    key_equals=None,
) -> DataFrame:
    """Decode a blocks DataFrame back to the original rows.

    ``schema``: pyspark StructType or pyarrow Schema.  When omitted it is
    fetched from the first block row (one ``head()`` job).  Every block
    row carries its schema bytes, so stored, filtered, shuffled and lazily
    encoded blocks all decode the same way.

    ``resolve_schemas``: ignored; accepted so older callers keep running.

    ``columns``: project to these top-level columns INSIDE the block
    decoder — unrequested sections are skipped without decompression
    (block-level column pruning; at 100 TB a 2-column read must not
    bit-unpack the token payloads).

    ``validate_maps``: enforce zebra's sorted/dup-free Map invariant on
    decode (Striped.hs:572-591); opt-in because Spark map columns carry no
    ordering invariant.

    ``key_range``: ``(lo, hi)`` zone-map block skipping (either bound may
    be None).  Blocks whose key_min/key_max interval misses the range are
    dropped BEFORE the decode UDF — whole payloads skipped without
    decompression.  Zone maps are block-granular: surviving blocks may
    still contain out-of-range rows, so apply the exact row predicate
    after decode.

    ``key_equals``: one value or a list — point-lookup block skipping on
    the per-block key Bloom filters (``encode_df(key_bloom=True)``);
    NULL-filter blocks never skip, false positives only decode an extra
    block, false negatives cannot happen.  Same residual-predicate
    contract as ``key_range``; both may be combined.
    """
    seed = None
    if schema is None:
        # from the unfiltered blocks: its seed also decodes the id-only
        # rows of tables written before every row carried its schema
        schema, seed = arrow_schema_of(blocks)
    if isinstance(schema, pa.Schema):
        schema = spark_schema_with_meta(schema)
    if columns is not None:
        known = {f.name for f in schema.fields}
        missing = set(columns) - known
        if missing:
            raise ValueError(
                f"decode_df: unknown columns {sorted(missing)}; "
                f"blocks contain {sorted(known)}"
            )
        schema = type(schema)([f for f in schema.fields if f.name in set(columns)])
    if key_range is not None:
        blocks = zone_map_filter(blocks, key_range)
    if key_equals is not None:
        blocks = bloom_filter_blocks(blocks, key_equals)
    return blocks.mapInArrow(
        _decode_fn(verify_crc, columns, validate_maps, seed), schema=schema
    )
