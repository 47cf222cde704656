"""Distributed encode: DataFrame -> blocks DataFrame via mapInArrow.

The Spark analogue of zebra's encode lifecycle (`zebra import`,
zebra-cli/src/Zebra/Command/Import.hs:63-76): instead of a single-process
stream of striped blocks written to one file, every Spark task turns its
Arrow batches into encoded block *rows* of a blocks table.  Catalyst plans
the scan and shuffle; the codec runs entirely inside the Arrow UDF
(vectorized numpy — no per-row Python), exactly as zebra's codec lives
inside C behind FFI.

Scale design (100 TB / 1000 executors):
* one block row per Arrow batch chunk — tasks stream, nothing accumulates;
* optional salting repartition spreads source-key and length skew before
  encoding (north rule: explicit skew handling);
* every block row carries everything needed to decode (schema + payload +
  crc), so downstream decode/merge/verify are embarrassingly parallel;
* per-block codec metrics emit with the data: the lineage/metrics table is
  a projection of the blocks table, no second pass.
"""

from __future__ import annotations

import hashlib
import json
import uuid
import zlib
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..codec.arrowbuf import batch, from_numpy, values
from ..codec.blocks import annotate_zebra_encodings, encode_batch

BLOCKS_DDL = (
    "block_id string, part_start string, key_min string, key_max string, "
    # key_min/key_max/part_start are strings so the block schema is
    # key-type-agnostic; _key_str zero-pads non-negative ints so the STRING
    # order equals the numeric order (consistency_check compares strings)
    # while CAST(... AS BIGINT) still recovers the value.
    "n_rows long, payload binary, "
    "schema_id string, schema binary, meta string, raw_bytes long, "
    "enc_bytes long, zebra_bytes long, crc32 long, "
    # key_bloom: OPT-IN per-block Bloom filter words over key_col
    # (codec/bloom.py) — point-lookup block skipping on layouts where
    # zone maps can't help; NULL unless encode_df(key_bloom=True)
    "key_bloom array<bigint>"
)

_OUT_SCHEMA = pa.schema(
    [
        ("block_id", pa.string()),
        ("part_start", pa.string()),
        ("key_min", pa.string()),
        ("key_max", pa.string()),
        ("n_rows", pa.int64()),
        ("payload", pa.binary()),
        ("schema_id", pa.string()),
        ("schema", pa.binary()),
        ("meta", pa.string()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("zebra_bytes", pa.int64()),
        ("crc32", pa.int64()),
        ("key_bloom", pa.list_(pa.int64())),
    ]
)


def _key_str(v) -> str:
    """Order-preserving string form of a block key value.

    Non-negative ints zero-pad to 20 digits so lexicographic order equals
    numeric order AND a plain CAST back to BIGINT recovers the value.
    Negative ints encode as '-' + zero-padded (10^20 + v): '-' sorts before
    digits, and the offset complement makes more-negative sort first — full
    int64 order preserved (CAST does NOT recover negatives; key ranges are
    ordering metadata, the values live in the blocks).  Other types
    (strings, dates, timestamps) stringify naturally ordered.
    """
    if isinstance(v, bool) or not isinstance(v, int):
        return str(v)
    return f"{v:020d}" if v >= 0 else f"-{10**20 + v:020d}"


def _batch_cells(rb: pa.RecordBatch) -> int:
    """Rough total cell count (list children included) for memory budgeting."""
    total = 0
    for col in rb.columns:
        t = col.type
        while pa.types.is_list(t) or pa.types.is_large_list(t):
            col = col.flatten()
            t = col.type
        total += len(col)
    return total


def _key_bloom_words(key_arr: pa.Array) -> np.ndarray:
    """Bloom words (signed int64) for one block's keys; NULL keys are left
    out, as no lookup can match them.  String keys hash via
    string_key_to_int64 (per-row md5 — the opt-in's documented cost on
    string keys; int keys are fully vectorized)."""
    from ..codec.bloom import bloom_build, string_key_to_int64

    t = key_arr.type
    if key_arr.null_count:
        key_arr = key_arr.filter(key_arr.is_valid())
    if pa.types.is_integer(t):
        keys = values(key_arr).astype(np.int64)
    elif pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t):
        keys = np.fromiter(
            (string_key_to_int64(v.as_py()) for v in key_arr),
            dtype=np.int64,
            count=len(key_arr),
        )
    else:
        raise ValueError(
            f"key_bloom requires an int or string key column, got {t}"
        )
    return bloom_build(keys).view(np.int64)


def encode_chunk_rows(
    rb: pa.RecordBatch,
    task_tag: str | None = None,
    rows_per_block: int = 1 << 16,
    max_block_values: int = 1 << 22,
    key_col: str | None = None,
    key_bloom: bool = False,
    _state: dict | None = None,
    field_meta: dict | None = None,
) -> Iterator[pa.RecordBatch]:
    """Encode one Arrow batch into block rows (shared by all encode paths).

    Blocks are capped both by ``rows_per_block`` and by ``max_block_values``
    total cells, so wide/ragged rows (long token arrays) cannot blow up a
    worker's memory: temporaries inside the codec scale with the cap, not
    with whatever batch size the source produced.

    ``field_meta``: the full Spark schema JSON (df.schema.json()).
    mapInArrow strips Spark field metadata (zebra.enum / zebra.encoding /
    zebra.default / …, including NESTED struct fields) from the batches, so
    encode_df captures the schema driver-side and it rides here as
    schema-level metadata in the stored arrow schema — decode_df restores
    it, keeping blocks schema-faithful end to end.
    """
    if rb.num_rows == 0:
        return
    task_id = task_tag or uuid.uuid4().hex[:12]
    state = _state if _state is not None else {"seq": 0}
    arrow_schema = annotate_zebra_encodings(rb.schema)
    if field_meta:
        md = dict(arrow_schema.metadata or {})
        md[b"zebra.spark_schema"] = field_meta.encode()
        arrow_schema = arrow_schema.with_metadata(md)
    schema_bytes = arrow_schema.serialize().to_pybytes()
    # every block row carries its schema bytes, so any subset of the rows
    # decodes on its own; ~1 KB against MBs of payload, and parquet
    # dictionary-encodes the repeated value
    schema_id = hashlib.sha1(schema_bytes).hexdigest()[:16]
    cells_per_row = max(1, _batch_cells(rb) // max(1, rb.num_rows))
    step = max(64, min(rows_per_block, max_block_values // cells_per_row))
    for off in range(0, rb.num_rows, step):
        chunk = rb.slice(off, min(step, rb.num_rows - off))
        if chunk.num_rows == 0:
            continue
        payload, meta = encode_batch(chunk)
        first_key = _key_str(chunk.column(0)[0].as_py())
        key_min = key_max = None
        bloom = None
        if key_col is not None:
            kt = chunk.column(key_col).type
            if pa.types.is_floating(kt):
                # r7 (ADVICE): float keys stringify unordered ('10.0' <
                # '2.0') — zone maps built from them silently mis-skip on
                # read.  Fail the encode instead of corrupting reads.
                raise TypeError(
                    f"key_col {key_col!r} is {kt}: zone-map keys must be "
                    "int/string/date/timestamp (order-preserving string form)"
                )
            mm = pa.compute.min_max(chunk.column(key_col))
            key_min = _key_str(mm["min"].as_py())
            key_max = _key_str(mm["max"].as_py())
            if key_bloom:
                bloom = _key_bloom_words(chunk.column(key_col))
        seq = state["seq"]
        state["seq"] += 1
        yield batch(
            _OUT_SCHEMA,
            {
                "block_id": [f"{task_id}-{seq:08d}"],
                "part_start": [first_key],
                "key_min": [key_min],
                "key_max": [key_max],
                "n_rows": [chunk.num_rows],
                "payload": [payload],
                "schema_id": [schema_id],
                "schema": [schema_bytes],
                "meta": [json.dumps(meta)],
                "raw_bytes": [meta["raw_bytes"]],
                "enc_bytes": [meta["enc_bytes"]],
                "zebra_bytes": [meta["zebra_bytes"]],
                "crc32": [zlib.crc32(payload)],
                "key_bloom": [bloom],
            },
        )


def _encode_fn(rows_per_block: int, key_col: str | None = None,
               field_meta: str | None = None, key_bloom: bool = False):
    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        task_id = uuid.uuid4().hex[:12]
        state = {"seq": 0}
        for rb in batches:
            yield from encode_chunk_rows(
                rb,
                task_tag=task_id,
                rows_per_block=rows_per_block,
                key_col=key_col,
                key_bloom=key_bloom,
                _state=state,
                field_meta=field_meta,
            )

    return encode


def _encode_grouped_fn(rows_per_block: int, key_col: str | None, group_col: str,
                       field_meta: str | None = None, key_bloom: bool = False):
    """Encode fn that guarantees NO BLOCK SPANS TWO GROUP VALUES: each Arrow
    batch is stable-sorted by ``group_col``, split at group boundaries, and
    each run encoded separately with the group value carried on its block
    rows (column ``unit``).  Used by the single-pass checkpointed encode so
    ``write.partitionBy("unit")`` commits whole units atomically."""

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        task_id = uuid.uuid4().hex[:12]
        # one state per unit: the downstream partitionBy(unit) write splits
        # this task's blocks into per-unit files, so each unit keeps its
        # own block_id sequence
        states: dict[int, dict] = {}
        for rb in batches:
            if rb.num_rows == 0:
                continue
            units = values(rb.column(group_col))
            order = np.argsort(units, kind="stable")
            rb2 = rb.take(from_numpy(order, pa.int64()))
            us = units[order]
            bounds = np.flatnonzero(np.diff(us)) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [len(us)]))
            keep = [n for n in rb2.schema.names if n != group_col]
            for s, e in zip(starts, ends):
                sub = rb2.slice(int(s), int(e - s)).select(keep)
                unit_val = int(us[s])
                for out_rb in encode_chunk_rows(
                    sub,
                    task_tag=f"{task_id}u{unit_val}",
                    rows_per_block=rows_per_block,
                    key_col=key_col,
                    key_bloom=key_bloom,
                    _state=states.setdefault(unit_val, {"seq": 0}),
                    field_meta=field_meta,
                ):
                    yield out_rb.append_column(
                        "unit",
                        from_numpy(np.full(out_rb.num_rows, unit_val, np.int32), pa.int32()),
                    )

    return encode


def encode_df(
    df: DataFrame,
    rows_per_block: int = 1 << 16,
    salt_col: str | None = None,
    salt_buckets: int = 0,
    key_col: str | None = None,
    group_col: str | None = None,
    key_bloom: bool = False,
) -> DataFrame:
    """Encode ``df`` into a blocks DataFrame.

    ``salt_col``/``salt_buckets``: repartition on (salt_col, random-ish salt)
    before encoding so a skewed key (e.g. source="web" at 55%) spreads over
    many tasks instead of one straggler.  The salt is derived from a stable
    hash of all columns, not rand(), so encode output is deterministic.

    ``key_bloom`` (requires ``key_col``): store a per-block Bloom filter
    over the key column (codec/bloom.py, ~1 byte/key) so
    ``decode_df(key_equals=...)`` point lookups skip blocks on ANY layout
    — zone maps only skip when the layout clusters the key.  Opt-in: the
    storage cost buys nothing for pure range/scan workloads.
    """
    if key_bloom and key_col is None:
        raise ValueError("key_bloom requires key_col")
    if salt_col is not None and salt_buckets > 0:
        salt = F.pmod(F.xxhash64(*df.columns), F.lit(salt_buckets))
        df = df.repartition(F.col(salt_col), salt)
    # Spark field metadata (zebra.enum/encoding/default/reversed, nested
    # included) does not survive mapInArrow; capture the full schema JSON
    # driver-side so blocks stay schema-faithful (decode_df restores it)
    field_meta = df.schema.json() if _has_metadata(df.schema) else None
    if group_col is not None:
        # the grouped encoder drops group_col from the encoded batches, so
        # the stored schema must drop it too — otherwise decode_df restores
        # a schema with one extra column and the arrow walk misaligns
        from pyspark.sql import types as T

        sub = T.StructType(
            [f for f in df.schema.fields if f.name != group_col]
        )
        field_meta = sub.json() if _has_metadata(sub) else None
        return df.mapInArrow(
            _encode_grouped_fn(
                rows_per_block, key_col, group_col, field_meta, key_bloom
            ),
            schema=BLOCKS_DDL + ", unit int",
        )
    return df.mapInArrow(
        _encode_fn(rows_per_block, key_col, field_meta, key_bloom),
        schema=BLOCKS_DDL,
    )


def _has_metadata(dtype) -> bool:
    """True if any (possibly nested) StructField carries metadata."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StructType):
        return any(
            f.metadata or _has_metadata(f.dataType) for f in dtype.fields
        )
    if isinstance(dtype, T.ArrayType):
        return _has_metadata(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return _has_metadata(dtype.keyType) or _has_metadata(dtype.valueType)
    return False


def codec_metrics(blocks: DataFrame) -> DataFrame:
    """Per-partition lineage / codec-choice metrics (north rule requirement)."""
    return blocks.select(
        F.col("block_id"),
        F.col("n_rows"),
        F.col("raw_bytes"),
        F.col("enc_bytes"),
        F.col("zebra_bytes"),
        F.from_json(
            F.col("meta"),
            "cols map<string, struct<codec:string, n:long, bytes:long, "
            "zebra_bytes:long, n_runs:long, entropy_bits:double, "
            "cardinality_est:long, min:long, max:long, mean_chunk_bits:double>>",
        ).alias("m"),
    ).select(
        "block_id",
        "n_rows",
        "raw_bytes",
        "enc_bytes",
        "zebra_bytes",
        F.explode("m.cols").alias("column", "stats"),
    )
