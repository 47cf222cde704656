"""zebra V3 binary file container — write AND read actual `.zebra`-layout
files for the supported schema subset.

Reference layout (studied, not copied):
* file = magic ``"||ZEBRA||00003||"`` (16 bytes, Header.hs:148-197) +
  header_v3 = SchemaV1 JSON as sized_byte_array (Header.hs:73-86) +
  blocks, each ``u32 row_count | table`` (Block.hs:119-131);
* table walk (Serial/Binary/Table.hs:28-149): Binary table -> byte_array
  (snappy; V3 row count IS the byte count), Array -> element column,
  Map -> key column + value column; columns: Int -> int_array,
  Double -> bit-cast int_array (bDoubleArray :161-169), Enum -> tag
  int_array + every variant column (bTagArray :151-159), Struct -> fields
  in order, Nested -> lengths int_array + u32 inner count + inner table,
  Unit -> nothing, Reversed -> inner;
* UTF-8 validated on binary tables with Utf8 encoding on BOTH paths
  (Table.hs:34-35, 85-95).

Byte-compat caveat (documented, deliberate): zebra's BP64 bit-packing
kernel lives in the external ``ambiata-anemone`` C library which is not
part of the reference repo, so this engine defines its own (same-size)
bit order — files we write have zebra's exact structure, framing, sizes
and per-chunk headers, but a stock zebra reader would unpack BP64 payload
bits in a different order.  Everything else (magic, header, schema JSON,
snappy arrays, zig-zag/FoR layout) matches the reference byte-for-byte.

Values are zebra-interpretable: Date/Timestamp columns are re-based to
zebra's 1600-03-01 epoch on write and back on read (Encoding.hs:53-63).

zebra has NO nulls (optionality is an option enum) — null-bearing columns
are rejected; convert with functions.enums.option_to_enum first.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import types as T

from ..codec.blocks import ZEBRA_EPOCH_OFFSET_DAYS, _binary_parts
from ..codec.bytecodec import (
    pack_byte_array,
    pack_sized_byte_array,
    unpack_byte_array,
    unpack_sized_byte_array,
)
from ..codec.intcodec import pack_int_array, unpack_int_array
from ..session import map_items
from .zschema import ENUM_META, enum_layout, struct_to_zschema, zschema_to_struct

MAGIC_V3 = b"||ZEBRA||00003||"

_EPOCH_US = ZEBRA_EPOCH_OFFSET_DAYS * 86_400 * 1_000_000
_EPOCH_S = ZEBRA_EPOCH_OFFSET_DAYS * 86_400

__all__ = ["MAGIC_V3", "write_zebra_stream", "read_zebra_stream",
           "open_zebra_stream", "write_zebra_files", "read_zebra_files"]


def _no_nulls(arr: pa.Array, what: str) -> pa.Array:
    if arr.null_count:
        raise ValueError(
            f"zebra has no nulls ({what}); model optionality as an option "
            "enum (functions.enums.option_to_enum)"
        )
    return arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr


def _ints(arr: pa.Array) -> np.ndarray:
    return arr.cast(pa.int64()).to_numpy(zero_copy_only=False)


def _sorted_map_entries(entries: pa.Array, lengths: np.ndarray, what: str) -> pa.Array:
    """Enforce zebra's per-row strictly-ascending, duplicate-free map-key
    invariant (Striped.hs:572-591): Spark map columns carry no ordering
    guarantee, so entries are sorted by key per row at write time and
    duplicate keys are rejected (StripedMapDuplicateKeys)."""
    if len(entries) == 0:
        return entries
    row_ids = np.repeat(np.arange(len(lengths), dtype=np.int64), lengths)
    tbl = pa.table({"row": row_ids, "key": entries.field(0)})
    idx = pa.compute.sort_indices(
        tbl, sort_keys=[("row", "ascending"), ("key", "ascending")]
    )
    entries = entries.take(idx)
    keys = entries.field(0)
    if len(keys) > 1:
        same_row = row_ids[1:] == row_ids[:-1]  # row_ids already sorted
        eq = pa.compute.equal(keys.slice(1), keys.slice(0, len(keys) - 1))
        dup = same_row & eq.to_numpy(zero_copy_only=False)
        if dup.any():
            raise ValueError(
                f"StripedMapDuplicateKeys: duplicate map key within a row "
                f"at {what} (zebra maps are strictly ascending, "
                "Striped.hs:572-591)"
            )
    return entries


def _is_enum(dtype: T.StructType, md: dict | None) -> list | None:
    """Variant layout for an enum struct: from zebra.enum metadata, else
    inferred from the struct shape (tag + v_* fields, no unit variants)."""
    if md and ENUM_META in md:
        return enum_layout(md[ENUM_META])
    if dtype.fields and dtype.fields[0].name == "tag" and (
        (dtype.fields[0].metadata or {}).get(ENUM_META)
    ):
        # layout carried on the tag field (collection-element convention)
        return enum_layout(dtype.fields[0].metadata[ENUM_META])
    names = [f.name for f in dtype.fields]
    if names and names[0] == "tag" and all(n.startswith("v_") for n in names[1:]):
        return [[n[2:], False] for n in names[1:]]
    return None


def _encode_column(out: list, arr: pa.Array, dtype: T.DataType, md: dict | None, what: str):
    arr = _no_nulls(arr, what)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        out.append(pack_int_array(_ints(arr)))
        return
    if isinstance(dtype, T.DateType):
        out.append(pack_int_array(_ints(arr.view(pa.int32())) + ZEBRA_EPOCH_OFFSET_DAYS))
        return
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        us = arr.cast(pa.timestamp("us")).view(pa.int64())
        out.append(pack_int_array(_ints(us) + _EPOCH_US))
        return
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # bDoubleArray: IEEE doubles bit-cast through the int codec
        vals = arr.cast(pa.float64()).to_numpy(zero_copy_only=False).view(np.int64)
        out.append(pack_int_array(vals))
        return
    if isinstance(dtype, T.BooleanType):
        # bool enum: tag array only (both variants are Unit)
        out.append(pack_int_array(_ints(arr)))
        return
    if isinstance(dtype, (T.StringType, T.BinaryType)):
        # Nested(Binary): lengths int_array + u32 byte count + byte_array
        lengths, concat = _binary_parts(arr)
        out.append(pack_int_array(lengths))
        out.append(np.uint32(len(concat)).astype("<u4").tobytes())
        out.append(pack_byte_array(concat))
        return
    if isinstance(dtype, T.ArrayType):
        lengths = _ints(pa.compute.list_value_length(arr))
        child = arr.flatten()
        out.append(pack_int_array(lengths))
        out.append(np.uint32(len(child)).astype("<u4").tobytes())
        _encode_column(out, child, dtype.elementType, None, f"{what}[]")
        return
    if isinstance(dtype, T.MapType):
        as_list = arr.cast(
            pa.list_(pa.struct([("key", arr.type.key_type), ("value", arr.type.item_type)]))
        )
        lengths = _ints(pa.compute.list_value_length(as_list))
        entries = _sorted_map_entries(as_list.flatten(), lengths, what)
        out.append(pack_int_array(lengths))
        out.append(np.uint32(len(entries)).astype("<u4").tobytes())
        _encode_column(out, entries.field(0), dtype.keyType, None, f"{what}.key")
        _encode_column(out, entries.field(1), dtype.valueType, None, f"{what}.value")
        return
    if isinstance(dtype, T.StructType):
        layout = _is_enum(dtype, md)
        if layout is not None:
            tags = _ints(arr.field("tag"))
            n_var = len(layout)
            if len(tags) and (tags.min() < 0 or tags.max() >= n_var):
                raise ValueError(f"enum tag out of range in {what}")
            out.append(pack_int_array(tags))  # bTagArray
            for vname, is_unit in layout:
                if is_unit:
                    continue  # Unit variant: no bytes
                vf = dtype[f"v_{vname}"]
                _encode_column(
                    out, arr.field(f"v_{vname}"), vf.dataType, vf.metadata,
                    f"{what}.{vname}",
                )
            return
        for f in dtype.fields:
            _encode_column(out, arr.field(f.name), f.dataType, f.metadata, f"{what}.{f.name}")
        return
    raise NotImplementedError(f"zebra file: unsupported type {dtype} at {what}")


def _decode_column(mv, pos: int, n: int, dtype: T.DataType, md: dict | None):
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        vals, pos = unpack_int_array(mv, n, pos)
        t = {T.ByteType: pa.int8(), T.ShortType: pa.int16(),
             T.IntegerType: pa.int32(), T.LongType: pa.int64()}[type(dtype)]
        return pa.array(vals, pa.int64()).cast(t), pos
    if isinstance(dtype, T.DateType):
        vals, pos = unpack_int_array(mv, n, pos)
        days = vals - ZEBRA_EPOCH_OFFSET_DAYS
        return pa.array(days, pa.int64()).cast(pa.int32()).view(pa.date32()), pos
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        vals, pos = unpack_int_array(mv, n, pos)
        return pa.array(vals - _EPOCH_US, pa.int64()).view(pa.timestamp("us")), pos
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        vals, pos = unpack_int_array(mv, n, pos)
        arr = pa.array(vals.view(np.float64), pa.float64())
        return (arr if isinstance(dtype, T.DoubleType) else arr.cast(pa.float32())), pos
    if isinstance(dtype, T.BooleanType):
        vals, pos = unpack_int_array(mv, n, pos)
        return pa.array(vals != 0), pos
    if isinstance(dtype, (T.StringType, T.BinaryType)):
        lengths, pos = unpack_int_array(mv, n, pos)
        n_bytes = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
        concat, pos = unpack_byte_array(mv, n_bytes, pos + 4)
        offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int64)
        arr = pa.Array.from_buffers(
            pa.large_binary(), n,
            [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(concat)],
        )
        target = pa.string() if isinstance(dtype, T.StringType) else pa.binary()
        return arr.cast(target), pos  # binary->utf8 cast validates UTF-8
    if isinstance(dtype, T.ArrayType):
        lengths, pos = unpack_int_array(mv, n, pos)
        inner_n = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
        child, pos = _decode_column(mv, pos + 4, inner_n, dtype.elementType, None)
        offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int64)
        big = pa.LargeListArray.from_arrays(
            pa.array(offsets, pa.int64()), child
        )
        return big.cast(pa.list_(child.type)), pos
    if isinstance(dtype, T.MapType):
        lengths, pos = unpack_int_array(mv, n, pos)
        inner_n = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
        keys, pos = _decode_column(mv, pos + 4, inner_n, dtype.keyType, None)
        values, pos = _decode_column(mv, pos, inner_n, dtype.valueType, None)
        offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
        arr = pa.MapArray.from_arrays(pa.array(offsets, pa.int32()), keys, values)
        return arr, pos
    if isinstance(dtype, T.StructType):
        layout = _is_enum(dtype, md)
        if layout is not None:
            tags, pos = unpack_int_array(mv, n, pos)
            children = [pa.array(tags, pa.int64())]
            names = ["tag"]
            for vname, is_unit in layout:
                if is_unit:
                    continue
                vf = dtype[f"v_{vname}"]
                child, pos = _decode_column(mv, pos, n, vf.dataType, vf.metadata)
                children.append(child)
                names.append(f"v_{vname}")
            return pa.StructArray.from_arrays(children, names=names), pos
        children, names = [], []
        for f in dtype.fields:
            child, pos = _decode_column(mv, pos, n, f.dataType, f.metadata)
            children.append(child)
            names.append(f.name)
        return pa.StructArray.from_arrays(children, names=names), pos
    raise NotImplementedError(f"zebra file: unsupported type {dtype}")


def _table_kind_of(schema: T.StructType) -> str:
    """array | map | binary — zebra tables can be Binary (rows are BYTES)
    or Map k v at top level, not just Array-of-Struct (Schema.hs:80-84;
    Serial/Binary/Table.hs:38-64).  Carried as first-field metadata by
    zschema.zschema_to_struct."""
    from .zschema import BINARY_TABLE_META, MAP_TABLE_META

    if schema.fields and (schema.fields[0].metadata or {}).get(BINARY_TABLE_META):
        return "binary"
    if schema.fields and (schema.fields[0].metadata or {}).get(MAP_TABLE_META):
        return "map"
    return "array"


def _adjacent_equal(arr: pa.Array) -> np.ndarray:
    """bool[n-1]: row i equals row i+1 (struct keys compare field-wise)."""
    if pa.types.is_struct(arr.type):
        out = np.ones(max(len(arr) - 1, 0), dtype=bool)
        for i in range(arr.type.num_fields):
            out &= _adjacent_equal(arr.field(i))
        return out
    eq = pa.compute.equal(arr.slice(1), arr.slice(0, len(arr) - 1))
    return eq.to_numpy(zero_copy_only=False)


def _check_map_table_keys(keys: pa.Array) -> None:
    """Map TABLE invariant: keys strictly ascending (Striped.hs:572-591)."""
    if len(keys) < 2:
        return
    cols = (
        {f"k{i}": keys.field(i) for i in range(keys.type.num_fields)}
        if pa.types.is_struct(keys.type)
        else {"k": keys}
    )
    tbl = pa.table(cols)
    idx = pa.compute.sort_indices(
        tbl, sort_keys=[(name, "ascending") for name in cols]
    ).to_numpy()
    if not np.array_equal(idx, np.arange(len(keys))):
        raise ValueError(
            "StripedMapNotSorted: map-table keys must be ascending within "
            "a block (orderBy the key first; Striped.hs:572-591)"
        )
    if _adjacent_equal(keys).any():
        raise ValueError("StripedMapDuplicateKeys: duplicate map-table key")


def _encode_block(out: list, rb: pa.RecordBatch, schema: T.StructType, kind: str) -> int:
    """One V3 block: u32 row_count + table walk.  Returns the row count
    (BYTE count for Binary tables — Serial/Binary/Table.hs:38-44)."""
    if kind == "binary":
        arr = _no_nulls(rb.column("value"), "binary table")
        if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
            arr = arr.cast(pa.large_binary())
        _, concat = _binary_parts(arr)
        out.append(np.uint32(len(concat)).astype("<u4").tobytes())
        out.append(pack_byte_array(concat))
        return len(concat)
    if kind == "map":
        _check_map_table_keys(rb.column("key"))
    out.append(np.uint32(rb.num_rows).astype("<u4").tobytes())
    # Map table walk = key column + value column, which is exactly the
    # (key, value) fields walk (Serial/Binary/Table.hs:46-64)
    for f in schema.fields:
        _encode_column(out, rb.column(f.name), f.dataType, f.metadata, f.name)
    return rb.num_rows


def write_zebra_stream(
    batches: Iterator[pa.RecordBatch], schema: T.StructType, fileobj=None
) -> bytes | int:
    """Header + one V3 block per batch.

    With ``fileobj`` the stream is written INCREMENTALLY — one block's bytes
    at a time, nothing file-sized is ever materialized (the
    `Serial/Binary/File.hs:94-165` shape) — and the byte count is returned.
    Without it the whole stream is returned as bytes (small/test use)."""
    header = json.dumps(struct_to_zschema(schema)).encode()
    kind = _table_kind_of(schema)
    prefix = [MAGIC_V3, pack_sized_byte_array(header)]
    if fileobj is None:
        out = prefix
        for rb in batches:
            _encode_block(out, rb, schema, kind)
        return b"".join(out)
    n_bytes = 0
    for part in prefix:
        fileobj.write(part)
        n_bytes += len(part)
    for rb in batches:
        out = []
        _encode_block(out, rb, schema, kind)
        for part in out:
            fileobj.write(part)
            n_bytes += len(part)
    return n_bytes


def _revive_temporals(schema: T.StructType) -> T.StructType:
    """int+date / int+time_microseconds from the header become Spark
    temporals again — the file reader re-bases the values, so the types are
    exact.  Seconds/milliseconds encodings stay LongType + metadata (this
    writer never produces them; Spark timestamps are microseconds)."""
    from .zschema import ENCODING_META

    fields = []
    for f in schema.fields:
        enc = (f.metadata or {}).get(ENCODING_META)
        if isinstance(f.dataType, T.LongType) and enc == "date":
            md = {k: v for k, v in f.metadata.items() if k != ENCODING_META}
            fields.append(T.StructField(f.name, T.DateType(), f.nullable, md))
        elif isinstance(f.dataType, T.LongType) and enc == "time_microseconds":
            md = {k: v for k, v in f.metadata.items() if k != ENCODING_META}
            # timestamps come back NTZ: zebra time is an absolute
            # microsecond count with no zone notion (Encoding.hs:57-63)
            fields.append(T.StructField(f.name, T.TimestampNTZType(), f.nullable, md))
        else:
            fields.append(f)
    return T.StructType(fields)


def _read_header(mv: memoryview):
    if bytes(mv[:16]) != MAGIC_V3:
        raise ValueError(f"not a zebra V3 file: {bytes(mv[:16])!r}")
    header, pos = unpack_sized_byte_array(mv, 16)
    return _revive_temporals(zschema_to_struct(json.loads(header.decode()))), pos


def read_zebra_header(path: str) -> T.StructType:
    """Schema from a zebra V3 file header (reads only the header bytes)."""
    with open(path, "rb") as f:
        schema, _ = _read_header(memoryview(f.read(1 << 22)))
    return schema


class _StreamReader:
    """Bounded incremental reader: keeps at most (one block + one chunk) of
    the file in memory, attoparsec-style retry-on-truncation (the reference
    streams blocks the same way — Serial/Binary/File.hs:94-165).  Every
    unpack validates sizes before reading, so a truncated buffer always
    raises (never silently mis-parses) and the parse retries with more
    data."""

    def __init__(self, f, chunk_bytes: int = 1 << 20,
                 max_block_bytes: int = 1 << 28):
        self.f, self.chunk = f, chunk_bytes
        # corruption guard: a truncation retry never needs more than one
        # full block buffered; past this cap the data is corrupt, not
        # short, and we fail fast instead of buffering the rest of the file
        self.max_block = max_block_bytes
        self.buf = b""
        self.eof = False
        self.max_buffered = 0  # test hook: peak bytes held

    def _fill(self) -> bool:
        b = self.f.read(self.chunk)
        if not b:
            self.eof = True
            return False
        self.buf += b
        self.max_buffered = max(self.max_buffered, len(self.buf))
        return True

    def parse(self, parse_fn):
        """parse_fn(mv) -> (result, consumed); retried with more data on
        truncation errors until EOF (OSError covers snappy's corrupt-data
        signal on a cut-short byte_array)."""
        while True:
            try:
                res, consumed = parse_fn(memoryview(self.buf))
            except (ValueError, IndexError, OSError) as e:
                if len(self.buf) > self.max_block:
                    raise ValueError(
                        "zebra block unparseable after buffering "
                        f"{len(self.buf)} bytes (> max_block_bytes="
                        f"{self.max_block}): corrupt input, not truncation"
                    ) from e
                if self._fill():
                    continue
                raise
            self.buf = self.buf[consumed:]
            return res

    def at_eof(self) -> bool:
        while not self.buf:
            if self.eof or not self._fill():
                return True
        return False


def _skip_int_array(mv, pos: int) -> int:
    """Advance past one packed int_array without unpacking (u32 size
    header, zebra_unpack.c framing)."""
    if len(mv) < pos + 12:
        raise ValueError("int_array truncated while skipping")
    size = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
    if len(mv) < pos + 12 + size:
        raise ValueError("int_array truncated while skipping")
    return pos + 12 + size


def _skip_byte_array(mv, pos: int) -> int:
    """Advance past one snappy byte_array (u32 compressed-size header)."""
    if len(mv) < pos + 4:
        raise ValueError("byte_array truncated while skipping")
    n_comp = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
    if len(mv) < pos + 4 + n_comp:
        raise ValueError("byte_array truncated while skipping")
    return pos + 4 + n_comp


def _skip_column(mv, pos: int, n: int, dtype: T.DataType, md: dict | None) -> int:
    """Advance past one column's wire sections without decompressing —
    mirror of _decode_column used by key-range block skipping (every
    variable-size section carries its own size header, and nested counts
    ride explicit u32s, so no payload ever needs decoding)."""
    if isinstance(
        dtype,
        (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.DateType, T.TimestampType, T.TimestampNTZType,
            T.FloatType, T.DoubleType, T.BooleanType,
        ),
    ):
        return _skip_int_array(mv, pos)
    if isinstance(dtype, (T.StringType, T.BinaryType)):
        pos = _skip_int_array(mv, pos)  # lengths
        return _skip_byte_array(mv, pos + 4)  # u32 byte count + bytes
    if isinstance(dtype, T.ArrayType):
        pos = _skip_int_array(mv, pos)  # lengths
        inner_n = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
        return _skip_column(mv, pos + 4, inner_n, dtype.elementType, None)
    if isinstance(dtype, T.MapType):
        pos = _skip_int_array(mv, pos)
        inner_n = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
        pos = _skip_column(mv, pos + 4, inner_n, dtype.keyType, None)
        return _skip_column(mv, pos, inner_n, dtype.valueType, None)
    if isinstance(dtype, T.StructType):
        layout = _is_enum(dtype, md)
        if layout is not None:
            pos = _skip_int_array(mv, pos)  # tags
            for vname, is_unit in layout:
                if is_unit:
                    continue
                vf = dtype[f"v_{vname}"]
                pos = _skip_column(mv, pos, n, vf.dataType, vf.metadata)
            return pos
        for f in dtype.fields:
            pos = _skip_column(mv, pos, n, f.dataType, f.metadata)
        return pos
    raise NotImplementedError(f"zebra file: unsupported type {dtype}")


_RANGE_KEY_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType,
)


def _validate_key_range(schema: T.StructType, kind: str, key_range) -> None:
    """key_range preconditions: map table, scalar int/string key, bounds
    typed like the key (a str-vs-int compare in the block walk would
    surface as an opaque executor TypeError)."""
    if kind != "map":
        raise ValueError(f"key_range applies to map tables, not {kind}")
    f0 = schema.fields[0]
    if not isinstance(f0.dataType, _RANGE_KEY_TYPES):
        raise ValueError(
            "key_range requires a scalar int/string map key, got "
            f"{f0.dataType.simpleString()}"
        )
    want = str if isinstance(f0.dataType, T.StringType) else int
    for b in key_range:
        if b is not None and not isinstance(b, want):
            raise ValueError(
                f"key_range bound {b!r} does not match the "
                f"{f0.dataType.simpleString()} map key"
            )


def _parse_block(mv: memoryview, schema: T.StructType, kind: str, key_range=None):
    """One V3 block -> (RecordBatch_or_None, consumed).  Binary tables come
    back as ONE row holding the block's bytes (n is the BYTE count).

    ``key_range=(lo, hi)`` (map tables only, scalar int/string keys): the
    KEY column decodes first; when the block's [first, last] key interval
    (keys are ascending per block — zebra's map invariant) misses the
    range, the VALUE sections are SKIPPED without decompression and the
    block yields None — the file-container analogue of decode_df's
    zone-map skipping."""
    if len(mv) < 4:
        raise ValueError("zebra block truncated: no row count")
    n = int(np.frombuffer(mv[:4], dtype="<u4")[0])
    if kind == "binary":
        concat, pos = unpack_byte_array(mv, n, 4)
        f0 = schema.fields[0]
        val = concat.decode("utf-8") if isinstance(f0.dataType, T.StringType) else concat
        arr = pa.array([val], pa.string() if isinstance(f0.dataType, T.StringType) else pa.binary())
        return pa.RecordBatch.from_arrays([arr], names=["value"]), pos
    pos = 4
    arrays = []
    fields = list(schema.fields)
    checked_keys = False
    if key_range is not None and kind == "map":
        f0 = fields[0]
        if not isinstance(f0.dataType, _RANGE_KEY_TYPES):
            raise ValueError(
                "key_range requires a scalar int/string map key, got "
                f"{f0.dataType.simpleString()}"
            )
        keys, pos = _decode_column(mv, pos, n, f0.dataType, f0.metadata)
        _check_map_table_keys(keys)
        checked_keys = True
        lo, hi = key_range
        if n and (
            (hi is not None and keys[0].as_py() > hi)
            or (lo is not None and keys[-1].as_py() < lo)
        ):
            for f in fields[1:]:
                pos = _skip_column(mv, pos, n, f.dataType, f.metadata)
            return None, pos
        arrays.append(keys)
        fields = fields[1:]
    for f in fields:
        arr, pos = _decode_column(mv, pos, n, f.dataType, f.metadata)
        arrays.append(arr)
    rb = pa.RecordBatch.from_arrays(arrays, names=[f.name for f in schema.fields])
    if kind == "map" and not checked_keys:
        _check_map_table_keys(rb.column("key"))
    return rb, pos


def open_zebra_stream(f, chunk_bytes: int = 1 << 20, key_range=None):
    """-> (spark schema, iterator of RecordBatch) over an open binary file,
    reading in bounded increments (peak memory ~ one block + chunk_bytes,
    independent of file size).

    ``key_range=(lo, hi)``: map tables only — blocks whose ascending key
    interval misses the range are skipped (value sections never
    decompress) and do not appear in the iterator; surviving blocks may
    still carry out-of-range rows (block-granular, apply the exact
    predicate downstream)."""
    rd = _StreamReader(f, chunk_bytes)
    schema = rd.parse(_read_header)  # returns (schema, consumed)
    kind = _table_kind_of(schema)
    if key_range is not None:
        # validate HERE, not inside the block parse: _StreamReader.parse
        # treats a ValueError from its parse_fn as a truncation signal and
        # keeps buffering — an unsupported-key error raised mid-stream
        # would buffer the whole file before surfacing as a misleading
        # corruption message
        _validate_key_range(schema, kind, key_range)

    def batches():
        while not rd.at_eof():
            rb = rd.parse(lambda mv: _parse_block(mv, schema, kind, key_range))
            if rb is not None:
                yield rb

    return schema, batches(), rd


def read_zebra_stream(data: bytes):
    """-> (StructType from the header, pa.Table of all blocks)."""
    import io

    schema, batches, _ = open_zebra_stream(io.BytesIO(data))
    got = list(batches)
    return schema, pa.Table.from_batches(got) if got else None


# --- Spark-scale wrappers ------------------------------------------------------


def write_zebra_files(df, out_dir: str, rows_per_block: int = 1 << 16):
    """One zebra V3 file per partition (each self-describing); returns the
    manifest DataFrame (path, n_rows, n_bytes).

    Streaming: each block's bytes are written to the file handle as soon as
    they are encoded — task peak memory is one block + one Arrow batch,
    independent of partition size (the round-2 whole-file b"".join is
    gone)."""
    import uuid

    schema = df.schema
    kind = _table_kind_of(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"part-{uuid.uuid4().hex[:12]}.zebra")
        header = json.dumps(struct_to_zschema(schema)).encode()
        n_rows = 0
        n_bytes = 0
        f = None
        try:
            for rb in batches:
                for off in range(0, rb.num_rows, rows_per_block):
                    chunk = rb.slice(off, min(rows_per_block, rb.num_rows - off))
                    if chunk.num_rows == 0:
                        continue
                    if f is None:
                        f = open(path, "wb")
                        for part in (MAGIC_V3, pack_sized_byte_array(header)):
                            f.write(part)
                            n_bytes += len(part)
                    out: list = []
                    n_rows += _encode_block(out, chunk, schema, kind)
                    for part in out:
                        f.write(part)
                        n_bytes += len(part)
        finally:
            if f is not None:
                f.close()
        if f is None:
            return  # empty partition: no file
        yield pa.RecordBatch.from_pydict(
            {"path": [path], "n_rows": [n_rows], "n_bytes": [n_bytes]}
        )

    return df.mapInArrow(run, schema="path string, n_rows long, n_bytes long")


def read_zebra_files(
    spark, paths: list[str], chunk_bytes: int = 1 << 20, key_range=None
):
    """Parallel read of zebra V3 files back into a DataFrame.

    Each task streams its run of files (``map_items`` plans the runs by
    file size) in ``chunk_bytes`` increments and yields per-block batches
    as they parse — peak memory is one block + one chunk, not the file
    size, and downstream operators start before the file finishes.

    ``key_range=(lo, hi)``: map tables with scalar int/string keys —
    blocks whose key interval misses the range are skipped in-stream
    (only the key column decodes; value payloads never decompress), the
    file-read analogue of decode_df's zone-map skipping.  Apply the exact
    row predicate downstream (block-granular)."""
    first_schema = read_zebra_header(paths[0])
    if key_range is not None:
        # fail fast driver-side; the same check guards each file's stream
        _validate_key_range(
            first_schema, _table_kind_of(first_schema), key_range
        )

    def run(task_paths: Iterator[str]) -> Iterator[pa.RecordBatch]:
        for p in task_paths:
            with open(p, "rb") as f:
                _, blocks, _ = open_zebra_stream(f, chunk_bytes, key_range)
                yield from blocks

    sizes = [os.path.getsize(p) for p in paths]
    return map_items(spark, paths, run, first_schema, sizes)
