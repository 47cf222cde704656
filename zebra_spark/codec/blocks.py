"""Striped block encode/decode over Arrow RecordBatches.

Mirrors zebra's schema-directed pre-order column walk
(zebra-core/src/Zebra/Serial/Binary/Table.hs:32-149 ``bTable``/``getTable``):

* int-like leaves (ints, bool, timestamps, dates)  -> int column
* doubles/floats -> bit-cast to ints, then int column
  (``bDoubleArray``, Table.hs:161-169)
* strings/binary -> lengths + concatenated bytes (``bStrings``, Array.hs:44-68)
* list<T> -> lengths int column + u64 inner count + recursed child
  (``Nested``, Striped.hs:117-125 — segmented arrays with nested-length
  columns; Arrow list arrays are offsets+child, the same layout)
* struct -> children in order (no bytes of its own, Table.hs:66-67)

Unlike zebra, every leaf goes through the codec auto-selector
(:mod:`zebra_spark.codec.codecs`), and columns may carry a validity
(null) vector — zebra has no nulls (it models optionality as enums).

Block wire layout::

    magic 'ZSB1' | u32 n_rows | u16 n_cols | column sections...

Column section::

    u8 flags (bit0 = has nulls)
    [validity: u8 int-codec | payload]   (if bit0)
    body by arrow type (see walkers below)
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .arrowbuf import bitmap, column, from_numpy, validity, value_offsets, values
from .codecs import (
    decode_ints,
    decode_strings,
    encode_ints,
    encode_strings,
    resolve_policy,
    skip_ints,
    skip_strings,
)

__all__ = [
    "encode_batch",
    "decode_batch",
    "BLOCK_MAGIC",
    "StripedMapNotSorted",
    "StripedMapDuplicateKeys",
    "annotate_zebra_encodings",
    "ZEBRA_EPOCH_OFFSET_DAYS",
]

BLOCK_MAGIC = b"ZSB1"

# zebra stores Date/Time int columns as counts since 1600-03-01
# (Encoding.hs:53-63; Time.hs:104-116 defines validity [1600-03-01,
# 3000-01-01)).  Arrow/Spark temporals count from 1970-01-01; the offset is
# carried as block-schema metadata so a zebra-side reader can re-base.
ZEBRA_EPOCH_OFFSET_DAYS = 135080  # days from 1600-03-01 to 1970-01-01


def _zebra_encoding_of(t: pa.DataType) -> str | None:
    """zebra logical int encoding tag for an arrow type (Encoding.hs:57-63)."""
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return {
            "s": "time_seconds",
            "ms": "time_milliseconds",
            "us": "time_microseconds",
            "ns": "time_nanoseconds",  # extension: zebra stops at us
        }[t.unit]
    if pa.types.is_integer(t):
        return "int"
    return None


def annotate_zebra_encodings(schema: pa.Schema) -> pa.Schema:
    """Attach zebra logical-encoding metadata to int/temporal fields so the
    self-describing block schema is zebra-interpretable (the stored int64
    values stay arrow-epoch raw bits; re-basing to the 1600-03-01 epoch is
    ``value + offset`` using the recorded offset)."""
    fields = []
    for f in schema:
        enc = _zebra_encoding_of(f.type)
        if enc is None:
            fields.append(f)
            continue
        md = dict(f.metadata or {})
        md[b"zebra.encoding"] = enc.encode()
        if enc != "int":
            md[b"zebra.epoch"] = b"1600-03-01"
            md[b"zebra.epoch_offset_days"] = str(ZEBRA_EPOCH_OFFSET_DAYS).encode()
        fields.append(f.with_metadata(md))
    return pa.schema(fields, metadata=schema.metadata)

_I64 = np.int64

# arrow type -> int storage kind
_INT_CAST = "cast"  # value-preserving cast to int64 (and back)
_VIEW64 = "view64"  # bit reinterpretation of a 64-bit type
_VIEW32 = "view32"  # bit reinterpretation of a 32-bit type (float32)


def _int_kind(t: pa.DataType):
    if pa.types.is_float64(t):
        return _VIEW64
    if pa.types.is_float32(t):
        return _VIEW32
    if pa.types.is_uint64(t):
        return _VIEW64
    if (
        pa.types.is_integer(t)
        or pa.types.is_boolean(t)
        or pa.types.is_temporal(t)
    ):
        return _INT_CAST
    return None


def _storage_int64(arr: pa.Array) -> np.ndarray:
    """Null-filled int storage of an int-like arrow array (bit-preserving).

    r7: signed int8/16/32 (and date32/time32 storage) return their
    NATIVE numpy dtype instead of widening to int64 — encode_ints plans
    natively-narrow columns at the narrow width (half the memory traffic on
    the hot token stream) and only materializes int64 where a codec needs
    it; the wire bytes are value-determined and unchanged."""
    kind = _int_kind(arr.type)
    vals = values(arr)  # zero-copy view of the value buffer
    if arr.null_count:
        vals = np.where(validity(arr), vals, vals.dtype.type(0))
    if kind == _VIEW64:  # float64 bits, uint64 wrap-around
        return vals.view(_I64)
    if kind == _VIEW32:
        return vals.view(np.int32).astype(_I64)
    if vals.dtype in _NARROW_NATIVE:
        # zero-copy for the common narrow case; the codec plans natively
        return vals
    return vals.astype(_I64, copy=False)  # bool, unsigned, 64-bit


_NARROW_NATIVE = (np.int8, np.int16, np.int32)


def _storage_dtype(t: pa.DataType) -> np.dtype:
    """The dtype an int-like column of type ``t`` decodes at: its own
    width (the low bits of the int64 storage are ``t``'s bit pattern),
    int8 for booleans."""
    return np.dtype(np.int8 if pa.types.is_boolean(t) else f"i{t.bit_width // 8}")


def _from_storage(vals: np.ndarray, t: pa.DataType, mask) -> pa.Array:
    """Rebuild an arrow array of type ``t`` from its decoded storage."""
    if pa.types.is_boolean(t):
        return from_numpy(vals != 0, t, mask)
    return from_numpy(vals, t, mask)


def _binary_parts(arr: pa.Array):
    """(lengths int64, concat bytes) of a null-free string/binary array."""
    barr = arr.cast(pa.large_binary())
    ends = value_offsets(barr)
    buf = barr.buffers()[2] if len(barr) else None
    data = np.frombuffer(buf, dtype=np.uint8) if buf else np.empty(0, np.uint8)
    concat = data[ends[0] : ends[-1]].tobytes()
    return np.diff(ends), concat


def _list_lengths(arr: pa.Array) -> np.ndarray:
    """Row lengths of a list array, 0 under a NULL row: int32 for list
    and map, int64 for large_list (the codec takes either)."""
    lengths = np.diff(value_offsets(arr))
    if arr.null_count:
        lengths = np.where(validity(arr), lengths, lengths.dtype.type(0))
    return lengths


class _Sizes:
    """Accumulates ours-vs-zebra sizes for selector metrics."""

    def __init__(self):
        self.enc = 0
        self.zebra = 0
        self.cols = {}

    def leaf(self, path, meta, extra_zebra=0):
        self.cols[path] = meta
        self.enc += meta["bytes"]
        self.zebra += meta["zebra_bytes"] + extra_zebra


def _encode_column(arr: pa.Array, path: str, out: list, sizes: _Sizes, policy: str):
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    t = arr.type
    flags = 0
    has_nulls = arr.null_count > 0
    if has_nulls:
        flags |= 1
    out.append(bytes([flags]))
    if has_nulls:
        # bool -> int8 is a zero-copy reinterpretation; the codec plans
        # narrow dtypes natively (values 0/1, wire unchanged)
        valid = validity(arr).view(np.int8)
        c, p, m = encode_ints(valid, policy=policy)
        out.append(bytes([c]))
        out.append(p)
        sizes.leaf(path + "#valid", m)

    if _int_kind(t) is not None:
        vals = _storage_int64(arr)
        # float64 columns get the ALP decimal + ALP-RD candidates; float32
        # bit patterns get ALP-RD only (pure bit transform — codecs.py)
        c, p, m = encode_ints(
            vals,
            float_view=pa.types.is_float64(t),
            float32_view=pa.types.is_float32(t),
            policy=policy,
        )
        out.append(bytes([c]))
        out.append(p)
        sizes.leaf(path, m)
        return
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(
        t
    ) or pa.types.is_large_binary(t):
        # NULL -> empty value; the fill scalar comes from an array, as a
        # Python one would make pyarrow import pandas
        null_free = pc.fill_null(arr, column([b""], t)[0]) if arr.null_count else arr
        lengths, concat = _binary_parts(null_free)
        c, p, m = encode_strings(
            lengths, concat, arrow_array=null_free, policy=policy
        )
        out.append(bytes([c]))
        out.append(p)
        sizes.leaf(path, m)
        return
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        lengths = _list_lengths(arr)
        child = arr.flatten()  # concatenated values of valid rows only
        c, p, m = encode_ints(lengths, policy=policy)
        out.append(bytes([c]))
        out.append(p)
        sizes.leaf(path + "#len", m)
        out.append(np.uint64(len(child)).astype("<u8").tobytes())
        _encode_column(child, path + ".item", out, sizes, policy)
        return
    if pa.types.is_struct(t):
        for i, field in enumerate(t):
            _encode_column(arr.field(i), path + "." + field.name, out, sizes, policy)
        return
    if pa.types.is_map(t):
        # map<k,v> ~ zebra's Map table nested per row (Schema.hs:83): a
        # lengths column + flat key/value children.  Arrow stores maps as
        # list<struct<key,value>> — encode exactly that representation
        # (validity flag already emitted above for this node).
        as_list = arr.cast(_map_as_list_type(t))
        lengths = _list_lengths(as_list)
        child = as_list.flatten()
        c, p, m = encode_ints(lengths, policy=policy)
        out.append(bytes([c]))
        out.append(p)
        sizes.leaf(path + "#len", m)
        out.append(np.uint64(len(child)).astype("<u8").tobytes())
        _encode_column(child, path + ".entries", out, sizes, policy)
        return
    raise NotImplementedError(f"unsupported arrow type for block encode: {t}")


def _map_as_list_type(t: pa.DataType) -> pa.DataType:
    return pa.list_(
        pa.field(
            "entries",
            pa.struct(
                [
                    pa.field("key", t.key_type, nullable=False),
                    pa.field("value", t.item_type),
                ]
            ),
            nullable=False,
        )
    )


def encode_batch(batch: pa.RecordBatch, policy: str | None = None):
    """Encode a RecordBatch into one striped block. Returns (payload, meta).

    The payload is a pure function of (batch values, policy); ``policy``
    defaults to ``ZS_CODEC_POLICY``, read once per call (see
    :func:`~zebra_spark.codec.codecs.resolve_policy`)."""
    policy = resolve_policy(policy)
    out: list[bytes] = [
        BLOCK_MAGIC,
        np.uint32(batch.num_rows).astype("<u4").tobytes(),
        np.uint16(batch.num_columns).astype("<u2").tobytes(),
    ]
    sizes = _Sizes()
    for name, col in zip(batch.schema.names, batch.columns):
        _encode_column(col, name, out, sizes, policy)
    payload = b"".join(out)
    meta = {
        "n_rows": batch.num_rows,
        "enc_bytes": len(payload),
        "zebra_bytes": sizes.zebra,
        "raw_bytes": batch.nbytes,
        "cols": sizes.cols,
    }
    return payload, meta


class StripedMapNotSorted(ValueError):
    """Map keys within a row are not strictly ascending (Striped.hs:572-585)."""


class StripedMapDuplicateKeys(ValueError):
    """Duplicate map keys within a row (Striped.hs:586-591)."""


def _validate_map_rows(entries: pa.Array, lengths: np.ndarray, n: int):
    """Per-row key sortedness/uniqueness, vectorized: one adjacent-pair
    comparison over the flat key child, masked to within-row pairs.

    zebra enforces this whenever a striped map is reconstituted to logical
    form (Striped.hs:572-591); it is opt-in here because Spark map columns
    carry no ordering invariant (zebra's Map is a sorted container by
    construction, ours is whatever the source produced).
    """
    keys = entries.field("key") if isinstance(entries, pa.StructArray) else entries
    inner_n = len(keys)
    if inner_n <= 1 or n == 0:
        return
    row_id = np.repeat(np.arange(n, dtype=np.int64), lengths)
    same_row = row_id[1:] == row_id[:-1]
    if not same_row.any():
        return
    try:
        gt = pc.greater(keys.slice(1), keys.slice(0, inner_n - 1))
        eq = pc.equal(keys.slice(1), keys.slice(0, inner_n - 1))
    except pa.lib.ArrowNotImplementedError:
        return  # non-comparable key type: skip (zebra has no such keys)
    gt_np = values(gt)
    eq_np = values(eq)
    if (same_row & eq_np).any():
        raise StripedMapDuplicateKeys("duplicate map keys within a row")
    if (same_row & ~gt_np & ~eq_np).any():
        raise StripedMapNotSorted("map keys not strictly ascending within a row")


def _offsets(lengths: np.ndarray, total: int) -> np.ndarray:
    """``len + 1`` offsets, in ``lengths``' dtype, from row lengths that
    sum to ``total``."""
    if len(lengths) and int(lengths.min()) < 0:
        raise ValueError("negative row length")
    if total > np.iinfo(lengths.dtype).max:
        raise ValueError(f"{total} values overflow {lengths.dtype} offsets")
    offsets = np.zeros(len(lengths) + 1, dtype=lengths.dtype)
    np.cumsum(lengths, dtype=lengths.dtype, out=offsets[1:])
    return offsets


def _offset_dtype(t: pa.DataType) -> np.dtype:
    """The offsets dtype of a string, binary, list or map type."""
    large = pa.types.is_large_string(t) or pa.types.is_large_binary(t) or pa.types.is_large_list(t)
    return np.dtype(np.int64 if large else np.int32)


def _decode_column(mv: memoryview, pos: int, t: pa.DataType, n: int):
    """Decode one column section into an array of type ``t``, each int
    section at its own width (see :func:`~zebra_spark.codec.codecs.decode_ints`)."""
    flags = mv[pos]
    pos += 1
    mask = None
    if flags & 1:
        valid, pos = decode_ints(mv[pos], mv, n, pos + 1, np.int8)
        mask = valid == 0  # pa mask marks NULL positions
    validity_buf = bitmap(~mask) if mask is not None else None
    null_count = int(np.count_nonzero(mask)) if mask is not None else 0

    if _int_kind(t) is not None:
        vals, pos = decode_ints(mv[pos], mv, n, pos + 1, _storage_dtype(t))
        return _from_storage(vals, t, mask), pos
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(
        t
    ) or pa.types.is_large_binary(t):
        lengths, concat, pos = decode_strings(mv[pos], mv, n, pos + 1, _offset_dtype(t))
        offsets = _offsets(lengths, len(concat))
        arr = pa.Array.from_buffers(
            t,
            n,
            [validity_buf, pa.py_buffer(offsets), pa.py_buffer(concat)],
            null_count=null_count,
        )
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            arr.validate(full=True)  # UTF-8
        return arr, pos
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_map(t):
        lengths, pos = decode_ints(mv[pos], mv, n, pos + 1, _offset_dtype(t))
        inner_n = int(np.frombuffer(mv[pos : pos + 8], dtype="<u8")[0])
        pos += 8
        if int(lengths.sum()) != inner_n:
            raise ValueError("list lengths do not sum to child length")
        offsets = _offsets(lengths, inner_n)
        child_t = _map_as_list_type(t).value_type if pa.types.is_map(t) else t.value_type
        child, pos = _decode_column(mv, pos, child_t, inner_n)
        arr = pa.Array.from_buffers(
            t,
            n,
            [validity_buf, pa.py_buffer(offsets)],
            null_count=null_count,
            children=[child],
        )
        return arr, pos
    if pa.types.is_struct(t):
        children = []
        for field in t:
            charr, pos = _decode_column(mv, pos, field.type, n)
            children.append(charr)
        arr = pa.StructArray.from_arrays(
            children,
            fields=list(t),
            mask=from_numpy(mask, pa.bool_()) if mask is not None else None,
        )
        return arr, pos
    raise NotImplementedError(f"unsupported arrow type for block decode: {t}")


def _skip_column(mv: memoryview, pos: int, t: pa.DataType, n: int) -> int:
    """Advance past a column section without decoding it (projection pushdown)."""
    flags = mv[pos]
    pos += 1
    if flags & 1:
        pos = skip_ints(mv[pos], mv, n, pos + 1)
    if _int_kind(t) is not None:
        return skip_ints(mv[pos], mv, n, pos + 1)
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(
        t
    ) or pa.types.is_large_binary(t):
        return skip_strings(mv[pos], mv, n, pos + 1)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        pos = skip_ints(mv[pos], mv, n, pos + 1)
        inner_n = int(np.frombuffer(mv[pos : pos + 8], dtype="<u8")[0])
        return _skip_column(mv, pos + 8, t.value_type, inner_n)
    if pa.types.is_struct(t):
        for field in t:
            pos = _skip_column(mv, pos, field.type, n)
        return pos
    if pa.types.is_map(t):
        pos = skip_ints(mv[pos], mv, n, pos + 1)
        inner_n = int(np.frombuffer(mv[pos : pos + 8], dtype="<u8")[0])
        return _skip_column(mv, pos + 8, _map_as_list_type(t).value_type, inner_n)
    raise NotImplementedError(f"unsupported arrow type for block skip: {t}")


def _walk_validate_maps(arr: pa.Array):
    """Recursively validate every map node in a decoded column."""
    t = arr.type
    if pa.types.is_map(t):
        as_list = arr.cast(_map_as_list_type(t))
        lengths = _list_lengths(as_list)
        entries = as_list.flatten()
        _validate_map_rows(entries, lengths, len(arr))
        for i in range(entries.type.num_fields):
            _walk_validate_maps(entries.field(i))
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        _walk_validate_maps(arr.flatten())
    elif pa.types.is_struct(t):
        for i in range(t.num_fields):
            _walk_validate_maps(arr.field(i))


def decode_batch(
    payload, schema: pa.Schema, columns=None, validate_maps: bool = False
) -> pa.RecordBatch:
    """Inverse of :func:`encode_batch` for the given arrow schema.

    ``columns``: optional iterable of top-level column names — other
    sections are SKIPPED (header parsing only, no decompression), the
    block-level analogue of parquet column pruning.

    ``validate_maps``: enforce zebra's sorted/duplicate-free Map invariant
    on every decoded map node (Striped.hs:572-591, raising the
    ``StripedMapNotSorted`` / ``StripedMapDuplicateKeys`` equivalents).
    Opt-in: Spark map columns carry no ordering invariant, so blocks we
    encoded from arbitrary Spark data may legitimately hold unsorted maps.
    """
    # unsigned bytes whatever the buffer's format (a pa.Buffer exports 'b')
    mv = memoryview(payload).cast("B")
    if bytes(mv[:4]) != BLOCK_MAGIC:
        raise ValueError("bad block magic")
    n_rows = int(np.frombuffer(mv[4:8], dtype="<u4")[0])
    n_cols = int(np.frombuffer(mv[8:10], dtype="<u2")[0])
    if n_cols != len(schema):
        raise ValueError(
            f"block has {n_cols} columns but schema expects {len(schema)}"
        )
    want = None if columns is None else set(columns)
    pos = 10
    arrays = []
    fields = []
    for field in schema:
        if want is None or field.name in want:
            arr, pos = _decode_column(mv, pos, field.type, n_rows)
            if validate_maps:
                _walk_validate_maps(arr)
            arrays.append(arr)
            fields.append(field)
        else:
            pos = _skip_column(mv, pos, field.type, n_rows)
    if pos != len(mv):
        raise ValueError(f"trailing bytes in block: {len(mv) - pos}")
    if not arrays:
        # a batch built from no arrays has 0 rows; keep the block's count
        return pa.RecordBatch.from_struct_array(
            pa.nulls(n_rows, pa.struct([]))
        ).replace_schema_metadata(schema.metadata)
    return pa.RecordBatch.from_arrays(
        arrays, schema=pa.schema(fields, metadata=schema.metadata)
    )
