"""Arrow arrays to and from numpy buffers, without pyarrow's pandas probe.

In pyarrow 16.1, ``pa.array``, ``pa.scalar`` (so also a compute call
given a Python scalar), ``RecordBatch.from_pydict``/``from_pylist`` on
Python values, ``Array.to_numpy`` and ``np.asarray(array)`` import pandas
the first time a process calls them: +39-41 MB RSS and ~0.47 CPU-s a
process.  ``Array.from_buffers``, ``RecordBatch.from_arrays``, casts,
compute on arrays, ``ParquetFile`` reads and IPC do not.  The engine's
task bodies build and read arrays through these helpers only, so an
engine worker never imports pandas.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

__all__ = ["values", "validity", "value_offsets", "bitmap", "from_numpy", "column", "batch", "slots"]


def _np_dtype(t: pa.DataType) -> np.dtype:
    kind = "f" if pa.types.is_floating(t) else "u" if pa.types.is_unsigned_integer(t) else "i"
    return np.dtype(f"{kind}{t.bit_width // 8}")


def _is_large(t: pa.DataType) -> bool:
    """True for the types with 64-bit offsets."""
    return pa.types.is_large_string(t) or pa.types.is_large_binary(t) or pa.types.is_large_list(t)


def values(arr: pa.Array) -> np.ndarray:
    """Zero-copy numpy view of a fixed-width array's values (booleans are
    unpacked to ``np.bool_``).  A slot under a NULL holds whatever its
    buffer does."""
    t = arr.type
    n, off = len(arr), arr.offset
    buf = arr.buffers()[1]
    if pa.types.is_boolean(t):
        if n == 0:
            return np.empty(0, np.bool_)
        bits = np.unpackbits(
            np.frombuffer(buf, np.uint8), count=off + n, bitorder="little"
        )
        return bits[off:].view(np.bool_)
    dt = _np_dtype(t)
    if n == 0:
        return np.empty(0, dt)
    return np.frombuffer(buf, dt, count=n, offset=off * dt.itemsize)


def validity(arr: pa.Array) -> np.ndarray:
    """``True`` where ``arr`` is not NULL."""
    return values(arr.is_valid())


def value_offsets(arr: pa.Array) -> np.ndarray:
    """Zero-copy view of the ``len(arr) + 1`` offsets of a (large)
    string, binary, list or map array."""
    dt = np.dtype(np.int64 if _is_large(arr.type) else np.int32)
    if len(arr) == 0:
        return np.zeros(1, dt)
    return np.frombuffer(
        arr.buffers()[1], dt, count=len(arr) + 1, offset=arr.offset * dt.itemsize
    )


def bitmap(valid: np.ndarray) -> pa.Buffer:
    """Arrow validity bitmap (LSB first) of a boolean numpy array."""
    return pa.py_buffer(np.packbits(valid, bitorder="little"))


def from_numpy(data: np.ndarray, t: pa.DataType, mask: np.ndarray | None = None) -> pa.Array:
    """Array of type ``t`` over ``data``'s buffer, NULL where ``mask``.
    ``data`` holds ``t``'s bit pattern at ``t``'s width (any numpy dtype
    of that width); a boolean ``t`` takes a boolean ``data``."""
    if pa.types.is_boolean(t):
        buf = bitmap(data)
    elif data.dtype.itemsize * 8 != t.bit_width:
        raise TypeError(f"{data.dtype} values cannot back a {t} array")
    else:
        buf = pa.py_buffer(np.ascontiguousarray(data))
    if mask is None:
        return pa.Array.from_buffers(t, len(data), [None, buf], null_count=0)
    return pa.Array.from_buffers(
        t, len(data), [bitmap(~mask), buf], null_count=int(np.count_nonzero(mask))
    )


def column(items: list, t: pa.DataType) -> pa.Array:
    """Array of type ``t`` from Python values, ``None`` for NULL: ints,
    bools, ``str``/``bytes`` for (large) string/binary, and sequences of
    ints (or numpy arrays) for a list of ints."""
    n = len(items)
    mask = np.fromiter((v is None for v in items), np.bool_, n)
    null_count = int(np.count_nonzero(mask))
    valid_buf = bitmap(~mask) if null_count else None
    if (
        pa.types.is_list(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    ):
        if pa.types.is_list(t):
            parts = [np.asarray(v, _np_dtype(t.value_type)) for v in items if v is not None]
        else:
            parts = [v.encode() if isinstance(v, str) else v for v in items if v is not None]
        lengths = np.zeros(n, np.int64 if _is_large(t) else np.int32)
        lengths[~mask] = [len(p) for p in parts]
        ends = np.zeros(n + 1, lengths.dtype)
        np.cumsum(lengths, out=ends[1:])
        if pa.types.is_list(t):
            flat = np.concatenate(parts) if parts else np.empty(0, _np_dtype(t.value_type))
            return pa.Array.from_buffers(
                t, n, [valid_buf, pa.py_buffer(ends)], null_count,
                children=[from_numpy(flat, t.value_type)],
            )
        # one part (a block row's payload) is not copied
        data = pa.py_buffer(b"".join(parts))
        return pa.Array.from_buffers(
            t, n, [valid_buf, pa.py_buffer(ends), data], null_count
        )
    dt = np.bool_ if pa.types.is_boolean(t) else _np_dtype(t)
    data = np.fromiter((0 if v is None else v for v in items), dt, n)
    return from_numpy(data, t, mask if null_count else None)


def batch(schema: pa.Schema, cols: dict) -> pa.RecordBatch:
    """RecordBatch of ``schema`` from Python value lists, one per field."""
    return pa.RecordBatch.from_arrays(
        [column(cols[f.name], f.type) for f in schema], schema=schema
    )


def slots(arr: pa.Array) -> list:
    """Each slot of a binary array as a zero-copy ``pa.Buffer`` over the
    array's data buffer, ``None`` where NULL.  (``arr[i].as_buffer()``
    copies the value in pyarrow 16.1.)"""
    n = len(arr)
    ends = value_offsets(arr).tolist()
    data = arr.buffers()[2] if n else None
    if data is None:  # every slot empty
        data = pa.py_buffer(b"")
    valid = validity(arr).tolist() if arr.null_count else [True] * n
    return [
        data.slice(ends[i], ends[i + 1] - ends[i]) if valid[i] else None
        for i in range(n)
    ]
