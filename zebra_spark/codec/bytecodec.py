"""Byte-array and string codecs (snappy), mirroring zebra's layout.

Reference: zebra-core/src/Zebra/Serial/Binary/Array.hs
  * ``bByteArray``/``getByteArray`` (:81-113): ``u32 size_compressed | snappy bytes``
  * ``bSizedByteArray``/``getSizedByteArray`` (:127-141): ``u32 size_uncompressed | byte_array``
  * ``bStrings``/``getStrings`` (:44-68): int_array of lengths + sized_byte_array
    of the concatenated bytes.

Snappy compression comes from pyarrow's bundled codec (public Arrow API);
zebra uses the ``snapper`` Haskell binding to the same snappy format.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .intcodec import pack_int_array, unpack_int_array

__all__ = [
    "pack_byte_array",
    "unpack_byte_array",
    "pack_sized_byte_array",
    "unpack_sized_byte_array",
    "pack_strings",
    "unpack_strings",
]

_SNAPPY = pa.Codec("snappy")


def pack_byte_array(data: bytes) -> bytes:
    compressed = _SNAPPY.compress(data)
    comp = compressed.to_pybytes() if isinstance(compressed, pa.Buffer) else compressed
    return np.uint32(len(comp)).astype("<u4").tobytes() + comp


def unpack_byte_array(buf, n_expected: int, pos: int = 0):
    mv = memoryview(buf)
    n_comp = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
    comp = mv[pos + 4 : pos + 4 + n_comp]
    data = _SNAPPY.decompress(comp, n_expected, asbytes=True)
    if len(data) != n_expected:
        raise ValueError(
            f"snappy decoded wrong size: expected {n_expected}, got {len(data)}"
        )
    return data, pos + 4 + n_comp


def pack_sized_byte_array(data: bytes) -> bytes:
    return np.uint32(len(data)).astype("<u4").tobytes() + pack_byte_array(data)


def unpack_sized_byte_array(buf, pos: int = 0):
    mv = memoryview(buf)
    n_unc = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
    return unpack_byte_array(mv, n_unc, pos + 4)


def pack_strings(lengths: np.ndarray, concat: bytes) -> bytes:
    """lengths int_array + sized_byte_array of concatenated bytes (Array.hs:44-59)."""
    return pack_int_array(np.asarray(lengths, dtype=np.int64)) + pack_sized_byte_array(
        concat
    )


def unpack_strings(buf, n: int, pos: int = 0, dtype=np.int64):
    """Returns ``(lengths, concatenated bytes, next_pos)``, the ``n``
    lengths as ``dtype``."""
    lengths, pos = unpack_int_array(buf, n, pos, dtype)
    data, pos = unpack_sized_byte_array(buf, pos)
    if int(lengths.sum()) != len(data):
        raise ValueError("string lengths do not sum to byte count")
    return lengths, data, pos
