"""Native-width decode: every int kernel writes the column's own width.

``decode_ints(..., dtype=d)`` must equal the int64 decode's ``astype(d)``
for every codec and every int-like storage the block walker produces,
and a block's decode must stay within a fixed multiple of its output.
"""

from __future__ import annotations

import gc
import tracemalloc

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from zebra_spark.codec import codecs as C
from zebra_spark.codec.blocks import BLOCK_MAGIC, decode_batch, encode_batch
from zebra_spark.codec.codecs import IntCodec, decode_ints, encode_ints
from zebra_spark.codec.intcodec import _bp64_pack_group, pack_int_array, plan_int_array


def _u32(v: int) -> bytes:
    return np.uint32(v).astype("<u4").tobytes()


def _i64(v: int) -> bytes:
    return np.int64(v).astype("<i8").tobytes()


def _pfor(v: np.ndarray, b: int) -> bytes:
    """PFoR wire at base width ``b``: every value wider than ``b`` bits
    above vmin is an exception."""
    vmin = int(v.min())
    u = np.subtract(v, vmin, dtype=np.int64).view(np.uint64)
    exc = np.flatnonzero(u >= np.uint64(1 << b)) if b < 64 else np.empty(0, np.int64)
    base = u.copy()
    base[exc] = 0
    base = np.concatenate([base, np.zeros(-len(v) % 64, np.uint64)])
    parts = _bp64_pack_group(base.reshape(-1, 64), b).astype("<u8").tobytes() if b else b""
    out = bytes([b]) + _i64(vmin) + _u32(len(exc)) + parts
    if len(exc):
        out += pack_int_array(exc.astype(np.int64)) + pack_int_array(v[exc])
    return out


def _forced(codec: int, v: np.ndarray, b: int = 3) -> bytes | None:
    """``v``'s payload under ``codec``, built whatever its size (None
    where the codec cannot carry ``v``)."""
    v = v.astype(np.int64)
    n = len(v)
    with np.errstate(over="ignore"):
        deltas = np.subtract(v[1:], v[:-1], dtype=np.int64)
    if codec == IntCodec.ZEBRA:
        return pack_int_array(v)
    if codec == IntCodec.CONSTANT:
        return _i64(v[0]) if n and (v == v[0]).all() else None
    if codec == IntCodec.RLE:
        rv, rl = C._rle_split(v)
        return _u32(len(rv)) + pack_int_array(rv) + pack_int_array(rl)
    if codec == IntCodec.DICT:
        uniq, inverse = np.unique(v, return_inverse=True)
        return _u32(len(uniq)) + pack_int_array(uniq) + pack_int_array(inverse)
    if codec == IntCodec.DELTA_V0:
        return _i64(v[0]) + pack_int_array(deltas) if n else None
    if codec == IntCodec.DELTA:  # inner PFoR at even b, zebra at odd
        if n < 2:
            return None
        inner = _pfor(deltas, b) if b % 2 == 0 else pack_int_array(deltas)
        return _i64(v[0]) + bytes([IntCodec.ZEBRA if b % 2 else IntCodec.PFOR]) + inner
    if codec == IntCodec.PFOR:
        return _pfor(v, b) if n else None
    if codec == IntCodec.ALP:
        alp = C._alp_build(v) if n >= 64 else None
        return alp[1]() if alp else None
    if codec == IntCodec.ALP_RD:
        rd = C._alp_rd_build(v, np.inf) if n else None
        return rd[1]() if rd else None
    if codec == IntCodec.ZSTD_BT:
        return C._zstd_bt_build(v, plan_int_array(v), np.inf)[1]() if n else None
    raise AssertionError(codec)


# each type the block walker stores as ints -> the dtype it decodes at
STORAGE = {
    "int8": np.int8, "int16": np.int16, "int32": np.int32, "int64": np.int64,
    "uint32": np.int32, "date32": np.int32, "float32": np.int32, "float64": np.int64,
}


@st.composite
def columns(draw):
    """(type name, int64 storage) with wrap edges: values near the
    type's minimum or maximum, and uint32 above int32's maximum."""
    name = draw(st.sampled_from(sorted(STORAGE)))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    n = draw(st.integers(1, 700))
    mode = draw(st.sampled_from(["full", "low", "high", "runs", "ramp"]))
    if name in ("float32", "float64"):
        f = rng.choice([0.0, -0.0, 1.5, np.nan, np.inf, -2.25], n) if mode == "runs" else (
            np.round(rng.normal(0, 10**rng.integers(0, 6), n), 2)
            if mode in ("low", "ramp") else rng.normal(0, 1e6, n)
        )
        if name == "float32":
            storage = f.astype(np.float32).view(np.int32).astype(np.int64)
        else:
            storage = f.view(np.int64)
    else:
        info = np.iinfo(np.uint32 if name == "uint32" else STORAGE[name])
        lo, hi = int(info.min), int(info.max)
        span = min(hi - lo, 3000)
        if mode == "full":
            storage = rng.integers(lo, hi, n, endpoint=True)
        elif mode == "low":
            storage = lo + rng.integers(0, span, n)
        elif mode == "high":
            storage = hi - rng.integers(0, span, n)
        elif mode == "runs":
            storage = np.repeat(rng.integers(lo, hi, 5, endpoint=True), -(-n // 5))[:n]
        else:
            storage = np.minimum(lo + np.arange(n) * max(1, span // n), hi)
        storage = storage.astype(np.int64)
    if draw(st.booleans()):  # NULLs: the walker stores 0 under them
        storage = np.where(rng.random(n) < 0.3, 0, storage)
    return name, storage


@given(columns(), st.sampled_from(sorted(IntCodec.NAMES)), st.integers(0, 64))
@settings(max_examples=300, deadline=None)
def test_native_width_decode_equals_int64_astype(col, codec, b):
    name, storage = col
    dt = np.dtype(STORAGE[name])
    if codec == IntCodec.CONSTANT:
        storage = np.full_like(storage, storage[0])
    payload = _forced(codec, storage, b)
    if payload is None:
        return
    ref, end = decode_ints(codec, payload, len(storage))
    assert end == len(payload)
    assert ref.dtype == np.int64 and (ref == storage).all()
    out, end = decode_ints(codec, payload, len(storage), dtype=dt)
    assert end == len(payload)
    assert out.dtype == dt and (out == ref.astype(dt)).all()


@given(columns(), st.booleans())
@settings(max_examples=60, deadline=None)
def test_native_width_block_roundtrip(col, nulls):
    """Through encode_batch/decode_batch, with and without NULLs, each
    type comes back bit-identical, flat and as a list's items."""
    name, storage = col
    t = {"int8": pa.int8(), "int16": pa.int16(), "int32": pa.int32(), "int64": pa.int64(),
         "uint32": pa.uint32(), "date32": pa.date32(), "float32": pa.float32(),
         "float64": pa.float64()}[name]
    n = len(storage)
    bits = storage.astype(f"i{t.bit_width // 8}")
    mask = np.arange(n) % 3 == 0 if nulls else np.zeros(n, bool)
    arr = pa.Array.from_buffers(
        t, n, [pa.py_buffer(np.packbits(~mask, bitorder="little")), pa.py_buffer(bits)],
        null_count=int(mask.sum()),
    )
    lists = pa.Array.from_buffers(  # row i holds item i
        pa.list_(t), n, [None, pa.py_buffer(np.arange(n + 1, dtype=np.int32))],
        children=[arr],
    )
    rb = pa.record_batch([arr, lists], names=["a", "b"])
    out = decode_batch(encode_batch(rb)[0], rb.schema)
    assert out.schema == rb.schema
    assert out.column(1).offsets.equals(lists.offsets)
    for got in (out.column(0), out.column(1).values):
        assert got.is_valid().equals(arr.is_valid())
        vals = np.frombuffer(got.buffers()[1], bits.dtype, n)
        assert (vals[~mask] == bits[~mask]).all()


def test_multi_chunk_float_kernels():
    """ALP and ALP-RD decode across several bounded runs."""
    rng = np.random.default_rng(4)
    n = 3 * C._CHUNK + 77
    for codec, f in (
        (IntCodec.ALP, np.round(rng.random(n) * 1000, 2)),
        (IntCodec.ALP_RD, (rng.random(n) * 100).astype(np.float32).astype(np.float64)),
    ):
        v = f.view(np.int64)
        payload = _forced(codec, v)
        out, end = decode_ints(codec, payload, n)
        assert end == len(payload) and (out == v).all()


# ---------------------------------------------------------------------------
# decode memory bound

_POOLS = []  # every proxy outlives the buffers it allocated


def _peak_bytes(fn, check) -> int:
    """Peak bytes ``fn()`` allocates: tracemalloc's (numpy, bytes) plus
    the Arrow pool's, each at its own peak.  ``check`` sees the result,
    which is freed before the pool is restored."""
    old = pa.default_memory_pool()
    pool = pa.proxy_memory_pool(old)
    _POOLS.append(pool)
    pa.set_memory_pool(pool)
    gc.collect()
    tracemalloc.start()
    try:
        out = fn()
        peak = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
        check(out)
        del out
        gc.collect()
        return peak + pool.max_memory()
    finally:
        if tracemalloc.is_tracing():
            tracemalloc.stop()
        pa.set_memory_pool(old)


N_VALUES = 1 << 22
ROWS = 4096


def _values(codec: int) -> np.ndarray:
    rng = np.random.default_rng(codec)
    n = N_VALUES
    if codec == IntCodec.CONSTANT:
        return np.full(n, -7, np.int32)
    if codec == IntCodec.RLE:
        return np.repeat(rng.integers(-(2**31), 2**31, n // 8), 8).astype(np.int32)
    if codec == IntCodec.DICT:
        return rng.choice(rng.integers(-(2**31), 2**31, 500), n).astype(np.int32)
    if codec in (IntCodec.DELTA, IntCodec.DELTA_V0):
        return np.cumsum(rng.integers(0, 40, n)).astype(np.int32)
    if codec == IntCodec.ZSTD_BT:
        return np.minimum(rng.zipf(1.2, n) - 1, 50_256).astype(np.int32)
    if codec == IntCodec.PFOR:  # 1% of values wider than the 12-bit base
        wide = rng.random(n) < 0.01
        return np.where(wide, rng.integers(0, 2**30, n), rng.integers(0, 4096, n)).astype(np.int32)
    return rng.integers(-(2**20), 2**20, n).astype(np.int32)


@pytest.mark.parametrize(
    "codec",
    [IntCodec.ZEBRA, IntCodec.CONSTANT, IntCodec.RLE, IntCodec.DICT,
     IntCodec.DELTA_V0, IntCodec.DELTA, IntCodec.PFOR, IntCodec.ZSTD_BT],
    ids=lambda c: IntCodec.NAMES[c],
)
def test_list_int32_decode_peak_is_bounded(codec):
    """A 4 M-value ``list<int32>`` block decodes at a peak of at most
    1.5x its output plus its payload, whichever codec holds the values
    (before: 2-8x, from the int64 copies of every section)."""
    v = _values(codec)
    lengths = np.full(ROWS, N_VALUES // ROWS, np.int32)
    lc, lp, _ = encode_ints(lengths)
    payload = b"".join([
        BLOCK_MAGIC, _u32(ROWS), np.uint16(1).astype("<u2").tobytes(),
        b"\0", bytes([lc]), lp, np.uint64(N_VALUES).astype("<u8").tobytes(),
        b"\0", bytes([codec]), _forced(codec, v, b=12),
    ])
    schema = pa.schema([("tokens", pa.list_(pa.int32()))])
    out_bytes = []

    def check(batch):
        col = batch.column(0)
        assert col.type == schema.field(0).type
        got = np.frombuffer(col.values.buffers()[1], np.int32, N_VALUES)
        assert (got == v).all()
        out_bytes.append(batch.nbytes)

    peak = _peak_bytes(lambda: decode_batch(payload, schema), check)
    assert peak <= 1.5 * out_bytes[0] + len(payload), (peak, out_bytes[0], len(payload))


def test_string_dict_decode_peak_is_bounded():
    """1 M rows of 20-byte strings over 1,000 distinct values: the DICT
    decode gathers by row, at a peak of at most 2x its output (a
    per-byte gather index once cost 480 MB for 19 MB of output)."""
    rng = np.random.default_rng(0)
    words = [rng.bytes(10).hex() for _ in range(1000)]
    n = 1 << 20
    pick = rng.integers(0, 1000, n)
    col = pa.array([words[i] for i in pick], pa.string())
    payload, meta = encode_batch(pa.record_batch([col], names=["s"]))
    assert meta["cols"]["s"]["codec"] == "dict"
    schema = pa.schema([("s", pa.string())])
    out_bytes = []

    def check(batch):
        assert batch.column(0).equals(col)
        out_bytes.append(batch.nbytes)

    peak = _peak_bytes(lambda: decode_batch(payload, schema), check)
    assert peak <= 2 * out_bytes[0] + len(payload), (peak, out_bytes[0])


def _corrupt(codec: int, at: int, value: bytes):
    v = np.arange(4096, dtype=np.int64) % 700
    payload = bytearray(_forced(codec, v, b=6))
    payload[at : at + len(value)] = value
    return bytes(payload), len(v)


@pytest.mark.parametrize(
    "codec, at, value, field",
    [
        (IntCodec.ZSTD_BT, 0, bytes([3]), "ZSTD_BT width"),
        (IntCodec.ZSTD_BT, 9, _u32(1 << 30), "ZSTD_BT comp_len"),
        (IntCodec.PFOR, 0, bytes([65]), "PFoR b"),
        (IntCodec.PFOR, 0, bytes([64]), "PFoR b"),  # packed words past the payload
        (IntCodec.PFOR, 9, _u32(4097), "PFoR n_exc"),
        (IntCodec.RLE, 0, _u32(4097), "RLE n_runs"),
        (IntCodec.DICT, 0, _u32(1 << 31), "DICT n_dict"),
    ],
)
def test_declared_fields_fail_closed(codec, at, value, field):
    """A declared width or count that the row count or the payload
    cannot hold raises ValueError naming it, before anything is
    allocated from it."""
    payload, n = _corrupt(codec, at, value)
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match=field):
            decode_ints(codec, payload, n)
        assert tracemalloc.get_traced_memory()[1] < 1 << 20
    finally:
        tracemalloc.stop()
