"""Reference integer codec: frame-of-reference + zig-zag + BP64 bit-packing.

This is a from-scratch, fully vectorized numpy re-implementation of the
zebra int-array codec semantics (reference: zebra-core/csrc/zebra_unpack.c:99-162
``zebra_pack_array`` / :44-97 ``zebra_unpack_array``; Haskell wrapper
zebra-core/src/Zebra/Serial/Binary/Array.hs:143-184):

* values are split into 64-int chunks;
* a single frame-of-reference ``offset`` for the WHOLE array is the
  overflow-proof midpoint ``mid64(min, max)`` (zebra_unpack.c:23-42);
* each value is ``zigzag64(value - offset)`` (wrapping int64 arithmetic);
* each 64-int chunk is bit-packed at the width of its largest zig-zagged
  delta (``nbits`` = bit-length, 0..64), taking exactly ``nbits * 8`` bytes;
* the ``n mod 64`` remainder is stored as raw little-endian zig-zagged
  int64s (the doc comment in Array.hs:150-151 says "VByte" but the C code
  memcpys raw 8-byte words — zebra_unpack.c:149-155; we match the code);
* wire layout: ``u32 size | i64 offset | nbits (n//64 bytes) | packed parts
  | remainder`` where ``size`` counts nbits+parts+remainder.

The BP64 *bit order inside a packed chunk* is not observable from the
reference repo (the kernel lives in the external ``ambiata-anemone``
library, not vendored), so we adopt the canonical public layout from the
integer-compression scheme zebra's README itself cites — Lemire & Boytsov
2012 (arXiv:1209.2137), sequential horizontal packing: integer ``i`` of a
chunk occupies bits ``[i*nbits, (i+1)*nbits)`` of a little-endian
64-bit-word bitstream (golden-pinned for k in {1,7,13,64} in
tests/test_golden.py with hand-derived expected words).  The byte SIZE of
every chunk is identical to the reference (``nbits * 8``), so
compressed-size comparisons are exact.

Everything here is wrapping two's-complement int64 arithmetic, matching C.

Performance notes: the encode path computes (offset, deltas, nbits) ONCE
per array via :class:`PackPlan` and reuses it for both size costing (the
codec auto-selector calls ``plan_int_array`` on several candidates) and
the final byte assembly — no repeated passes over the data.
"""

from __future__ import annotations

from dataclasses import dataclass

import sys

import numpy as np

# the astype/view byte-reinterpretation fast paths assume native
# little-endian word layout (x86/arm64); big-endian hosts fall back to
# the endian-independent shift paths, which emit the identical LE wire
_NATIVE_LE = sys.byteorder == "little"

__all__ = [
    "zigzag64",
    "unzigzag64",
    "mid64",
    "bit_length64",
    "PackPlan",
    "plan_int_array",
    "pack_from_plan",
    "pack_int_array",
    "unpack_int_array",
    "unpack_into",
    "packed_size",
    "INT_HEADER_BYTES",
]

# u32 size + i64 offset
INT_HEADER_BYTES = 12

_U64 = np.uint64
_I64 = np.int64


def zigzag64(x: np.ndarray) -> np.ndarray:
    """int64 -> uint64 zig-zag: ``(n << 1) ^ (n >> 63)`` (zebra_unpack.c:16-21)."""
    x = x.astype(_I64, copy=False)
    # shifts wrap silently, so no errstate (its enter/exit costs ~2 us)
    return (np.left_shift(x, 1) ^ np.right_shift(x, 63)).view(_U64)


def unzigzag64(u: np.ndarray) -> np.ndarray:
    """uint64 -> int64 inverse zig-zag: ``(n >> 1) ^ -(n & 1)`` (zebra_unpack.c:9-14)."""
    u = u.astype(_U64, copy=False)
    with np.errstate(over="ignore"):
        neg = (_U64(0) - (u & _U64(1))).astype(_U64)
        return (np.right_shift(u, _U64(1)) ^ neg).view(_I64)


def mid64(x: int | np.ndarray, y: int | np.ndarray):
    """Overflow-proof int64 midpoint ``(x & y) + ((x ^ y) >> 1)`` (zebra_unpack.c:23-42)."""
    if type(x) is int and type(y) is int:
        # exact in Python ints: the midpoint of two int64s is an int64
        return (x & y) + ((x ^ y) >> 1)
    xa = np.asarray(x, dtype=_I64)
    ya = np.asarray(y, dtype=_I64)
    with np.errstate(over="ignore"):
        out = (xa & ya) + np.right_shift(xa ^ ya, 1)
    if np.isscalar(x) or (xa.ndim == 0 and ya.ndim == 0):
        return int(out)
    return out


def bit_length64(v: np.ndarray) -> np.ndarray:
    """Exact bit length of uint64 values, vectorized (0 for 0).

    Equivalent to ``64 - clz`` in zebra_pack_array (zebra_unpack.c:134).
    ``frexp`` of the float64 conversion gives the bit length directly and
    exactly below 2^53; above, round-to-nearest can cross a power-of-two
    upward (never downward — u >= 2^(b-1) and the error is < ulp/2), so
    the estimate is b or b+1 and one shift-compare repairs it.  ~5x faster
    than a masked shift cascade (2-3 dense passes, no scatter).
    """
    v = v.astype(_U64, copy=False)
    bits = np.frexp(v.astype(np.float64))[1].astype(np.int64)
    big = bits >= 54
    if big.any():
        vb = v[big]
        eb = bits[big]
        # values within half-ulp below 2^64 round UP in float64, giving an
        # estimate of 65; bit length there is necessarily 64, and a shift by
        # 64 is undefined for uint64 — clamp before the shift-compare.
        eb = np.minimum(eb, 64)
        over = np.right_shift(vb, (eb - 1).astype(_U64)) == 0
        eb[over] -= 1
        bits[big] = eb
    return bits


@dataclass
class PackPlan:
    """Precomputed encode state: shared by size costing and byte assembly.

    The zig-zagged deltas are LAZY (r5): costing needs only the per-chunk
    bit widths, which derive from per-chunk min/max of the frame-of-
    reference deltas without materializing the zigzag transform — the
    selector plans every candidate but packs only winners, and on hot
    token columns (where PFoR usually wins) the zigzag pass was ~60% of
    plan time spent on bytes never emitted.
    """

    n: int
    offset: int
    values: np.ndarray  # contiguous int column (int64, or native int8/16/32)
    nbits: np.ndarray  # int64, len n//64
    vmin: int
    vmax: int
    _deltas: np.ndarray | None = None

    @property
    def deltas(self) -> np.ndarray:
        """uint64 zig-zagged deltas, len n — computed on first use.

        ``values`` may be a narrow native dtype (r7); the subtract widens
        to int64 explicitly (dtype=, not promotion rules) so the result is
        identical to the old int64-everywhere pipeline."""
        if self._deltas is None:
            with np.errstate(over="ignore"):
                self._deltas = zigzag64(
                    np.subtract(self.values, self.offset, dtype=_I64)
                )
        return self._deltas

    @property
    def size(self) -> int:
        n_parts, n_rem = divmod(self.n, 64)
        return INT_HEADER_BYTES + n_parts + int(self.nbits.sum()) * 8 + n_rem * 8


_NARROW_OK = (np.dtype(np.int8), np.dtype(np.int16), np.dtype(np.int32))


def plan_int_array(values: np.ndarray) -> PackPlan:
    # r7: narrow signed ints plan at their NATIVE width — the chunk
    # reductions below run at 1/2 (int32) to 1/8 (int8) the memory
    # traffic, and only the n_parts-sized reduction outputs widen to
    # int64.  Values are identical, so the plan (and any packed wire
    # bytes derived from it) is identical to the int64 pipeline.
    values = np.ascontiguousarray(values)
    if values.dtype != _I64 and values.dtype not in _NARROW_OK:
        values = values.astype(_I64)
    n = len(values)
    n_parts = n // 64
    if n == 0:
        return PackPlan(0, 0, values, np.empty(0, np.int64), 0, 0)
    if n_parts:
        # per-chunk min/max FIRST, then subtract the offset from the
        # n_parts-sized reductions only: mid64 guarantees every
        # (value - offset) fits int64 without wrap, so the constant
        # subtract is order-preserving and commutes with the chunk
        # reductions — this drops the full-size delta materialization
        # (one 8n write + two 8n reads) from the plan's hot path
        chunks = values[: n_parts * 64].reshape(n_parts, 64)
        cmax = chunks.max(axis=1).astype(_I64, copy=False)
        cmin = chunks.min(axis=1).astype(_I64, copy=False)
        vmax = int(cmax.max())
        vmin = int(cmin.min())
        rem = values[n_parts * 64 :]
        if len(rem):
            vmax = max(vmax, int(rem.max()))
            vmin = min(vmin, int(rem.min()))
        offset = mid64(vmin, vmax)
        # max zigzag per chunk without the full zigzag pass: zigzag is
        # V-shaped in the signed delta (2x for x>=0, 2|x|-1 for x<0), so
        # the chunk max is max(zigzag(chunk_max), zigzag(chunk_min))
        with np.errstate(over="ignore"):
            maxzz = np.maximum(
                zigzag64(cmax - _I64(offset)), zigzag64(cmin - _I64(offset))
            )
        nbits = bit_length64(maxzz)
    else:
        vmin = int(values.min())
        vmax = int(values.max())
        offset = mid64(vmin, vmax)
        nbits = np.empty(0, dtype=np.int64)
    return PackPlan(n, offset, values, nbits, vmin, vmax)


def packed_size(values: np.ndarray) -> int:
    """Exact wire size in bytes of ``pack_int_array(values)`` without packing."""
    return plan_int_array(values).size


def _bp64_pack_group(vals: np.ndarray, w: int) -> np.ndarray:
    """Pack (m, 64) uint64 values (< 2**w each) into (m, w) uint64 words.

    Divisor widths (64 % w == 0 — including b=16, the width the real
    token column selects) take a binary-doubling path: log2(64/w)
    reshape-combine passes, ~1 element-pass total and no transposes,
    producing the identical LSB-first sequential layout (value pairs
    combine low-half-first, so value j lands at bits [j*w mod 64) of
    word j*w//64 exactly as the general path writes it).  Other widths
    use the word-major transposed path.
    """
    m = vals.shape[0]
    if w == 64:
        return np.ascontiguousarray(vals)
    if w and 64 % w == 0 and _NATIVE_LE:
        # byte-aligned widths: the LSB-first sequential layout makes the
        # packed words literally the values in little-endian byte order —
        # one truncating astype + view replaces every shift pass.
        # Sub-byte widths double up to 8 bits first, then take the view.
        cur = vals
        width = w
        with np.errstate(over="ignore"):
            while width < 8:
                pair = cur.reshape(m, -1, 2)
                cur = pair[:, :, 0] | np.left_shift(pair[:, :, 1], _U64(width))
                width *= 2
        dt = {8: np.uint8, 16: np.uint16, 32: np.uint32}[width]
        return np.ascontiguousarray(cur).astype(dt).view(_U64).reshape(m, w)
    if w and 64 % w == 0:
        cur = vals
        width = w
        with np.errstate(over="ignore"):
            while width < 64:
                pair = cur.reshape(m, -1, 2)
                cur = pair[:, :, 0] | np.left_shift(pair[:, :, 1], _U64(width))
                width *= 2
        return np.ascontiguousarray(cur)  # (m, w)
    vt = np.ascontiguousarray(vals.T)  # (64, m)
    out = np.zeros((w, m), dtype=_U64)
    with np.errstate(over="ignore"):
        for i in range(64):
            start = i * w
            wi = start >> 6
            sh = start & 63
            out[wi] |= np.left_shift(vt[i], _U64(sh))
            if sh + w > 64:
                out[wi + 1] |= np.right_shift(vt[i], _U64(64 - sh))
    return np.ascontiguousarray(out.T)


def _bp64_unpack_group(words: np.ndarray, w: int) -> np.ndarray:
    """Inverse of :func:`_bp64_pack_group`: (m, w) words -> (m, 64) values,
    uint64 or, at the byte-aligned widths 8, 16 and 32, the unsigned dtype
    of that width (a view of ``words``; callers widen as they store)."""
    m = words.shape[0]
    if w == 64:
        return np.ascontiguousarray(words)
    if w in (8, 16, 32) and _NATIVE_LE:
        # byte-aligned inverse of the astype/view pack path: the word
        # bytes are the values
        dt = {8: np.uint8, 16: np.uint16, 32: np.uint32}[w]
        return np.ascontiguousarray(words).view(dt).reshape(m, 64)
    if w >= 16 and 64 % w == 0:
        # inverse binary doubling: split each element into (low, high)
        # halves until back at width w; only the low half needs masking
        # (the high half's upper bits are already zero at every level).
        # Gated to w >= 16 — measured 1.43x there (few split levels),
        # but the strided half-writes LOSE to the word-major path at
        # w <= 8 (0.86x at w=4), where 64/w split levels dominate
        cur = words
        width = 64
        with np.errstate(over="ignore"):
            while width > w:
                width //= 2
                mask = (_U64(1) << _U64(width)) - _U64(1)
                half = np.empty(cur.shape + (2,), dtype=_U64)
                half[..., 0] = cur & mask
                half[..., 1] = np.right_shift(cur, _U64(width))
                cur = half.reshape(m, -1)
        return np.ascontiguousarray(cur)  # (m, 64)
    wt = np.ascontiguousarray(words.T)  # (w, m)
    vals = np.empty((64, m), dtype=_U64)
    mask = _U64(0xFFFFFFFFFFFFFFFF) if w == 64 else ((_U64(1) << _U64(w)) - _U64(1))
    with np.errstate(over="ignore"):
        for i in range(64):
            start = i * w
            wi = start >> 6
            sh = start & 63
            v = np.right_shift(wt[wi], _U64(sh))
            if sh + w > 64:
                v = v | np.left_shift(wt[wi + 1], _U64(64 - sh))
            vals[i] = v & mask
    return np.ascontiguousarray(vals.T)


def pack_from_plan(plan: PackPlan) -> bytes:
    """Assemble the wire bytes from a precomputed :class:`PackPlan`."""
    n = plan.n
    n_parts, n_rem = divmod(n, 64)
    nbits = plan.nbits
    deltas = plan.deltas

    parts_total = int(nbits.sum()) * 8
    # scatter packed chunks at 8-byte-WORD granularity (every chunk is a
    # whole number of words) — 8x fewer fancy-index entries than per-byte
    parts64 = np.zeros(parts_total // 8, dtype="<u8")
    if n_parts:
        chunk_vals = deltas[: n_parts * 64].reshape(n_parts, 64)
        word_offsets = np.concatenate(([0], np.cumsum(nbits[:-1])))
        widths = np.unique(nbits)
        for w in widths:
            w = int(w)
            if w == 0:
                continue
            idx = np.nonzero(nbits == w)[0]
            words = _bp64_pack_group(chunk_vals[idx], w)  # (m, w) uint64
            le = words.astype("<u8", copy=False)
            if len(idx) == n_parts:
                # single-width fast path: contiguous write
                parts64[:] = le.ravel()
            else:
                tgt = word_offsets[idx][:, None] + np.arange(w, dtype=np.int64)[None, :]
                parts64[tgt] = le

    remainder = deltas[n_parts * 64 :].astype("<u8", copy=False).view(np.uint8)

    size = n_parts + parts_total + n_rem * 8
    header = (
        np.uint32(size).astype("<u4").tobytes()
        + np.int64(plan.offset).astype("<i8").tobytes()
    )
    return b"".join(
        (
            header,
            nbits.astype(np.uint8).tobytes(),
            parts64.tobytes(),
            remainder.tobytes(),
        )
    )


def pack_int_array(values: np.ndarray) -> bytes:
    """Encode an int64 vector to the zebra int-array wire format."""
    return pack_from_plan(plan_int_array(values))


# 64-value groups a decode kernel unpacks per step: its scratch stays at
# 4,096 x 64 x 8 B = 2 MiB however long the section is
CHUNK_GROUPS = 4096


def _int_array_chunks(mv: memoryview, n_elems: int, pos: int, out=None):
    """Validate the int_array at ``pos`` and return ``(next_pos, chunks)``.

    ``chunks`` yields ``(lo, hi, values)`` for consecutive runs of up to
    ``CHUNK_GROUPS * 64`` values (each ``lo`` a multiple of that, the
    remainder in the last run): ``values`` is an int64 array, valid
    until the next step.  With a 64-bit ``out`` it is ``out[lo:hi]``,
    so the values land in place; otherwise it is one reused scratch.
    Mirrors zebra_unpack_array (zebra_unpack.c:44-97) including the
    buffer-size validation."""
    if len(mv) < pos + INT_HEADER_BYTES:
        raise ValueError(
            f"int_array truncated: need {pos + INT_HEADER_BYTES} header bytes, "
            f"have {len(mv)}"
        )
    size = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
    offset = int(np.frombuffer(mv[pos + 4 : pos + 12], dtype="<i8")[0])
    body_at = pos + INT_HEADER_BYTES
    if len(mv) < body_at + size:
        raise ValueError(
            f"int_array truncated: header promises {size} body bytes at "
            f"{body_at}, buffer has {len(mv)}"
        )
    n_parts, n_rem = divmod(n_elems, 64)
    if n_parts > size:
        raise ValueError(
            f"int_array size mismatch: {n_elems} values need {n_parts} width "
            f"bytes, header says {size}"
        )
    nbits = np.frombuffer(mv[body_at : body_at + n_parts], dtype=np.uint8)
    if n_parts and int(nbits.max()) > 64:
        raise ValueError(f"int_array chunk width {int(nbits.max())} exceeds 64")
    word_at = np.zeros(n_parts + 1, dtype=np.int64)
    np.cumsum(nbits, dtype=np.int64, out=word_at[1:])
    expected = n_parts + int(word_at[-1]) * 8 + n_rem * 8
    if expected != size:
        raise ValueError(
            f"int_array size mismatch: header says {size}, layout needs {expected}"
        )
    parts_at = body_at + n_parts
    if out is None or out.itemsize != 8:
        out = None
        scratch = np.empty(min(n_elems, CHUNK_GROUPS * 64 + 63), dtype=_U64)
        neg = np.empty_like(scratch)
    else:
        neg = np.empty(min(n_elems, CHUNK_GROUPS * 64 + 63), dtype=_U64)
    base = _U64(offset & 0xFFFFFFFFFFFFFFFF)

    def chunks():
        for g0 in range(0, max(n_parts, 1), CHUNK_GROUPS):
            g1 = min(g0 + CHUNK_GROUPS, n_parts)
            lo, hi = g0 * 64, (g1 * 64 if g1 < n_parts else n_elems)
            u = (scratch[: hi - lo] if out is None else out[lo:hi].view(_U64))
            w0, w1 = int(word_at[g0]), int(word_at[g1])
            words = np.frombuffer(
                mv, dtype="<u8", count=w1 - w0, offset=parts_at + w0 * 8
            ).astype(_U64)  # aligned copy of the chunk's packed words
            groups = u[: (g1 - g0) * 64].reshape(g1 - g0, 64)
            nb = nbits[g0:g1]
            if len(nb) and nb.min() == nb.max():
                w = int(nb[0])
                groups[:] = _bp64_unpack_group(words.reshape(g1 - g0, w), w) if w else 0
            else:
                for w in np.unique(nb):
                    w = int(w)
                    idx = np.flatnonzero(nb == w)
                    if w == 0:
                        groups[idx] = 0
                        continue
                    src = (word_at[g0 + idx] - w0)[:, None] + np.arange(w)
                    groups[idx] = _bp64_unpack_group(words[src], w)
            if hi == n_elems and n_rem:
                at = parts_at + int(word_at[-1]) * 8
                u[hi - lo - n_rem :] = np.frombuffer(
                    mv, dtype="<u8", count=n_rem, offset=at
                )
            # unzigzag (n >> 1) ^ -(n & 1), then add the frame offset,
            # wrapping in uint64 as the C code does in int64
            t = neg[: hi - lo]
            np.bitwise_and(u, _U64(1), out=t)
            np.negative(t, out=t)
            np.right_shift(u, _U64(1), out=u)
            np.bitwise_xor(u, t, out=u)
            np.add(u, base, out=u)
            yield lo, hi, u.view(_I64)

    return body_at + size, chunks()


def unpack_int_array(
    buf: bytes | memoryview, n_elems: int, pos: int = 0, dtype=_I64
):
    """Decode ``n_elems`` values from ``buf`` at ``pos``.

    Returns ``(values, next_pos)``: the int64 values, or with a narrower
    integer ``dtype`` their low bits (the int64 result's ``astype``),
    unpacked ``CHUNK_GROUPS`` groups at a time."""
    out = np.empty(n_elems, dtype=dtype)
    return out, unpack_into(memoryview(buf), pos, out)


def unpack_into(mv: memoryview, pos: int, out: np.ndarray) -> int:
    """Decode ``len(out)`` values at ``pos`` into ``out`` (their low bits
    at its width); returns the next position."""
    end, chunks = _int_array_chunks(mv, len(out), pos, out)
    for lo, hi, v in chunks:
        if out.itemsize != 8:
            np.copyto(out[lo:hi], v, casting="unsafe")
    return end
