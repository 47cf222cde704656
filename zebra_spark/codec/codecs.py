"""Codec menu + entropy/cardinality-driven auto-selector.

The reference (zebra) has exactly ONE int codec — FoR+zigzag+BP64
(zebra-core/csrc/zebra_unpack.c:99-162) — and ONE string codec — snappy over
lengths+concat (zebra-core/src/Zebra/Serial/Binary/Array.hs:44-113).  The
north rule requires green-field extensions: dictionary, RLE, delta and FSST
codecs with a stats-driven selector.  The contract that keeps the
"compressed size <= zebra output" bound: the zebra codec is ALWAYS a
candidate and the selector takes the exact minimum, so a selected payload is
never larger than the reference payload for the same framing.

Every int codec payload decodes to bit-identical int64s, or to their low
bits at a column's own width (:func:`decode_ints`); every string codec
payload decodes to bit-identical (lengths, concatenated-bytes).

Wire framing (ours, block-internal): ``u8 codec_id | payload``.
"""

from __future__ import annotations

import os

import numpy as np

from .intcodec import (
    CHUNK_GROUPS,
    INT_HEADER_BYTES,
    _bp64_pack_group,
    _bp64_unpack_group,
    bit_length64,
    mid64,
    pack_from_plan,
    pack_int_array,
    packed_size,
    plan_int_array,
    _int_array_chunks,
    unpack_int_array,
    unpack_into,
    zigzag64,
)
from .arrowbuf import from_numpy, value_offsets as np_offsets, values as np_values
from .bytecodec import pack_strings, unpack_strings
from . import fsst as _fsst

__all__ = [
    "IntCodec",
    "StrCodec",
    "encode_ints",
    "decode_ints",
    "encode_strings",
    "decode_strings",
    "zebra_int_size",
    "zebra_strings_size",
]

_I64 = np.int64


class IntCodec:
    ZEBRA = 0  # reference FoR+zigzag+BP64 — the yardstick and fallback
    CONSTANT = 1
    RLE = 2
    DICT = 3
    DELTA_V0 = 4  # legacy wire (i64 first | zebra int_array) — decode-only
    PFOR = 5  # patched FoR: fixed base width + exception list (Lemire 2012)
    ALP = 6  # decimal floats as scaled ints (ALP, Afroozeh & Boncz 2023)
    # r4 wire adds an inner-codec byte; a NEW id keeps blocks persisted by
    # older builds decodable (resumable run_encode_job outputs)
    DELTA = 7  # i64 first | u8 inner_codec | inner payload (n-1 deltas)
    ALP_RD = 8  # full-mantissa floats: left-bits dict + right-bits pack
    ZSTD_BT = 9  # FoR + byte-transposed planes + zstd-1 FSE entropy stage

    NAMES = {
        0: "zebra",
        1: "constant",
        2: "rle",
        3: "dict",
        4: "delta-v0",
        5: "pfor",
        6: "alp",
        7: "delta",
        8: "alp-rd",
        9: "zstd-bt",
    }


class StrCodec:
    ZEBRA = 0  # lengths int_array + snappy concat (Array.hs:44-68)
    DICT = 1  # unique strings + index int column
    FSST = 2  # BPE-style symbol-table compression + lengths (decode-only)
    ZLIB = 3  # DEFLATE concat (stdlib; r5 ext) (decode-only)
    ZSTD = 4  # zstd concat (pyarrow codec; r5 ext) — same wire frame as ZLIB
    FSST_Z = 5  # FSST section wrapped in zstd (symbols, then entropy)

    NAMES = {
        0: "zebra-snappy",
        1: "dict",
        2: "fsst",
        3: "zlib",
        4: "zstd",
        5: "fsst-zstd",
    }


def zebra_int_size(values: np.ndarray) -> int:
    """Reference-codec size for the ``<=`` bound (excl. our 1-byte codec tag)."""
    return packed_size(values)


# ---------------------------------------------------------------------------
# codec policy.  Every policy takes the exact smallest payload among the
# candidates it offers; the policies differ only in the menu and the int
# decode handicaps:
#   balanced (default) — strings: zebra-snappy, dict, zstd-12; int DELTA
#                        and ZSTD_BT must beat their decode handicaps
#   size               — strings: zebra-snappy, dict, zstd-19, fsst-zstd;
#                        no int handicaps
#   speed              — strings: zebra-snappy, dict; no int ZSTD_BT
POLICIES = ("balanced", "size", "speed")


def resolve_policy(policy: str | None = None) -> str:
    """``policy``, or ``ZS_CODEC_POLICY`` (default ``balanced``) read now
    when it is None.  Raises ValueError for anything but balanced, size
    or speed."""
    if policy is None:
        policy = os.environ.get("ZS_CODEC_POLICY", "balanced")
    if policy not in POLICIES:
        raise ValueError(
            f"unknown codec policy {policy!r}: expected balanced|size|speed"
        )
    return policy


# ---------------------------------------------------------------------------
# int codecs


def _rle_split(values: np.ndarray):
    if len(values) == 0:
        return values, values
    change = np.empty(len(values), dtype=bool)
    change[0] = True
    np.not_equal(values[1:], values[:-1], out=change[1:])
    starts = np.flatnonzero(change)
    run_values = values[starts]
    run_lengths = np.diff(np.append(starts, len(values))).astype(_I64)
    return run_values, run_lengths


def encode_ints(
    values: np.ndarray,
    allow: set[int] | None = None,
    float_view: bool = False,
    float32_view: bool = False,
    policy: str | None = None,
):
    """Select + encode. Returns ``(codec_id, payload_bytes, meta_dict)``.

    The result is a function of ``(values, policy)`` alone (``policy``:
    see :func:`resolve_policy`).  ``meta_dict`` carries the selector stats
    for the per-partition codec metrics required by the north rule.

    ``float_view=True`` marks ``values`` as the bit-cast of a float64
    column, enabling the ALP decimal candidate (pointless and skipped for
    genuine integers).  ``float32_view=True`` marks them as sign-extended
    float32 bit patterns — ALP decimal can't apply (the container is not
    an f64 image) but ALP-RD can (it is a pure bit transform).

    Selection takes the candidate with the smallest ``size * handicap``
    (``_DECODE_HANDICAP``; no handicaps under ``size``).  The zebra
    candidate is always planned exactly, so the winner is never larger
    than zebra.  The costly candidates are gated by statistics sampled
    from this column: each is built only when its sampled estimate can
    beat the best handicapped score so far.  ALP (decimal floats only)
    and ZSTD_BT are costed first, so where they win (prices; zipf token
    ids) they set a tight bar that spares PFoR, DICT and DELTA their
    full-array passes.  Costing reuses a single :class:`PackPlan` per
    candidate and the winner's plan assembles the payload without
    recomputation.
    """
    policy = resolve_policy(policy)
    # r7: narrow signed ints stay at their native width through planning
    # (see plan_int_array) — every candidate below either handles the
    # narrow dtype or widens explicitly with dtype=_I64, so the selected
    # wire bytes are identical to the int64-everywhere pipeline
    values = np.ascontiguousarray(values)
    if values.dtype != _I64 and values.dtype not in (
        np.dtype(np.int8), np.dtype(np.int16), np.dtype(np.int32)
    ):
        values = values.astype(_I64)
    n = len(values)
    handicap = {} if policy == "size" else _DECODE_HANDICAP

    def allowed(c):
        return allow is None or c in allow

    def bar(c):
        """The size ``c`` must stay under to beat every candidate so far."""
        best = min(s * handicap.get(k, 1.0) for k, (s, _) in candidates.items())
        return best / handicap.get(c, 1.0)

    zplan = plan_int_array(values)
    zsize = zplan.size
    stats, s_uniq, s_counts = _column_stats(values, zplan)
    # (size, thunk-producing-payload)
    candidates: dict[int, tuple[int, object]] = {
        IntCodec.ZEBRA: (zsize, lambda: pack_from_plan(zplan))
    }

    n_runs = None
    if n > 0 and zplan.vmin == zplan.vmax and allowed(IntCodec.CONSTANT):
        # 8 bytes: smaller than any other candidate's header
        candidates[IntCodec.CONSTANT] = (
            8,
            lambda: np.int64(values[0]).astype("<i8").tobytes(),
        )
    elif n > 0:
        # ALP first: on decimal floats it wins by enough to prune every
        # candidate below (ZSTD_BT included); elsewhere a 256-value probe
        # rejects it
        if float_view and allowed(IntCodec.ALP) and n >= 64:
            alp = _alp_build(values)
            if alp is not None:
                candidates[IntCodec.ALP] = alp

        # ZSTD_BT next: the compressed size IS its costing, and where it
        # wins (entropy-bound columns) it wins by enough to prune the
        # rest.  Not offered under "speed" unless explicitly allowed.
        if (
            allowed(IntCodec.ZSTD_BT)
            and n >= 1024
            and (policy != "speed" or allow is not None)
        ):
            zb = _zstd_bt_build(values, zplan, bar(IntCodec.ZSTD_BT))
            if zb is not None:
                candidates[IntCodec.ZSTD_BT] = zb

        if allowed(IntCodec.RLE) and n >= 64:
            # run-ratio gate before the full O(n) split: exact on short
            # columns, from the 16 stratified slices on long ones
            rows = (
                values[None] if n <= _GATE_FULL
                else _gate_sample(values, _GATE_SLICE).reshape(_GATE_SLICES, -1)
            )
            samp_runs = np.count_nonzero(rows[:, 1:] != rows[:, :-1]) + len(rows)
            if samp_runs <= rows.size // 2:
                rv, rl = _rle_split(values)
                n_runs = len(rv)
                if n_runs <= n // 2:
                    pv, pl = plan_int_array(rv), plan_int_array(rl)
                    candidates[IntCodec.RLE] = (
                        4 + pv.size + pl.size,
                        lambda pv=pv, pl=pl, rv=rv: (
                            np.uint32(len(rv)).astype("<u4").tobytes()
                            + pack_from_plan(pv)
                            + pack_from_plan(pl)
                        ),
                    )

        if allowed(IntCodec.PFOR) and n >= 256:
            pfor = _pfor_build(values, zplan, bar(IntCodec.PFOR))
            if pfor is not None:
                candidates[IntCodec.PFOR] = pfor

        card = stats["cardinality_est"]
        if (
            allowed(IntCodec.DICT)
            and n >= 64
            and _dict_bytes(s_uniq, s_counts, card, n, zplan) < bar(IntCodec.DICT)
        ):
            dict_pair = _dict_split(values, zplan, card, len(s_uniq))
            if dict_pair is not None:
                uniq, inverse = dict_pair
                pu = plan_int_array(uniq)
                # sampled skip-gate: planning the full inverse costs a full
                # zigzag+max pass; extrapolate its size from slices first
                if _sampled_plan_bytes(inverse) * n + pu.size + 4 < bar(IntCodec.DICT):
                    pi = plan_int_array(inverse)
                    candidates[IntCodec.DICT] = (
                        4 + pu.size + pi.size,
                        lambda pu=pu, pi=pi, uniq=uniq: (
                            np.uint32(len(uniq)).astype("<u4").tobytes()
                            + pack_from_plan(pu)
                            + pack_from_plan(pi)
                        ),
                    )

        # ALP-RD is ALP's fallback for "real doubles" (Afroozeh & Boncz):
        # offered only when ALP's decimal transform is not exact
        if (
            (float_view or float32_view)
            and IntCodec.ALP not in candidates
            and allowed(IntCodec.ALP_RD)
            and n >= 64
        ):
            rd = _alp_rd_build(values, bar(IntCodec.ALP_RD))
            if rd is not None:
                candidates[IntCodec.ALP_RD] = rd

        # first value kept out of the delta frame so a large base does not
        # widen the frame-of-reference of the (small) diffs.  Random-ish
        # data has WIDER diffs than values, so slices of the diffs decide
        # whether the whole array is subtracted at all; the bar carries
        # DELTA's decode handicap, so a candidate that could only win
        # inside the handicap zone is skipped too.  (Sampling error can
        # skip a narrow win; the <=zebra bound never depends on DELTA.)
        if (
            allowed(IntCodec.DELTA)
            and n >= 2
            and _sampled_plan_bytes(values, diff=True) * (n - 1) + 9
            < bar(IntCodec.DELTA)
        ):
            with np.errstate(over="ignore"):
                deltas = np.subtract(values[1:], values[:-1], dtype=_I64)
            dplan = plan_int_array(deltas)
            # r4: the deltas themselves go through the cheaper of the
            # zebra int_array or PFoR — PFoR's single-width unpack
            # decodes ~2x faster than the per-chunk-width zebra walk
            # AND is usually smaller on outlier-bearing diffs
            # (wire: i64 first | u8 inner_codec | inner payload)
            inner = IntCodec.ZEBRA
            dsize = dplan.size
            dthunk = lambda dplan=dplan: pack_from_plan(dplan)
            # the inner PFoR matters only if it can make DELTA win
            dp = _pfor_build(deltas, dplan, min(dsize, bar(IntCodec.DELTA) - 9))
            if dp is not None:
                inner, (dsize, dthunk) = IntCodec.PFOR, dp
            candidates[IntCodec.DELTA] = (
                9 + dsize,
                lambda inner=inner, dthunk=dthunk: (
                    np.int64(values[0]).astype("<i8").tobytes()
                    + bytes([inner])
                    + dthunk()
                ),
            )

    # decode-cost-aware SELECTION (payload sizes stay actual): under
    # balanced/speed DELTA must be >5% and ZSTD_BT >15% smaller to win.
    # The <=zebra bound is untouched: zebra's handicap is 1.0, so any
    # winner satisfies size * handicap < zsize => size < zsize.
    codec = min(
        candidates,
        key=lambda c: (candidates[c][0] * handicap.get(c, 1.0), c),
    )
    size, thunk = candidates[codec]
    meta = {
        "codec": IntCodec.NAMES[codec],
        "n": n,
        "bytes": size,
        "zebra_bytes": zsize,
        "n_runs": n_runs,
    }
    meta.update(stats)
    return codec, thunk(), meta


# ZSTD_BT decode costs ~1.5x the PFoR path (zstd frame inflate ~280 M
# tok/s + plane recombination), so under balanced it must be >15% smaller
# to be selected; zipfian token streams clear it by 40%+
_ZSTD_BT_HANDICAP = 1.15
_ZSTD_BT_SAMPLE = 1 << 16  # values per sampled-gate probe


def _zstd_bt_narrow(values: np.ndarray, vmin: int, vmax: int):
    """(width, narrowed-unsigned-array) for the FoR byte planes.

    The subtract wraps in int64 and is reinterpreted as uint64 — exact for
    any (vmin, vmax) range up to the full 2^64 span (same modular argument
    as mid64: the true delta is < 2^64, and decode re-adds vmin with the
    same wrapping arithmetic)."""
    rng = vmax - vmin  # exact python ints, no overflow
    width = 1 if rng < (1 << 8) else 2 if rng < (1 << 16) else 4 if rng < (1 << 32) else 8
    if values.dtype != _I64:
        # narrow native input (r7): the range is bounded below 2^32 by the
        # dtype, so the modular FoR subtract can run AT THE TARGET WIDTH
        # in one fused pass — subtraction mod 2^w of (values mod 2^w,
        # vmin mod 2^w) equals the int64 delta's low w bytes (the modular
        # argument above), and the true delta < 2^(8*width) by
        # construction, so the narrow image is exact.
        sdt = {1: np.int8, 2: np.int16, 4: np.int32}[width]
        udt = {1: np.uint8, 2: np.uint16, 4: np.uint32}[width]
        with np.errstate(over="ignore"):
            narrow = np.subtract(
                values,
                np.int64(vmin).astype(sdt),
                dtype=sdt,
                casting="unsafe",
            ).view(udt)
        return width, narrow
    with np.errstate(over="ignore"):
        d = np.subtract(values, vmin, dtype=_I64).view(np.uint64)
    if width == 8:
        narrow = d
    else:
        narrow = d.astype({1: np.uint8, 2: np.uint16, 4: np.uint32}[width])
    return width, narrow


def _zstd_bt_planes(narrow: np.ndarray, width: int) -> np.ndarray:
    """Byte-transpose: plane p holds byte p of every value's little-endian
    image (normative wire, endian-independent).  Returns a contiguous
    uint8-viewable array — the compressor reads its buffer directly, so
    there is no ``tobytes`` copy on the hot encode path."""
    if width == 1:
        return narrow
    # one narrowing copy per plane into one buffer: contiguous writes,
    # where a transposing copy wrote every byte at a stride (4.08 M
    # width-2 values: 10.7 -> 3.4 ms, min of 15)
    planes = np.empty((width, len(narrow)), np.uint8)
    for p in range(width):
        np.right_shift(narrow, narrow.dtype.type(8 * p), out=planes[p], casting="unsafe")
    return planes.reshape(-1)


def _zstd_bt_build(values: np.ndarray, zplan, bar: float):
    """FoR + byte-transpose + zstd level-1 candidate (wire id 9).

    The win comes from zstd's FSE entropy stage: zipf-distributed token
    ids carry ~9 bits of entropy but cost PFoR/BP64 the full chunk width
    (measured on the F1 token column: 16.00 -> 9.38 bits/token, compress
    127 M tok/s, inflate 283 M tok/s).  Level 1 is both the fastest AND
    the smallest here — higher levels spend time finding matches that the
    transposed planes don't have.  Byte-aligned transforms only; the
    compressed size IS the costing, so a sampled probe skips the full
    compress when the projection can't get under ``bar``.  Returns
    ``(size, thunk)``, or None when the candidate cannot beat ``bar``."""
    import pyarrow as pa

    n = len(values)
    width, narrow = _zstd_bt_narrow(values, int(zplan.vmin), int(zplan.vmax))
    codec = pa.Codec("zstd", compression_level=1)
    if n >= _GATE_MIN:
        # STRATIFIED sample (r6, ADVICE): the old prefix sample misjudged
        # sorted/clustered columns whose head is unrepresentative — take
        # 16 evenly-spaced slices across the column instead, the same
        # shape _sampled_plan_bytes uses: 4k slices on long columns, a
        # quarter of a shorter one.  A short sample holds fewer long-range
        # repeats, so its projection runs high (up to 6x on sf0.1 columns,
        # never more than 6% low); on short columns it only skips when 25%
        # above the bar.  Selector efficiency only; the <=zebra bound is
        # unaffected (zebra is always planned exactly).
        long = n > 2 * _ZSTD_BT_SAMPLE
        slice_len = _GATE_SLICE if long else (n // (4 * _GATE_SLICES)) & ~63
        sub = _gate_sample(narrow, slice_len)
        m = len(sub)
        sample = _zstd_bt_planes(sub, width)
        projected = len(codec.compress(sample, asbytes=True)) / (m * width)
        if (1.0 if long else 0.8) * (projected * n * width + 13) >= bar:
            return None
    comp = codec.compress(_zstd_bt_planes(narrow, width), asbytes=True)
    size = 13 + len(comp)
    if size >= bar:
        return None

    vmin = int(zplan.vmin)

    def thunk(width=width, vmin=vmin, comp=comp):
        return (
            bytes([width])
            + np.int64(vmin).astype("<i8").tobytes()
            + np.uint32(len(comp)).astype("<u4").tobytes()
            + comp
        )

    return size, thunk


_GATE_SLICES = 16
_GATE_SLICE = 1 << 12  # 4k values per slice, 64-aligned
_GATE_FULL = _GATE_SLICES * _GATE_SLICE * 2  # below this, just plan exactly
_GATE_MIN = 1 << 13  # below this, DELTA plans and ZSTD_BT compresses unprobed


def _gate_sample(values: np.ndarray, slice_len: int, diff: bool = False) -> np.ndarray:
    """16 evenly-spaced 64-aligned slices of ``slice_len`` values (with
    ``diff=True``, of the adjacent differences), concatenated."""
    n = len(values) - diff
    step = max(1, (n - slice_len) // (_GATE_SLICES - 1))
    starts = (np.arange(_GATE_SLICES) * step) & ~63
    rows = values[starts[:, None] + np.arange(slice_len + diff)]
    if diff:
        return np.subtract(rows[:, 1:], rows[:, :-1], dtype=_I64).ravel()
    return rows.ravel()


def _sampled_plan_bytes(values: np.ndarray, diff: bool = False) -> float:
    """Estimated packed bytes/value from 16 evenly-spaced 64-aligned
    slices (of ``values``, or with ``diff=True`` of its n-1 adjacent
    differences, taken per slice without the full subtract).  Optimistic
    on purpose (estimates can only SKIP a candidate when clearly
    unpromising): mixed-source columns have long cheap
    stretches that few slices would miss (measured: head/mid/tail slices
    over-estimated a sorted-heavy token column by 7%), so the slices are
    stratified across the column and a 0.93 slack absorbs the residual
    sampling error.  Skipping never breaks the <=zebra bound — the zebra
    candidate is always present.
    """
    n = len(values) - diff
    if n > _GATE_FULL:
        slice_len = _GATE_SLICE
    elif diff and n >= _GATE_MIN:
        # DELTA's diffs of a shorter column: slices covering a quarter
        slice_len = (n // (4 * _GATE_SLICES)) & ~63
    else:
        return 0.0  # small: always plan exactly
    sl = _gate_sample(values, slice_len, diff)
    return 0.93 * plan_int_array(sl).size / len(sl)


def _alp_build(values_i64: np.ndarray):
    """ALP decimal candidate for float64 columns: ``(size, thunk)`` or None.

    Decimal-valued doubles (prices, rates, quantities) have near-random
    mantissa bits, so bit-cast int packing gets almost nothing; writing
    them as ``round(v * 10^e)`` scaled ints (ALP — Afroozeh & Boncz,
    VLDB 2023) turns them into small integers the int-codec menu crushes.
    Payload: ``u8 e | int_array(scaled)``.

    Exactness is verified at encode per column: the candidate is offered
    ONLY if ``(round(v*10^e) / 10^e)`` reproduces every input bit
    (which also rejects NaN/inf/-0.0 and anything needing > 2^53).  The
    decode side performs that same IEEE-exact division, so the roundtrip
    law is structural, not probabilistic.
    """
    f = values_i64.view(np.float64)
    n = len(f)
    # cheap sample probe for a plausible exponent before full passes
    sample = f[: min(n, 256)]
    if not np.isfinite(sample).all():
        return None
    e_found = None
    for e in range(0, 16):
        scale = np.float64(10.0**e)
        r = np.round(sample * scale)
        if not (np.abs(r) < 2**53).all():
            return None
        # verify the EXACT decode expression (int64 -> float64 -> divide):
        # checking r/scale alone would wrongly accept -0.0, whose round
        # keeps the sign bit but whose int64 form decodes to +0.0
        back = r.astype(_I64).astype(np.float64) / scale
        if (back.view(_I64) == values_i64[: len(sample)]).all():
            e_found = e
            break
    if e_found is None:
        return None
    for e in range(e_found, 16):  # sample's e may be too small for the rest
        scale = np.float64(10.0**e)
        with np.errstate(invalid="ignore", over="ignore"):
            r = np.round(f * scale)
            ok = np.isfinite(f).all() and (np.abs(r) < 2**53).all()
            if not ok:
                return None
            ints = r.astype(_I64)
            back = ints.astype(np.float64) / scale
            if (back.view(_I64) == values_i64).all():
                plan = plan_int_array(ints)
                return 1 + plan.size, (
                    lambda e=e, plan=plan: bytes([e]) + pack_from_plan(plan)
                )
    return None


def _alp_rd_build(values_i64: np.ndarray, best_so_far: float):
    """ALP-RD candidate for full-mantissa floats — the "real doubles"
    second half of ALP (Afroozeh & Boncz, VLDB 2023): cut each value's
    bits at position ``r`` — the LEFT part (sign + exponent + top mantissa
    bits) repeats across a column and dictionary-codes to a handful of
    uniques, while the RIGHT part (low mantissa, near-random) packs
    verbatim at one fixed width.  Returns ``(exact_size, thunk)`` or None.

    Two deliberate departures from the paper's SIMD-bound shape, both
    size-or-speed wins under numpy execution: the dictionary holds ALL
    unique left parts (a gather is cheap at any dict size, so no 3-bit cap
    and no exception list), and the codes ride the int_array codec (their
    per-chunk widths usually land at ceil(log2(card)) anyway).  A shared
    trailing-zero shift ``tz`` also rides the wire: float64 columns whose
    values happen to be float32-representable carry 29 always-zero low
    mantissa bits, and shifting them out first makes the right part dense.
    The transform is pure bit arithmetic, so the roundtrip is exact by
    construction for ANY input pattern (floats, NaN payloads, infs).

    Wire: ``u8 r | u8 tz | u32 n_dict | right BP64 groups (n_groups*8*r B)
    | dict int_array | codes int_array``.

    Cut choice: one sort of a 4k sample gives the whole cardinality curve
    — card(r) = 1 + |{i : bit_length(sorted-neighbour xor) > r}| — from
    which estimated costs rank every cut; the best two are then costed
    EXACTLY (full unique + plans), keeping the candidate's reported size
    actual like every other selector entry.
    """
    n = len(values_i64)
    u = values_i64.view(np.uint64)
    orv = np.bitwise_or.reduce(u)
    if orv == 0:
        return None  # all-zero column: CONSTANT wins at 8 bytes
    tz = int(orv & (~orv + np.uint64(1))).bit_length() - 1
    us = u >> np.uint64(tz)
    top = 64 - tz  # significant width after the shared shift
    n_groups = -(-n // 64)

    def cost_exact(r: int):
        shift = np.uint64(r)
        uniq, inverse = np.unique(us >> shift, return_inverse=True)
        pd_ = plan_int_array(uniq.view(_I64))
        pc_ = plan_int_array(inverse.astype(_I64))
        return 6 + n_groups * 8 * r + pd_.size + pc_.size, r, pd_, pc_

    sample = np.sort(us[:: max(1, n // 4096)][:4096])
    diff = sample[1:] ^ sample[:-1]
    bl = bit_length64(diff)
    hist = np.bincount(bl, minlength=66)
    gt = np.cumsum(hist[::-1])[::-1]  # gt[b] = count(bl >= b)
    scale = max(1.0, n / len(sample)) ** 0.5  # sample card underestimates
    rs = np.arange(top, dtype=np.int64)
    card = 1 + np.minimum(gt[rs + 1] * scale, n).astype(np.int64)
    code_bits = np.ceil(np.log2(np.maximum(card, 2))).astype(np.int64)
    est = (
        n_groups * 8 * rs  # right block
        + card * np.maximum(top - rs, 8) // 8  # dict entries
        + n * code_bits // 8  # codes
        + 30
    )
    # the card curve is only trustworthy where the sample dict is SMALL —
    # a near-saturated sample (card ~ sample size) extrapolates to
    # anywhere between card and n, and underestimating it once picked a
    # 10 B/value cut over a 7.1 B/value one.  Cuts whose sample dict
    # exceeds sample/8 are out; a left part that big can't win anyway
    # (codes alone would cost >= 9 bits/value on top of the right block).
    feasible = gt[rs + 1] <= max(8, len(sample) // 8)
    if not feasible.any():
        return None
    est[~feasible] = np.iinfo(np.int64).max
    if est.min() >= best_so_far:
        return None  # cannot plausibly win — skip the exact passes
    best = None
    for r in (int(x) for x in np.argsort(est, kind="stable")[:2]):
        res = cost_exact(r)
        if best is None or res[0] < best[0]:
            best = res
    size, r, pd_, pc_ = best
    if size >= best_so_far:
        return None

    def thunk(r=r, pd_=pd_, pc_=pc_):
        if r:
            right = us & np.uint64((1 << r) - 1)
            pad = n_groups * 64 - n
            if pad:
                right = np.concatenate([right, np.zeros(pad, dtype=np.uint64)])
            parts = (
                _bp64_pack_group(right.reshape(n_groups, 64), r)
                .astype("<u8", copy=False)
                .tobytes()
            )
        else:
            parts = b""
        return b"".join(
            [
                bytes([r, tz]),
                np.uint32(pd_.n).astype("<u4").tobytes(),
                parts,
                pack_from_plan(pd_),
                pack_from_plan(pc_),
            ]
        )

    return size, thunk


def _pfor_build(values: np.ndarray, zplan, bar: float):
    """Patched frame-of-reference candidate: ``(exact_size, thunk)``, or
    None when it cannot beat ``bar``.

    zebra's codec adapts bit width PER 64-VALUE CHUNK, so a zipf-ish token
    stream where nearly every chunk contains one rare large token pays the
    outlier's width for all 64 values.  PFoR (Lemire & Boytsov 2012, the
    paper zebra's README cites for its own codec) packs the whole column at
    one small base width and stores the few oversized values as patches:
    ``u8 b | i64 vmin | u32 n_exc | base bits | [positions] | [values]``.

    Base-width choice (r5): a SAMPLED width histogram ranks the cuts (the
    full per-value bit_length64 + bincount cost ~11 ns/value — more than
    the whole rest of planning), then the best few are costed EXACTLY —
    one comparison pass each for the true exception set — so the reported
    size stays actual and the selector's <=-zebra bound is untouched.
    When no ranked cut's estimate comes near ``bar``, the candidate is
    dropped before the full ``values - vmin`` pass.
    """
    n = len(values)
    n_groups = -(-n // 64)

    def offsets(v):
        # explicit dtype: values may be a narrow native int (r7); the
        # subtract must run (and wrap) in int64
        with np.errstate(over="ignore"):
            return np.subtract(v, zplan.vmin, dtype=_I64).view(np.uint64)

    step = max(1, n // 8192)
    su = offsets(values[::step][:8192])
    scale = n / len(su)
    widths_s = bit_length64(su)
    hist = np.bincount(widths_s, minlength=65).astype(np.float64) * scale
    n_exc_at = n - np.cumsum(hist)  # ~count(width > b), estimated
    bs = np.arange(65, dtype=np.int64)
    # RANKING estimate: base bits exact; exceptions ~2 B/packed
    # position + their own total width in bits (suffix sum of
    # hist[w]*w) — packed values can't beat their own widths
    t = hist * np.arange(65, dtype=np.float64)
    incl = np.cumsum(t[::-1])[::-1]  # incl[b] = sum_{w >= b} hist[w]*w
    exc_bits_at = np.concatenate([incl[1:], [0.0]])  # sum_{w > b}
    est = n_groups * 8.0 * bs + n_exc_at * 2 + exc_bits_at / 8
    # sampled feasibility needs slack for binomial noise: with k
    # exception elements in the sample, std(k) <= sqrt(k), so keep
    # cuts within 3 sigma of the n/8 bar in the ranking — cost_exact
    # settles them with the true exception count
    k = n_exc_at / scale
    feasible = n_exc_at <= n / 8 + 3.0 * scale * np.sqrt(np.maximum(k, 1.0))
    if not feasible.any():
        return None
    est[~feasible] = np.inf
    # same 0.93 sampling slack as _sampled_plan_bytes
    if 0.93 * est.min() >= bar:
        return None
    u = offsets(values)

    def cost_exact(b: int):
        """(size, b, n_exc, positions, ppos, pval) or None (infeasible)."""
        # exact exception set: width > b  <=>  u > 2^b - 1, one compare
        if b >= 64:
            mask, n_exc = None, 0
        else:
            mask = u > np.uint64((1 << b) - 1)
            n_exc = int(np.count_nonzero(mask))
        if n_exc > n // 8:
            return None
        positions = np.flatnonzero(mask) if n_exc else np.empty(0, _I64)
        exc_vals = values[positions] if n_exc else None
        ppos = plan_int_array(positions.astype(_I64)) if n_exc else None
        pval = plan_int_array(exc_vals) if n_exc else None
        size = 1 + 8 + 4 + n_groups * 8 * b
        if n_exc:
            size += ppos.size + pval.size
        return (size, b, n_exc, positions, ppos, pval)

    best = None
    costed = examined = 0
    for b in (int(x) for x in np.argsort(est, kind="stable")):
        # each examination pays a full compare pass — cap BOTH the
        # number of fully-costed cuts and total examinations (a flat
        # est curve around the optimum otherwise walks many near-tied
        # cuts)
        if (
            costed == 3
            or examined == 6
            or est[b] == np.inf
            or (best and est[b] >= best[0])
        ):
            break
        examined += 1
        res = cost_exact(b)
        if res is None:
            continue  # sample under-counted: truly infeasible cut
        costed += 1
        if best is None or res[0] < best[0]:
            best = res
    if best is None or best[0] >= bar:
        return None
    size, b, n_exc, positions, ppos, pval = best

    def thunk():
        # the thunk runs at most once (only for the selected winner) and
        # u is local to this plan — zero the exception slots in place
        # instead of copying the full 8n-byte delta array
        base = u
        if n_exc:
            base[positions] = 0
        pad = n_groups * 64 - n
        if pad:
            base = np.concatenate([base, np.zeros(pad, dtype=np.uint64)])
        parts = (
            _bp64_pack_group(base.reshape(n_groups, 64), b)
            .astype("<u8", copy=False)
            .tobytes()
            if b
            else b""
        )
        out = [
            bytes([b]),
            np.int64(zplan.vmin).astype("<i8").tobytes(),
            np.uint32(n_exc).astype("<u4").tobytes(),
            parts,
        ]
        if n_exc:
            out.append(pack_from_plan(ppos))
            out.append(pack_from_plan(pval))
        return b"".join(out)

    return size, thunk


def _column_stats(values: np.ndarray, zplan):
    """Entropy/cardinality stats from a 4,096-value stride sample:
    ``(meta stats, the sample's distinct values, how often each occurs)``.
    The stats are the lineage metrics (north rule: 'entropy/cardinality-
    driven' selection must emit the driving statistics per partition);
    all three feed the DICT gates.
    ``cardinality_est`` is the Chao1 estimate ``d + f1^2 / 2 f2`` (f1, f2:
    values seen once, twice; bias-corrected ``d + f1 (f1-1) / 2`` when f2
    is 0), exact when the sample is the whole column."""
    n = len(values)
    if n == 0:
        return {"entropy_bits": 0.0, "cardinality_est": 0}, values, values
    sample = values[:: max(1, n // 4096)][:4096]
    uniq, counts = np.unique(sample, return_counts=True)
    d = len(counts)
    p = counts / counts.sum()
    entropy = float(-(p * np.log2(p)).sum())
    card_est = d
    if len(sample) < n:
        f1 = int(np.count_nonzero(counts == 1))
        f2 = int(np.count_nonzero(counts == 2))
        extra = f1 * f1 / (2 * f2) if f2 else f1 * (f1 - 1) / 2
        card_est = min(n, d + int(extra))
    return {
        "entropy_bits": round(entropy, 3),
        "cardinality_est": card_est,
        "min": zplan.vmin,
        "max": zplan.vmax,
        "mean_chunk_bits": round(float(zplan.nbits.mean()), 2)
        if len(zplan.nbits)
        else None,
    }, uniq, counts


def _dict_bytes(uniq: np.ndarray, counts: np.ndarray, card: int, n: int, zplan) -> float:
    """Estimated DICT payload bytes from the sample's ``d`` distinct values
    and their counts (:func:`_column_stats`).  A chunk packs at the widest
    zigzag width of its 64 values around zebra's frame of reference (the
    middle value).  Index column: a sampled value's index is about its
    rank among the ``d`` times ``card / d``, and a chunk's width is the
    expected maximum of 64 draws from the sample's index widths.  The
    ``card`` sorted dictionary entries: the distinct sampled values stand
    in (at most 256 of them), at their mean width (sorted neighbours share
    widths)."""
    # width-estimate gate: dict indices bit-pack at >= ceil(log2(card)) in
    # spread-out chunks, so when the direct encoding's mean chunk width is
    # already at or below the index width (+1 slack for clustered chunks),
    # a dictionary cannot pay for itself
    if card > 8 and (card - 1).bit_length() + 1 >= float(zplan.nbits.mean()):
        return np.inf
    d = len(uniq)
    off = np.arange(d, dtype=_I64) * card // d - ((card - 1) >> 1)
    p = np.bincount(bit_length64(zigzag64(off)), weights=counts, minlength=65)
    cdf = np.cumsum(p[:64]) / counts.sum()
    index_bits = float((1.0 - cdf**64).sum())  # E[max] = sum P(max >= w)
    ent = np.subtract(uniq[:: -(-d // 256)], mid64(zplan.vmin, zplan.vmax), dtype=_I64)
    entry_bits = float(bit_length64(zigzag64(ent)).mean())
    # + u32 n_dict and the two int_array headers
    return 4 + 2 * INT_HEADER_BYTES + (n * index_bits + card * entry_bits) / 8


def _dict_split(values: np.ndarray, zplan, card_est: int, sample_distinct: int):
    """(uniques, int64 indices) when dictionary coding is worth costing.

    Uses O(n) bincount when the value range is small; falls back to a
    sample-gated np.unique sort otherwise.  Returns None when a dictionary
    cannot beat the direct encoding (cardinality too high).  ``card_est``
    and ``sample_distinct`` come from :func:`_column_stats`.
    """
    n = len(values)
    value_range = zplan.vmax - zplan.vmin
    if 0 <= value_range <= (1 << 21):
        shifted = np.subtract(values, zplan.vmin, dtype=np.int64)
        counts = np.bincount(shifted, minlength=value_range + 1)
        nz = np.nonzero(counts)[0]
        if len(nz) > n // 2:
            return None
        # r5: re-apply the width gate with the EXACT cardinality before the
        # expensive inverse gather — the sampled card underestimates heavy
        # tails (zipf token sample said 12 index bits, true card needed 17),
        # and the gather it green-lit cost more than the rest of planning
        if len(zplan.nbits) and len(nz) > 8 and (
            (len(nz) - 1).bit_length() + 1 >= float(zplan.nbits.mean())
        ):
            return None
        lookup = np.empty(value_range + 1, dtype=_I64)
        lookup[nz] = np.arange(len(nz))
        return (nz + zplan.vmin).astype(_I64), lookup[shifted]
    if sample_distinct > min(n, 4096) // 2:
        return None
    uniq, inverse = np.unique(values, return_inverse=True)
    if len(uniq) > n // 2:
        return None
    return uniq, inverse.astype(_I64)


def _delta_inner(mv, pos: int) -> int:
    """DELTA's inner codec byte.  The encoder writes only ZEBRA or PFOR;
    anything else (a nested DELTA would recurse without bound) is corrupt."""
    inner = mv[pos + 8]
    if inner not in (IntCodec.ZEBRA, IntCodec.PFOR):
        raise ValueError(f"DELTA inner codec {inner} is not zebra or pfor")
    return inner


def skip_ints(codec: int, buf, n: int, pos: int = 0) -> int:
    """Advance past an int-codec payload without decoding it.

    Enables projection pushdown inside a block: unread columns cost only
    header parsing, no bit-unpacking / decompression.
    """
    mv = memoryview(buf)

    def int_array_end(p):
        size = int(np.frombuffer(mv[p : p + 4], dtype="<u4")[0])
        return p + 12 + size

    if codec == IntCodec.ZEBRA:
        return int_array_end(pos)
    if codec == IntCodec.CONSTANT:
        return pos + 8
    if codec == IntCodec.RLE:
        p = int_array_end(pos + 4)
        return int_array_end(p)
    if codec == IntCodec.DICT:
        p = int_array_end(pos + 4)
        return int_array_end(p)
    if codec == IntCodec.DELTA_V0:
        return int_array_end(pos + 8)
    if codec == IntCodec.DELTA:
        # i64 first | u8 inner_codec | inner payload (n-1 deltas)
        return skip_ints(_delta_inner(mv, pos), mv, n - 1, pos + 9)
    if codec == IntCodec.PFOR:
        b = mv[pos]
        n_exc = int(np.frombuffer(mv[pos + 9 : pos + 13], dtype="<u4")[0])
        p = pos + 13 + (-(-n // 64)) * 8 * b
        if n_exc:
            p = int_array_end(int_array_end(p))
        return p
    if codec == IntCodec.ALP:
        return int_array_end(pos + 1)
    if codec == IntCodec.ALP_RD:
        r = mv[pos]
        p = pos + 6 + (-(-n // 64)) * 8 * r
        return int_array_end(int_array_end(p))
    if codec == IntCodec.ZSTD_BT:
        comp_len = int(np.frombuffer(mv[pos + 9 : pos + 13], dtype="<u4")[0])
        return pos + 13 + comp_len
    raise ValueError(f"unknown int codec {codec}")


def skip_strings(codec: int, buf, n: int, pos: int = 0) -> int:
    """Advance past a string-codec payload without decoding it."""
    mv = memoryview(buf)

    def int_array_end(p):
        size = int(np.frombuffer(mv[p : p + 4], dtype="<u4")[0])
        return p + 12 + size

    def byte_array_end(p):
        n_comp = int(np.frombuffer(mv[p : p + 4], dtype="<u4")[0])
        return p + 4 + n_comp

    def sized_byte_array_end(p):
        return byte_array_end(p + 4)

    if codec == StrCodec.ZEBRA:
        return sized_byte_array_end(int_array_end(pos))
    if codec == StrCodec.DICT:
        p = int_array_end(pos + 4)
        p = sized_byte_array_end(p)
        icodec = mv[p]
        return skip_ints(icodec, mv, n, p + 1)
    if codec == StrCodec.FSST:
        lp_len = int(np.frombuffer(mv[pos + 1 : pos + 5], dtype="<u4")[0])
        p = pos + 5 + lp_len
        enc_len = int(np.frombuffer(mv[p + 4 : p + 8], dtype="<u4")[0])
        n_codes = mv[p + 8]
        q = p + 9
        for _ in range(n_codes):
            q += 1 + mv[q]
        return q + enc_len
    if codec in (StrCodec.ZLIB, StrCodec.ZSTD):
        lp_len = int(np.frombuffer(mv[pos + 1 : pos + 5], dtype="<u4")[0])
        p = pos + 5 + lp_len
        comp_len = int(np.frombuffer(mv[p : p + 4], dtype="<u4")[0])
        return p + 4 + comp_len
    if codec == StrCodec.FSST_Z:
        lp_len = int(np.frombuffer(mv[pos + 1 : pos + 5], dtype="<u4")[0])
        p = pos + 5 + lp_len
        comp_len = int(np.frombuffer(mv[p + 4 : p + 8], dtype="<u4")[0])
        return p + 8 + comp_len
    raise ValueError(f"unknown string codec {codec}")


def decode_ints(codec: int, buf, n: int, pos: int = 0, dtype=_I64):
    """Inverse of :func:`encode_ints`. Returns ``(values, next_pos)``.

    ``values`` is one array of ``dtype``, any numpy integer dtype
    (default int64): the low bits of the int64 values the payload
    encodes, i.e. the int64 result's ``astype(dtype)``.  A block decodes
    each column at its schema's own width (int32 tokens, int8 validity),
    so no full-length int64 copy is built.  Every kernel writes straight
    into that output a bounded run of values at a time (``CHUNK_GROUPS``
    64-value groups), adding frame offsets and prefix sums modulo the
    output's width, which equals the int64 arithmetic's low bits.
    Declared counts and widths are checked against the row count and
    the payload before anything is allocated from them; a payload that
    fails a check raises ``ValueError`` naming the field."""
    out = np.empty(n, dtype=dtype)
    return out, _decode_into(codec, memoryview(buf).cast("B"), pos, out)


_CHUNK = CHUNK_GROUPS * 64


def _u32(mv, pos: int) -> int:
    return int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])


def _i64(mv, pos: int) -> int:
    return int(np.frombuffer(mv[pos : pos + 8], dtype="<i8")[0])


def _low_bits(v: int, dtype: np.dtype):
    """``v``'s low bits as a scalar of integer ``dtype``."""
    return _I64(v).astype(dtype)


def _add_base(dst: np.ndarray, u: np.ndarray, base: int) -> None:
    """``dst = u + base`` modulo ``dst``'s width: ``u`` unsigned of any
    width, summed at the wider of the two widths and truncated."""
    if base == 0:  # a widening copy is cheaper than an add
        np.copyto(dst.view(f"u{dst.itemsize}"), u, casting="unsafe")
        return
    cdt = np.dtype(f"u{max(u.itemsize, dst.itemsize)}")
    np.add(
        u,
        cdt.type(base % (1 << (8 * cdt.itemsize))),
        out=dst.view(f"u{dst.itemsize}"),
        dtype=cdt,
        casting="unsafe",
    )


def _count(mv, pos: int, name: str, limit: int) -> int:
    """The u32 count ``name`` at ``pos``, checked against ``limit``."""
    v = _u32(mv, pos)
    if v > limit:
        raise ValueError(f"{name} {v} exceeds {limit}")
    return v


def _packed_words(mv, pos: int, n: int, b: int, name: str) -> np.ndarray:
    """The ``ceil(n / 64) * b`` little-endian words of a fixed-width BP64
    run at ``pos``, checked to lie inside the payload (a zero-copy view)."""
    if b > 64:
        raise ValueError(f"{name} {b} exceeds 64")
    count = -(-n // 64) * b
    if pos + count * 8 > len(mv):
        raise ValueError(
            f"{name} {b}: {count * 8} packed bytes at {pos} run past the "
            f"{len(mv)}-byte payload"
        )
    return np.frombuffer(mv, dtype="<u8", count=count, offset=pos)


def _unpacked(words: np.ndarray, b: int, lo: int, hi: int) -> np.ndarray:
    """Values ``lo:hi`` (``lo`` a multiple of 64) of a width-``b`` BP64
    run: uint64, or the narrow unsigned dtype at byte-aligned widths."""
    g0, g1 = lo // 64, -(-hi // 64)
    w = words[g0 * b : g1 * b].astype(np.uint64)  # aligned chunk copy
    return _bp64_unpack_group(w.reshape(g1 - g0, b), b).reshape(-1)[: hi - lo]


def _rle_into(mv, pos: int, out: np.ndarray) -> int:
    """RLE (``u32 n_runs | run values | run lengths``) into ``out``, the
    runs expanded one chunk of rows at a time."""
    n = len(out)
    n_runs = _count(mv, pos, "RLE n_runs", n)
    rv, p = unpack_int_array(mv, n_runs, pos + 4, out.dtype)
    # lengths at a width that holds the row count: checked to lie in
    # [0, n] and sum to n, their prefix sums cannot wrap
    rl, p = unpack_int_array(mv, n_runs, p, np.int32 if n < 1 << 31 else _I64)
    in_range = n_runs == 0 or (int(rl.min()) >= 0 and int(rl.max()) <= n)
    if not in_range or int(rl.sum()) != n:
        raise ValueError("RLE run lengths do not sum to row count")
    ends = np.cumsum(rl, out=rl)
    for lo in range(0, n, _CHUNK):
        hi = min(lo + _CHUNK, n)
        # the runs covering [lo, hi), cut to it
        r0 = int(np.searchsorted(ends, lo, side="right"))
        r1 = int(np.searchsorted(ends, hi, side="left")) + 1
        lens = np.diff(np.minimum(ends[r0:r1], hi), prepend=lo)
        out[lo:hi] = np.repeat(rv[r0:r1], lens)
    return p


def _decode_into(codec: int, mv, pos: int, out: np.ndarray) -> int:
    """Decode ``len(out)`` values at ``pos`` into ``out``; returns the
    next position (see :func:`decode_ints`)."""
    n = len(out)
    if codec == IntCodec.ZEBRA:
        return unpack_into(mv, pos, out)
    if codec == IntCodec.CONSTANT:
        out.fill(_low_bits(_i64(mv, pos), out.dtype))
        return pos + 8
    if codec == IntCodec.RLE:
        return _rle_into(mv, pos, out)
    if codec == IntCodec.DICT:
        n_dict = _count(mv, pos, "DICT n_dict", n)
        uniq, p = unpack_int_array(mv, n_dict, pos + 4, out.dtype)
        p, chunks = _int_array_chunks(mv, n, p)
        for lo, hi, idx in chunks:
            np.take(uniq, idx, out=out[lo:hi])
        return p
    if codec in (IntCodec.DELTA, IntCodec.DELTA_V0):
        # values = prefix sums of [first, deltas...], wrapping at out's
        # width exactly as the int64 sums wrap in their low bits
        if n == 0:
            raise ValueError("DELTA section for zero rows")
        out[0] = _low_bits(_i64(mv, pos), out.dtype)
        if codec == IntCodec.DELTA_V0:  # legacy wire: one zebra int_array
            p = unpack_into(mv, pos + 8, out[1:])
        else:
            p = _decode_into(_delta_inner(mv, pos), mv, pos + 9, out[1:])
        np.cumsum(out, dtype=out.dtype, out=out)
        return p
    if codec == IntCodec.PFOR:
        vmin = _i64(mv, pos + 1)
        n_exc = _count(mv, pos + 9, "PFoR n_exc", n)
        b = mv[pos]
        words = _packed_words(mv, pos + 13, n, b, "PFoR b")
        if b == 0:
            out.fill(_low_bits(vmin, out.dtype))
        else:
            for lo in range(0, n, _CHUNK):
                hi = min(lo + _CHUNK, n)
                _add_base(out[lo:hi], _unpacked(words, b, lo, hi), vmin)
        p = pos + 13 + words.nbytes
        if n_exc:
            positions, p = unpack_int_array(mv, n_exc, p)
            exc_vals, p = unpack_int_array(mv, n_exc, p, out.dtype)
            if int(positions.min()) < 0 or int(positions.max()) >= n:
                raise ValueError("PFoR exception position outside the rows")
            out[positions] = exc_vals
        return p
    if codec == IntCodec.ALP:
        # same IEEE-exact division the encoder verified bit-for-bit
        scale = np.float64(10.0 ** mv[pos])
        p, chunks = _int_array_chunks(mv, n, pos + 1)
        for lo, hi, ints in chunks:
            f = ints.astype(np.float64)
            np.divide(f, scale, out=f)
            np.copyto(out[lo:hi], f.view(_I64), casting="unsafe")
        return p
    if codec == IntCodec.ALP_RD:
        r, tz = int(mv[pos]), int(mv[pos + 1])
        if r + tz > 64:
            raise ValueError(f"ALP-RD r {r} + tz {tz} exceeds 64")
        n_dict = _count(mv, pos + 2, "ALP-RD n_dict", n)
        words = _packed_words(mv, pos + 6, n, r, "ALP-RD r")
        left, p = unpack_int_array(mv, n_dict, pos + 6 + words.nbytes)
        left = left.view(np.uint64)
        p, chunks = _int_array_chunks(mv, n, p)
        for lo, hi, codes in chunks:
            v = (
                _unpacked(words, r, lo, hi).astype(np.uint64)
                if r
                else np.zeros(hi - lo, dtype=np.uint64)
            )
            if tz:
                np.left_shift(v, np.uint64(tz), out=v)
            if r + tz < 64:  # r + tz == 64 <=> zero-width left (all-zero dict)
                v |= np.left_shift(left[codes], np.uint64(r + tz))
            np.copyto(out[lo:hi], v.view(_I64), casting="unsafe")
        return p
    if codec == IntCodec.ZSTD_BT:
        import pyarrow as pa

        width = mv[pos]
        if width not in (1, 2, 4, 8):
            raise ValueError(f"ZSTD_BT width {width} is not 1, 2, 4 or 8")
        vmin = _i64(mv, pos + 1)
        comp_len = _u32(mv, pos + 9)
        end = pos + 13 + comp_len
        if end > len(mv):
            raise ValueError(
                f"ZSTD_BT comp_len {comp_len} runs past the {len(mv)}-byte payload"
            )
        raw = pa.Codec("zstd").decompress(
            mv[pos + 13 : end], decompressed_size=n * width, asbytes=True
        )
        planes = np.frombuffer(raw, dtype=np.uint8).reshape(width, n)
        # each run's FoR offsets are put together from the byte planes
        # (plane p holds byte p of every little-endian value) in a
        # width-sized scratch, then widened into out with vmin added
        u = np.empty(min(n, _CHUNK) if width > 1 else 0, dtype=f"<u{width}")
        for lo in range(0, n, _CHUNK):
            hi = min(lo + _CHUNK, n)
            if width == 1:
                run = planes[0, lo:hi]
            else:
                run = u[: hi - lo]
                bv = run.view(np.uint8).reshape(hi - lo, width)
                for p_ in range(width):
                    bv[:, p_] = planes[p_, lo:hi]
            _add_base(out[lo:hi], run, vmin)
        return end
    raise ValueError(f"unknown int codec {codec}")


# ---------------------------------------------------------------------------
# string codecs  (a "strings" value = lengths int64[n] + concatenated bytes)


def zebra_strings_size(lengths: np.ndarray, concat: bytes) -> int:
    return len(pack_strings(lengths, concat))


# int-codec selection handicaps under the balanced policy: DELTA decode
# needs an extra full cumsum pass over the output (measured ~1.4x zebra /
# ~2x pfor on token streams), so it must win by >5% on size to be chosen;
# ZSTD_BT decode pays the zstd inflate + plane recombination (~1.5x the
# PFoR path), so it must win by >15%
_DECODE_HANDICAP = {
    IntCodec.DELTA: 1.05,
    IntCodec.ZSTD_BT: _ZSTD_BT_HANDICAP,
}

# zstd string candidate (pyarrow codec).  Measured on document text vs
# DEFLATE-6: level 12 is 3% smaller, 1.4x faster to compress and 4.4x
# faster to decompress.
_ZSTD_LEVEL = 12  # balanced, and the entropy stage of fsst-zstd
_ZSTD_LEVEL_SIZE = 19  # size policy: ~19% smaller than DEFLATE-6 on text
# zstd is offered from 16 KB: below it the bytes at stake are few, and
# small low-cardinality columns keep dict's gather decode (a 9 KB column
# of five repeating words would go to zstd by ~20 B)
_ZSTD_MIN = 16 << 10
_GP_MAX_FULL = 32 << 20  # bound the per-block full-compress latency
# fsst-zstd: FSST trains at ~3 MB/s and its numpy decode runs at 32-48
# ns/B (snappy: ~2 ns/B), so it is a size-policy candidate only, costed on
# a 64 KB sample before the whole column pays for it
_FSST_SAMPLE = 64 << 10
_FSST_MAX = 4 << 20


def _zstd_compress(data, level: int) -> bytes:
    import pyarrow as pa

    return pa.Codec("zstd", compression_level=level).compress(data, asbytes=True)


def _gp_decompress(comp, gp_id: int, expected_len: int) -> bytes:
    if gp_id == StrCodec.ZSTD:
        import pyarrow as pa

        return pa.Codec("zstd").decompress(
            comp, decompressed_size=expected_len, asbytes=True
        )
    import zlib

    return zlib.decompress(bytes(comp))


def _fsst_zstd(data: bytes):
    """``(FSST section, its zstd frame)``, or None when FSST declines."""
    fs = _fsst.compress(data)
    return None if fs is None else (fs, _zstd_compress(fs, _ZSTD_LEVEL))


def _lengths_section(lengths: np.ndarray, policy: str | None = None) -> bytes:
    """``u8 codec | u32 size | payload`` of the lengths column: the head of
    the fsst, zlib, zstd and fsst-zstd wires."""
    lcodec, lpayload, _ = encode_ints(lengths, policy=policy)
    return bytes([lcodec]) + np.uint32(len(lpayload)).astype("<u4").tobytes() + lpayload


def encode_strings(
    lengths: np.ndarray,
    concat: bytes,
    allow: set[int] | None = None,
    arrow_array=None,
    policy: str | None = None,
):
    """Select + encode a string column. Returns ``(codec_id, payload, meta)``.

    The result is a function of the values and ``policy`` alone (see
    :func:`resolve_policy`):
    every candidate on the menu is built (or shown unable to win) and the
    exact smallest payload is taken.  zebra-snappy is always on the menu,
    so the payload is never larger than zebra's.  The rest of the menu:

    - dict, for n >= 16 strings that repeat enough (every policy);
    - zstd over the concatenated bytes, for 16 KB up to ``_GP_MAX_FULL``
      (``balanced`` at level 12, ``size`` at level 19);
    - fsst-zstd, for 256 B up to 4 MB (``size`` only), when FSST+zstd of
      the first 64 KB beats the best ratio so far.

    ``allow``: when given, the menu is exactly these ids plus zebra-snappy,
    whatever the policy.  Plain fsst (id 2) and zlib (id 3) are decode-only.

    ``arrow_array``: optional null-free arrow binary array of the same
    strings; when present the DICT candidate uses Arrow's vectorized
    ``dictionary_encode`` instead of a Python split loop.
    """
    policy = resolve_policy(policy)
    lengths = np.ascontiguousarray(lengths, dtype=_I64)
    n = len(lengths)

    def offered(c, policies=POLICIES):
        return c in allow if allow is not None else policy in policies

    zebra_payload = pack_strings(lengths, concat)
    best = (StrCodec.ZEBRA, zebra_payload)

    if offered(StrCodec.DICT) and n >= 16:
        dict_parts = _string_dict_split(lengths, concat, n, arrow_array)
        if dict_parts is not None:
            u_len, u_concat, idx = dict_parts
            icodec, ipayload, _ = encode_ints(idx, policy=policy)
            payload = (
                np.uint32(len(u_len)).astype("<u4").tobytes()
                + pack_strings(u_len, u_concat)
                + bytes([icodec])
                + ipayload
            )
            if len(payload) < len(best[1]):
                best = (StrCodec.DICT, payload)

    # zstd and fsst-zstd share the lengths head; it is encoded only once a
    # compressed body alone beats the best payload so far
    head = b""

    def consider(codec, body):
        nonlocal best, head
        if len(body) < len(best[1]):
            head = head or _lengths_section(lengths, policy)
            if len(head) + len(body) < len(best[1]):
                best = (codec, head + body)

    if (
        offered(StrCodec.ZSTD, ("balanced", "size"))
        and _ZSTD_MIN <= len(concat) <= _GP_MAX_FULL
    ):
        level = _ZSTD_LEVEL_SIZE if policy == "size" else _ZSTD_LEVEL
        comp = _zstd_compress(concat, level)
        consider(StrCodec.ZSTD, np.uint32(len(comp)).astype("<u4").tobytes() + comp)

    if offered(StrCodec.FSST_Z, ("size",)) and 256 <= len(concat) <= _FSST_MAX:
        # FSST's codes are dense byte symbols that zstd's entropy stage
        # still shrinks ~20-25% (document text: fsst 0.177 -> fsst-zstd
        # 0.136-0.140 of raw)
        sample = concat[:_FSST_SAMPLE]
        fz = _fsst_zstd(sample)
        if fz is not None and len(fz[1]) * len(concat) < len(best[1]) * len(sample):
            if len(sample) < len(concat):
                fz = _fsst_zstd(concat)
            if fz is not None:
                fs, comp = fz
                consider(
                    StrCodec.FSST_Z,
                    np.uint32(len(fs)).astype("<u4").tobytes()
                    + np.uint32(len(comp)).astype("<u4").tobytes()
                    + comp,
                )

    codec, payload = best
    meta = {
        "codec": StrCodec.NAMES[codec],
        "n": n,
        "bytes": len(payload),
        "zebra_bytes": len(zebra_payload),
    }
    if len(concat):
        sample = np.frombuffer(concat[: 1 << 16], dtype=np.uint8)
        counts = np.bincount(sample, minlength=256)
        p = counts[counts > 0] / len(sample)
        meta["entropy_bits"] = round(float(-(p * np.log2(p)).sum()), 3)
        meta["cardinality_est"] = None  # string cardinality tracked by DICT gate
    return codec, payload, meta


def _string_dict_split(lengths, concat, n, arrow_array):
    """(uniq_lengths, uniq_concat, indices) for the string DICT candidate,
    or None when cardinality is too high to pay off.

    Vectorized via arrow dictionary_encode when the array is available;
    otherwise a sampled Python fallback (tests / raw-bytes callers)."""
    if arrow_array is not None:
        import pyarrow as pa
        import pyarrow.compute as pc

        denc = pc.dictionary_encode(arrow_array)
        uniq = denc.dictionary
        if len(uniq) > n // 2:
            return None
        u = uniq.cast(pa.large_binary())
        bufs = u.buffers()
        offs = np.frombuffer(bufs[1], dtype=np.int64)[: len(u) + 1]
        data = (
            np.frombuffer(bufs[2], dtype=np.uint8)
            if bufs[2]
            else np.empty(0, np.uint8)
        )
        u_len = np.diff(offs).astype(_I64)
        u_concat = data[offs[0] : offs[-1]].tobytes()
        idx = np_values(denc.indices).astype(_I64)
        return u_len, u_concat, idx
    offs = np.concatenate(([0], np.cumsum(lengths)))
    step = max(1, n // 512)
    sample = {concat[offs[i] : offs[i + 1]] for i in range(0, n, step)}
    if len(sample) > max(1, len(range(0, n, step)) // 2):
        return None
    uniq_map: dict[bytes, int] = {}
    idx = np.empty(n, dtype=_I64)
    for i in range(n):
        s = concat[offs[i] : offs[i + 1]]
        idx[i] = uniq_map.setdefault(s, len(uniq_map))
    if len(uniq_map) > n // 2:
        return None
    uniq_list = list(uniq_map)
    u_len = np.array([len(s) for s in uniq_list], dtype=_I64)
    return u_len, b"".join(uniq_list), idx


def decode_strings(codec: int, buf, n: int, pos: int = 0, dtype=_I64):
    """Inverse of :func:`encode_strings` → ``(lengths, concat, next_pos)``:
    the lengths as ``dtype`` (int64 by default, int32 for a string
    column's 32-bit offsets) and the concatenated bytes as a bytes-like
    object."""
    mv = memoryview(buf).cast("B")
    if codec == StrCodec.ZEBRA:
        return unpack_strings(mv, n, pos, dtype)
    if codec == StrCodec.DICT:
        return _dict_strings(mv, n, pos, dtype)
    if codec not in StrCodec.NAMES:
        raise ValueError(f"unknown string codec {codec}")
    lcodec = mv[pos]
    lp_len = _u32(mv, pos + 1)
    lengths, p = decode_ints(lcodec, mv, n, pos + 5, dtype)
    name = StrCodec.NAMES[codec].upper()
    if p != pos + 5 + lp_len:
        raise ValueError(f"{name} length-section size mismatch")
    expected = int(lengths.sum())
    if codec == StrCodec.FSST:
        concat, p = _fsst.decompress(mv, p)
    elif codec == StrCodec.FSST_Z:
        raw_len, comp_len = _u32(mv, p), _u32(mv, p + 4)
        fs = _gp_decompress(mv[p + 8 : p + 8 + comp_len], StrCodec.ZSTD, raw_len)
        concat, used = _fsst.decompress(memoryview(fs), 0)
        if used != raw_len:
            raise ValueError("FSST_Z inner section size mismatch")
        p += 8 + comp_len
    elif codec in (StrCodec.ZLIB, StrCodec.ZSTD):
        comp_len = _u32(mv, p)
        concat = _gp_decompress(mv[p + 4 : p + 4 + comp_len], codec, expected)
        p += 4 + comp_len
    if expected != len(concat):
        raise ValueError(f"{name} lengths do not sum to byte count")
    return lengths, concat, p


def _dict_strings(mv, n: int, pos: int, dtype):
    """String DICT decode, gathered by row: Arrow's ``take`` copies each
    row's string from the dictionary, so the peak stays near the output
    (a per-byte index would cost 8 bytes a byte)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n_dict = _count(mv, pos, "DICT n_dict", n)
    u_len, u_concat, p = unpack_strings(mv, n_dict, pos + 4, dtype)
    idt = np.int32 if n_dict < 1 << 31 else _I64
    idx, p = decode_ints(mv[p], mv, n, p + 1, idt)
    lengths = u_len[idx]
    u_offsets = np.zeros(n_dict + 1, dtype=_I64)
    np.cumsum(u_len, out=u_offsets[1:])
    uniq = pa.Array.from_buffers(
        pa.large_binary(),
        n_dict,
        [None, pa.py_buffer(u_offsets), pa.py_buffer(u_concat)],
        null_count=0,
    )
    rows = pc.take(uniq, from_numpy(idx, pa.from_numpy_dtype(idt)))
    del idx
    ends = np_offsets(rows)
    data = rows.buffers()[2]
    concat = (
        memoryview(data).cast("B")[ends[0] : ends[-1]] if data is not None else b""
    )
    return lengths, concat, p
