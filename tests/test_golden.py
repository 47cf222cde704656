"""F4 golden-bytes tests: detect any drift in the reference wire layout.

Layout under test (zebra-core/src/Zebra/Serial/Binary/Array.hs:153-161,
zebra-core/csrc/zebra_unpack.c:99-162): u32 size | i64 offset | nbits |
bp64 parts | raw zig-zagged remainder; strings = lengths int_array +
sized_byte_array(snappy).

The hashes/hex below were generated once (seed 7) and checked in; any
change to zigzag, mid64, bit widths, chunk order, or header layout breaks
them.  (The snappy section of the strings golden additionally pins the
pyarrow snappy output — if a pyarrow upgrade changes compression output,
re-derive that constant; decode compatibility is covered separately.)
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from zebra_spark.codec.bytecodec import pack_strings, unpack_strings
from zebra_spark.codec.codecs import StrCodec, decode_strings, skip_strings
from zebra_spark.codec.intcodec import pack_int_array, unpack_int_array

GOLDEN_INTS150_SHA = "9f4eba266a65264dabb3a37658a887fa2a18da9f0f2c9e91a41a9f93efb43931"
GOLDEN_INTS150_LEN = 446
GOLDEN_SMALL_HEX = (
    "3000000032b23ee6ffffffffa69b823300000000969b8233000000009c9b8233"
    "00000000aa9b823300000000c6353a4200000000c5353a4200000000"
)
GOLDEN_STRINGS_HEX = (
    "4000000007000000000000000000000000000000000000000000000000000000"
    "0000000000000000000000000000000000000000000000000000000000000000"
    "000000000000000000000000380000002b0000003818646f632d303030090700"
    "3109070032090700330907003409073835646f632d303036646f632d303037"
)


# Wires whose encoder is gone (plain FSST, str id 2; DEFLATE, str id 3):
# blocks written before stay readable.  Both payloads were produced by the
# last encoder that offered them, forced through ``allow=``, from
# _golden_word_rows(); the decoders must keep reading them.
GOLDEN_FSST_HEX = (
    "074600000017000000000000000506eaffffffffffffff000000002446599645"
    "6906e93916c4990e400200000000000000000000000000000000000000000000"
    "0000000000000000000000d60200007400000021026d70026e2002666f026865"
    "0374686503666f7802627202636b02636f02657302696f0369636b026a75026f"
    "77027175037265730373696f036d7073056d7072657304746865200462726f77"
    "07636f6d70726573056a756d707305717569636b0a636f6d7072657373696f04"
    "666f78200662726f776e2006717569636b200c636f6d7072657373696f6e2006"
    "6a756d7073200874686520666f78200a666f782062726f776e20016e1e1e1305"
    "1b1c1f13161a191c1b1a16191d1c131b14201d131a1c1b051c1d1d1d1905131c"
    "1d1f171b1b1b1a1a14201a1c191b1d1420191e1e041d1a131c19171c131a1d1c"
    "17131b1a191d18201b191c1a1d041a1b1b1b13041f1b131c161d1d1d1c1c1820"
    "1c1a131d1b18201e1e13051b1c1f1316"
)
GOLDEN_ZLIB_HEX = (
    "074600000017000000000000000506eaffffffffffffff000000002446599645"
    "6906e93916c4990e400200000000000000000000000000000000000000000000"
    "0000000000000000000000ac000000789c8d926b0e83300c83af92b38198c610"
    "9451d038fe9a582a6e53247e347de48b1b59d9df83bcc2297bb97f8fb19fa40f"
    "f3ba0d318e61b164b785df62c8e798d788ab2618442972862960870253154201"
    "e8232abd6292e1471470d47fd2520d0f5eed9b1a24392249d1f7a11a80a16944"
    "c33cdd8990baa3ac53fb41a679032ac3a4696bb6aaa867dd24433e14517f48ab"
    "b2cab56f3ade7e466ecebea73c4be226ae61eae3c9fc03a8d91896"
)


def _golden_word_rows():
    words = [b"the", b"quick", b"brown", b"fox", b"jumps", b"compression"]
    return [
        b" ".join(words[(i * 7 + j * j * 3 + i * i * j + (i * j) // 3) % 6]
                  for j in range(6))
        for i in range(20)
    ]


def test_golden_int_array_150():
    rng = np.random.default_rng(7)
    ints = rng.integers(-1000, 50257, size=150).astype(np.int64)
    buf = pack_int_array(ints)
    assert len(buf) == GOLDEN_INTS150_LEN
    assert hashlib.sha256(buf).hexdigest() == GOLDEN_INTS150_SHA
    out, _ = unpack_int_array(buf, 150)
    np.testing.assert_array_equal(out, ints)


def test_golden_small_remainder_only():
    small = np.array([5, -3, 0, 7, 123456789, -987654321], dtype=np.int64)
    buf = pack_int_array(small)
    assert buf.hex() == GOLDEN_SMALL_HEX
    # layout invariants readable straight off the hex: size = 6*8 raw
    # zig-zagged int64s (remainder path), offset = mid64(min, max)
    assert int.from_bytes(buf[:4], "little") == 48
    assert int.from_bytes(buf[4:12], "little", signed=True) == (
        (-987654321 + 123456789) >> 1
    )


def test_golden_strings():
    strings = [f"doc-{i:03d}".encode() for i in range(8)]
    lengths = np.array([len(s) for s in strings], dtype=np.int64)
    buf = pack_strings(lengths, b"".join(strings))
    assert buf.hex() == GOLDEN_STRINGS_HEX
    out_len, out_bytes, _ = unpack_strings(buf, 8)
    assert out_bytes == b"".join(strings)


def test_golden_decodes_from_constants():
    """Decode straight from the checked-in hex (no encoder involved)."""
    out, _ = unpack_int_array(bytes.fromhex(GOLDEN_SMALL_HEX), 6)
    assert out.tolist() == [5, -3, 0, 7, 123456789, -987654321]
    lengths, data, _ = unpack_strings(bytes.fromhex(GOLDEN_STRINGS_HEX), 8)
    assert data == b"".join(f"doc-{i:03d}".encode() for i in range(8))


def test_bp64_bit_order_is_sequential_lsb_first():
    """Pins the BP64 packed-chunk BIT ORDER to the documented public
    layout: value i of a 64-value chunk occupies bits [i*k, (i+1)*k) of a
    little-endian 64-bit-word bitstream — the canonical sequential
    horizontal layout of Lemire & Boytsov 2012 (arXiv:1209.2137, the
    integer-compression scheme zebra's README adopts; the reference's own
    kernel lives in the non-vendored ambiata-anemone lib, so this public
    layout is normative for our format).  Expected words are hand-derived
    from the definition, independent of the implementation under test."""
    from zebra_spark.codec.intcodec import _bp64_pack_group, _bp64_unpack_group

    rng = np.random.default_rng(11)
    for k in (1, 7, 13, 64):
        lim = (1 << k) if k < 64 else (1 << 64)
        vals = rng.integers(0, lim, size=(1, 64), dtype=np.uint64)
        got = _bp64_pack_group(vals, k)
        assert got.shape == (1, k)
        # hand-derive: one big-int bitstream, value i at offset i*k,
        # then split into little-endian 64-bit words
        stream = 0
        for i in range(64):
            stream |= int(vals[0, i]) << (i * k)
        want = [(stream >> (64 * w)) & 0xFFFFFFFFFFFFFFFF for w in range(k)]
        assert [int(x) for x in got[0]] == want, f"k={k}"
        back = _bp64_unpack_group(got, k)
        np.testing.assert_array_equal(back, vals)


@pytest.mark.parametrize(
    "codec,hexstr",
    [(StrCodec.FSST, GOLDEN_FSST_HEX), (StrCodec.ZLIB, GOLDEN_ZLIB_HEX)],
    ids=["fsst", "zlib"],
)
def test_golden_decode_only_string_wires(codec, hexstr):
    """decode_strings returns the pinned rows from the checked-in payload,
    and skip_strings lands on the payload's end."""
    rows = _golden_word_rows()
    payload = bytes.fromhex(hexstr)
    lengths, data, end = decode_strings(codec, payload, len(rows))
    assert lengths.tolist() == [len(r) for r in rows]
    assert data == b"".join(rows)
    assert end == len(payload)
    assert skip_strings(codec, payload, len(rows)) == len(payload)
