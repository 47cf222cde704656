"""Codec-menu + auto-selector laws.

Selector contract (north rule): decode is bit-identical AND selected size
<= zebra reference codec size for the same column (framing excluded).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from zebra_spark.codec import fsst
from zebra_spark.codec.codecs import (
    IntCodec,
    StrCodec,
    decode_ints,
    decode_strings,
    encode_ints,
    encode_strings,
)

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


def roundtrip_ints(values, expect_codec=None):
    values = np.asarray(values, dtype=np.int64)
    codec, payload, meta = encode_ints(values)
    out, pos = decode_ints(codec, payload, len(values))
    np.testing.assert_array_equal(out, values)
    assert pos == len(payload)
    assert meta["bytes"] <= meta["zebra_bytes"], "selector exceeded zebra bound"
    assert len(payload) == meta["bytes"]
    if expect_codec is not None:
        assert codec == expect_codec, IntCodec.NAMES[codec]
    return codec, meta


@given(st.lists(I64, max_size=200))
@settings(max_examples=150, deadline=None)
def test_selector_roundtrip_arbitrary(xs):
    roundtrip_ints(xs)


def test_selector_picks_sensible_codecs():
    rng = np.random.default_rng(0)
    # constant column
    roundtrip_ints(np.full(1000, 42), expect_codec=IntCodec.CONSTANT)
    # run-heavy column (r5: ZSTD_BT may out-compress RLE's two int arrays
    # by >15% on byte-width runs, clearing its decode handicap — both are
    # sensible; the handicap arithmetic is what the assert protects)
    runs = np.repeat(rng.integers(0, 5, size=30), rng.integers(50, 200, size=30))
    c, _ = roundtrip_ints(runs)
    assert c in (IntCodec.RLE, IntCodec.CONSTANT, IntCodec.ZSTD_BT)
    # low-cardinality scattered -> dict or zebra (dict wins when range >> card)
    vals = rng.choice(np.array([10**12, -(10**14), 3, 77], dtype=np.int64), 2000)
    c, _ = roundtrip_ints(vals)
    assert c == IntCodec.DICT
    # monotone with big base and small steps -> delta
    ramp = np.cumsum(rng.integers(0, 3, size=5000)) + 10**15
    c, _ = roundtrip_ints(ramp)
    assert c == IntCodec.DELTA
    # uniform random full-range -> zebra fallback
    rand = rng.integers(-(2**62), 2**62, size=1000)
    roundtrip_ints(rand, expect_codec=IntCodec.ZEBRA)


def test_each_int_codec_decodes():
    """Force each codec and verify decode, independent of selector choice."""
    rng = np.random.default_rng(1)
    vals = np.repeat(rng.integers(0, 9, size=40), rng.integers(1, 60, size=40))
    for allow in ({IntCodec.ZEBRA}, {IntCodec.RLE}, {IntCodec.DICT}, {IntCodec.DELTA}):
        codec, payload, _ = encode_ints(vals, allow=allow | {IntCodec.ZEBRA})
        out, _ = decode_ints(codec, payload, len(vals))
        np.testing.assert_array_equal(out, vals)


def _mk_strings(strings):
    lengths = np.array([len(s) for s in strings], dtype=np.int64)
    return lengths, b"".join(strings)


def roundtrip_strings(strings, allow=None, expect_codec=None):
    lengths, concat = _mk_strings(strings)
    codec, payload, meta = encode_strings(lengths, concat, allow=allow)
    out_len, out_bytes, pos = decode_strings(codec, payload, len(strings))
    np.testing.assert_array_equal(out_len, lengths)
    assert out_bytes == concat
    assert pos == len(payload)
    if allow is None:
        assert meta["bytes"] <= meta["zebra_bytes"]
    if expect_codec is not None:
        assert codec == expect_codec, StrCodec.NAMES[codec]
    return codec, meta


@given(st.lists(st.binary(max_size=30), max_size=80))
@settings(max_examples=80, deadline=None)
def test_strings_selector_arbitrary(strings):
    roundtrip_strings(strings)


def test_string_dict_wins_on_low_cardinality():
    strings = [b"web", b"code", b"books", b"wiki", b"forums"] * 400
    c, meta = roundtrip_strings(strings)
    assert c == StrCodec.DICT
    assert meta["bytes"] < meta["zebra_bytes"]


def test_fsst_section_roundtrip():
    rng = np.random.default_rng(3)
    base = b"hello world, this is a compressible string! " * 200
    noisy = bytes(rng.integers(0, 256, size=1000).astype(np.uint8)) + base
    for data in (base, noisy):
        sec = fsst.compress(data)
        assert sec is not None
        out, pos = fsst.decompress(sec)
        assert out == data and pos == len(sec)
        assert len(sec) < len(base) + 1500


def test_fsst_escape_run_parsing():
    # adversarial: data full of 0xFF bytes (escape byte) and repeats
    data = bytes([255, 255, 254, 255, 1, 2, 3] * 120)
    sec = fsst.compress(data)
    if sec is not None:
        out, _ = fsst.decompress(sec)
        assert out == data


def test_fsst_symbol_length_capped_at_u8():
    """Regression (r5): highly repetitive text let byte-pair merges double
    a symbol past 255 bytes, overflowing the wire's u8 symbol length and
    crashing compress.  The trainer now merges the most frequent pair
    whose expansion still fits."""
    reps = [(("the model pipeline compression token %d " % (i % 7)) * 12)
            .encode() for i in range(500)]
    data = b"".join(reps)
    sec = fsst.compress(data)
    if sec is not None:
        out, pos = fsst.decompress(sec)
        assert out == data and pos == len(sec)
    # and through the string selector under the size policy (the path
    # that crashed: FSST on a 64 KB sample of this text)
    lengths = np.array([len(s) for s in reps], dtype=np.int64)
    c, pl, _ = encode_strings(lengths, data, policy="size")
    ol, ob, _ = decode_strings(c, pl, len(reps))
    assert ob == data


def test_fsst_incompressible_returns_none_or_roundtrips():
    data = np.random.default_rng(5).bytes(4096)
    sec = fsst.compress(data)
    if sec is not None:
        out, _ = fsst.decompress(sec)
        assert out == data


@pytest.mark.parametrize("n", [0, 1, 63, 64, 65, 1000])
def test_empty_and_small(n):
    rng = np.random.default_rng(n)
    roundtrip_ints(rng.integers(-100, 100, size=n))
    roundtrip_strings([b"x" * (i % 5) for i in range(n)])


def test_pfor_beats_zebra_on_zipf_outliers():
    """Patched FoR: zipf token streams (rare large tokens in most 64-chunks)
    must compress below the per-chunk-width zebra codec, decode exactly."""
    import numpy as np

    from zebra_spark.codec.codecs import (
        IntCodec,
        decode_ints,
        encode_ints,
        skip_ints,
        zebra_int_size,
    )

    rng = np.random.default_rng(7)
    # high-cardinality base (dict cannot pay off) + 1% huge outliers: every
    # 64-chunk contains one, so zebra pays 50 bits for all 64 values
    base = rng.integers(0, 1 << 20, size=50_000)
    mask = rng.random(50_000) < 0.01
    v = np.where(mask, rng.integers(0, 1 << 50, size=50_000), base).astype(np.int64)
    codec, payload, meta = encode_ints(v)
    assert codec == IntCodec.PFOR and meta["codec"] == "pfor"
    assert len(payload) < 0.5 * zebra_int_size(v)
    out, p = decode_ints(codec, payload, len(v), 0)
    assert p == len(payload) and (out == v).all()
    assert skip_ints(codec, payload, len(v), 0) == len(payload)
    # zipf token stream: SOME sub-zebra codec wins (pfor or dict, exact min)
    z = np.minimum(rng.zipf(1.35, size=50_000) - 1, 50_256).astype(np.int64)
    zc, zp, zm = encode_ints(z)
    assert len(zp) < 0.85 * zebra_int_size(z)
    zout, _ = decode_ints(zc, zp, len(z), 0)
    assert (zout == z).all()


def test_alp_decimal_floats():
    """Decimal-valued doubles (prices/rates) select ALP and shrink far
    below the bit-cast packing; bit-exact incl. the scaled-int division."""
    import numpy as np

    from zebra_spark.codec.codecs import (
        IntCodec,
        decode_ints,
        encode_ints,
        skip_ints,
        zebra_int_size,
    )

    rng = np.random.default_rng(5)
    prices = np.round(rng.uniform(1, 100000, size=20000), 2)
    v = prices.view(np.int64)
    c, payload, meta = encode_ints(v, float_view=True)
    assert c == IntCodec.ALP and meta["codec"] == "alp"
    assert len(payload) < 0.5 * zebra_int_size(v)
    out, p = decode_ints(c, payload, len(v), 0)
    assert p == len(payload) and (out == v).all()
    assert skip_ints(c, payload, len(v), 0) == len(payload)
    # without the float hint the candidate is never offered
    c2, _, _ = encode_ints(v)
    assert c2 != IntCodec.ALP


def test_alp_rejects_unrepresentable():
    """NaN/inf/-0.0/non-decimal columns never select ALP; roundtrip holds."""
    import numpy as np

    from zebra_spark.codec.codecs import IntCodec, decode_ints, encode_ints

    cases = [
        np.array([0.0, -0.0] * 200),              # -0.0 breaks the bit check
        np.array([np.nan, 1.5, 2.25] * 100),      # NaN
        np.random.default_rng(2).normal(size=5000),  # full-mantissa values
        np.array([1e300, 2.5e-300] * 100),        # out of 2^53 scaled range
    ]
    for f in cases:
        v = f.view(np.int64)
        c, payload, _ = encode_ints(v, float_view=True)
        assert c != IntCodec.ALP
        out, _ = decode_ints(c, payload, len(v), 0)
        assert (out == v).all()


def test_pfor_roundtrip_property():
    """Random mixtures incl. negative bases and huge outliers round-trip
    bit-identically whatever the selector picks."""
    import numpy as np

    from zebra_spark.codec.codecs import decode_ints, encode_ints

    rng = np.random.default_rng(11)
    for _ in range(20):
        n = int(rng.integers(256, 5000))
        base = rng.integers(-(2**40), 2**40, size=n)
        mask = rng.random(n) < 0.02
        v = np.where(mask, rng.integers(-(2**62), 2**62, size=n), base).astype(
            np.int64
        )
        c, payload, _ = encode_ints(v)
        out, p = decode_ints(c, payload, n, 0)
        assert p == len(payload) and (out == v).all()


def test_sampled_gates_keep_winners_at_scale():
    """Above the gate threshold, slice estimates must keep delta (sorted)
    and dict (low-cardinality) candidates in play — and stay bit-exact."""
    import numpy as np

    from zebra_spark.codec.codecs import IntCodec, decode_ints, encode_ints

    n = 400_000
    sorted_vals = np.cumsum(
        np.random.default_rng(1).integers(0, 5, size=n)
    ).astype(np.int64)
    c, payload, _ = encode_ints(sorted_vals)
    assert c == IntCodec.DELTA
    out, _ = decode_ints(c, payload, n, 0)
    assert (out == sorted_vals).all()

    lowcard = np.random.default_rng(2).integers(0, 7, size=n).astype(np.int64) * 1000
    c2, payload2, _ = encode_ints(lowcard)
    assert c2 in (IntCodec.DICT, IntCodec.RLE, IntCodec.PFOR)
    out2, _ = decode_ints(c2, payload2, n, 0)
    assert (out2 == lowcard).all()


def test_delta_selected_through_handicap_on_large_size_win():
    """Under the balanced policy DELTA pays a 5% decode handicap; a column
    where DELTA is >15% smaller than every other candidate clears that bar
    arithmetically (1.05 * 0.85 < 1) and must still be selected.  (r4
    shipped an explicit "waiver" branch for this case; r4 ADVICE proved it
    dead code — the handicap alone produces the same selection — so r5
    removed it and this test pins the selection behavior.)"""
    rng = np.random.default_rng(5)
    # monotonic with ~1000-sized steps: zebra/pfor need ~23 bits for the
    # absolute range, delta needs ~11 for the steps -> >15% smaller
    vals = np.cumsum(rng.integers(950, 1050, size=8192)).astype(np.int64)
    c, payload, meta = encode_ints(vals, policy="balanced")
    assert c == IntCodec.DELTA, IntCodec.NAMES[c]
    out, _ = decode_ints(c, payload, len(vals))
    np.testing.assert_array_equal(out, vals)


def test_delta_v0_legacy_wire_still_decodes():
    """Blocks persisted before the r4 inner-codec wire carry DELTA_V0
    (i64 first | zebra int_array of deltas) — decode and skip must keep
    reading them (resumable encode outputs survive upgrades)."""
    import numpy as np

    from zebra_spark.codec.codecs import IntCodec, decode_ints, skip_ints
    from zebra_spark.codec.intcodec import pack_int_array

    vals = np.cumsum(np.arange(1, 300, dtype=np.int64))
    deltas = np.subtract(vals[1:], vals[:-1], dtype=np.int64)
    legacy = np.int64(vals[0]).astype("<i8").tobytes() + pack_int_array(deltas)
    out, pos = decode_ints(IntCodec.DELTA_V0, legacy, len(vals))
    np.testing.assert_array_equal(out, vals)
    assert pos == len(legacy)
    assert skip_ints(IntCodec.DELTA_V0, legacy, len(vals), 0) == len(legacy)


def test_alp_rd_roundtrip_profiles():
    """ALP-RD (r5): full-mantissa floats split at a bit cut — left-parts
    dictionary + fixed-width right pack (Afroozeh & Boncz VLDB'23, the
    'real doubles' half).  Pure bit transform, so the roundtrip must be
    exact for every float profile, including the sign-extended float32
    patterns embeddings use and the trailing-zero (f32-representable f64)
    shift path."""
    rng = np.random.default_rng(11)
    profiles = {
        "f32_patterns": (
            (rng.standard_normal(8192).astype(np.float32) * 0.3)
            .view(np.int32).astype(np.int64),
            {"float32_view": True},
        ),
        "f64_full_mantissa": (
            (rng.standard_normal(8192) * 1e3).view(np.int64),
            {"float_view": True},
        ),
        "f64_from_f32_tz": (
            rng.standard_normal(8192).astype(np.float32).astype(np.float64)
            .view(np.int64),
            {"float_view": True},
        ),
    }
    for name, (vals, kw) in profiles.items():
        c, payload, meta = encode_ints(vals, **kw)
        assert c == IntCodec.ALP_RD, (name, IntCodec.NAMES[c])
        out, pos = decode_ints(c, payload, len(vals))
        np.testing.assert_array_equal(out, vals, err_msg=name)
        assert pos == len(payload)
        from zebra_spark.codec.codecs import skip_ints

        assert skip_ints(c, payload, len(vals)) == len(payload)
        assert meta["bytes"] < meta["zebra_bytes"], name


def test_alp_rd_wild_values_forced():
    """NaN payloads, infinities and signed zeros ride ALP-RD unchanged
    when it is forced via allow= (the transform never inspects float
    semantics, only bits)."""
    wild = np.array(
        [np.nan, np.inf, -np.inf, -0.0, 0.0, 1.5, -1.5, 2.0**-1060] * 32,
        dtype=np.float64,
    ).view(np.int64)
    c, payload, _ = encode_ints(
        wild, allow={IntCodec.ZEBRA, IntCodec.ALP_RD}, float_view=True
    )
    out, _ = decode_ints(c, payload, len(wild))
    np.testing.assert_array_equal(out, wild)


def test_alp_rd_wire_layout():
    """Wire: u8 r | u8 tz | u32 n_dict | BP64 right groups | dict
    int_array | codes int_array — parse the scalars back and check the
    section arithmetic skip_ints relies on."""
    rng = np.random.default_rng(3)
    # f32-representable doubles: tz must be >= 29 (trailing mantissa zeros)
    vals = rng.standard_normal(4096).astype(np.float32).astype(np.float64)
    v = vals.view(np.int64)
    c, payload, _ = encode_ints(v, float_view=True)
    assert c == IntCodec.ALP_RD
    r, tz = payload[0], payload[1]
    n_dict = int(np.frombuffer(payload[2:6], dtype="<u4")[0])
    assert tz >= 29
    assert 0 < r < 64 - tz
    assert n_dict >= 1
    n_groups = -(-len(v) // 64)
    p = 6 + n_groups * 8 * r
    # dict int_array then codes int_array, each self-sized
    for _ in range(2):
        size = int(np.frombuffer(payload[p : p + 4], dtype="<u4")[0])
        p += 12 + size
    assert p == len(payload)


def test_zstd_string_codec_roundtrip_and_selection():
    """r5 ext: zstd replaces DEFLATE as the general-purpose candidate when
    the pyarrow codec is available (strictly dominates DEFLATE-6 on text:
    smaller, faster compress, 4x faster decompress).  Forced and auto
    paths roundtrip; the wire is skippable; DEFLATE stays decodable."""
    from zebra_spark.codec.codecs import skip_strings

    rng = np.random.default_rng(7)
    words = [b"the", b"model", b"training", b"pipeline", b"compression"]
    strings = [
        b" ".join(words[i] for i in rng.integers(0, len(words), size=40))
        for _ in range(2000)
    ]
    lengths = np.array([len(s) for s in strings], dtype=np.int64)
    concat = b"".join(strings)
    # forced
    c, pl, m = encode_strings(
        lengths, concat, allow={StrCodec.ZEBRA, StrCodec.ZSTD}
    )
    assert c == StrCodec.ZSTD and m["codec"] == "zstd"
    ol, ob, p = decode_strings(c, pl, len(strings))
    assert ob == concat and (ol == lengths).all() and p == len(pl)
    assert skip_strings(c, pl, len(strings)) == len(pl)
    assert m["bytes"] < 0.6 * m["zebra_bytes"]
    # balanced selects zstd on this text
    c2, pl2, _ = encode_strings(lengths, concat, policy="balanced")
    assert c2 == StrCodec.ZSTD
    ol, ob, _ = decode_strings(c2, pl2, len(strings))
    assert ob == concat and (ol == lengths).all()
    # size policy compresses at least as well as balanced
    c4, pl4, _ = encode_strings(
        lengths, concat, allow={StrCodec.ZEBRA, StrCodec.ZSTD}, policy="size"
    )
    assert c4 == StrCodec.ZSTD and len(pl4) <= len(pl)
    ol, ob, _ = decode_strings(c4, pl4, len(strings))
    assert ob == concat and (ol == lengths).all()


def test_f1_token_column_compression_pin():
    """Drift guard for the round-5 headline: the F1 token column must
    keep selecting ZSTD_BT and land well under zebra (measured 9.38 vs
    16.13 b/tok = 0.58; the pin leaves slack for data-generation and
    library drift but catches a selector regression immediately)."""
    from zebra_spark.sources.synth import f1_batch

    b = f1_batch(3000, seed=42)
    flat = np.ascontiguousarray(
        b.column("tokens").flatten().to_numpy(), dtype=np.int64
    )
    c, pl, m = encode_ints(flat)
    assert c == IntCodec.ZSTD_BT
    assert m["bytes"] < 0.65 * m["zebra_bytes"]
    out, p = decode_ints(c, pl, len(flat))
    assert (out == flat).all() and p == len(pl)


def test_fsst_z_roundtrip_and_size_policy_selection():
    """r5 ext (str codec 5): the FSST section re-entropy-coded by zstd.
    FSST's dense byte codes still carry ~20-25% Huffman slack.  FSST's
    numpy decode is ~15x slower than snappy, so only the size policy
    offers the stack; there it beats zstd-19 on word text."""
    from zebra_spark.codec import codecs
    from zebra_spark.codec.codecs import skip_strings

    rng = np.random.default_rng(8)
    words = [b"the", b"model", b"training", b"pipeline", b"compression",
             b"tokens", b"columnar"]
    strings = [
        b" ".join(words[i] for i in rng.integers(0, len(words), size=60))
        for _ in range(1500)
    ]
    lengths = np.array([len(s) for s in strings], dtype=np.int64)
    concat = b"".join(strings)
    c, pl, m = encode_strings(
        lengths, concat, allow={StrCodec.ZEBRA, StrCodec.FSST_Z}
    )
    assert c == StrCodec.FSST_Z and m["codec"] == "fsst-zstd"
    ol, ob, p = decode_strings(c, pl, len(strings))
    assert ob == concat and (ol == lengths).all() and p == len(pl)
    assert skip_strings(c, pl, len(strings)) == len(pl)
    # the stack must not lose to the plain FSST wire on compressible text
    plain = codecs._lengths_section(lengths) + fsst.compress(concat)
    assert len(pl) < len(plain)
    # size policy: selected over zstd-19; balanced and speed never offer it
    c_size, pl_size, _ = encode_strings(lengths, concat, policy="size")
    _, pl_zstd, _ = encode_strings(
        lengths, concat, allow={StrCodec.ZSTD}, policy="size"
    )
    assert c_size == StrCodec.FSST_Z
    assert len(pl_size) < len(pl_zstd)
    for policy in ("balanced", "speed"):
        assert encode_strings(lengths, concat, policy=policy)[0] != StrCodec.FSST_Z

def test_zstd_bt_roundtrip_and_selection():
    """r5 ext (int codec 9): FoR + byte-transposed planes + zstd-1.  The
    FSE entropy stage wins where bit-packing pays the chunk width for
    zipf-distributed values (the F1 token column: 16.00 -> 9.38 b/tok).
    Under balanced it carries a 1.15 decode handicap; policy `speed`
    never offers it (the cheapest menu, used by the verify re-encode)."""
    from zebra_spark.codec.codecs import skip_ints

    rng = np.random.default_rng(5)
    zipf = np.minimum(rng.zipf(1.2, size=200_000) - 1, 50_256).astype(np.int64)
    c, pl, m = encode_ints(zipf)
    assert c == IntCodec.ZSTD_BT and m["codec"] == "zstd-bt"
    out, p = decode_ints(c, pl, len(zipf))
    assert (out == zipf).all() and p == len(pl)
    assert skip_ints(c, pl, len(zipf)) == len(pl)
    # must be >15% under the next-best candidate to have been selected
    assert m["bytes"] < m["zebra_bytes"] / 1.15
    # wire header: u8 width | i64 vmin | u32 comp_len | zstd frame
    assert pl[0] == 2  # vocab < 2^16 -> two byte planes
    assert int(np.frombuffer(pl[1:9], dtype="<i8")[0]) == int(zipf.min())
    comp_len = int(np.frombuffer(pl[9:13], dtype="<u4")[0])
    assert 13 + comp_len == len(pl)
    # forced-candidate roundtrips across widths incl. wrap-around ranges
    from zebra_spark.codec.codecs import _zstd_bt_build, plan_int_array

    for v in (
        rng.integers(0, 200, 5000),  # width 1
        rng.integers(-(2**31), 2**31, 5000),  # width 4
        rng.integers(-(2**62), 2**62, 5000),  # width 8
        np.array([-(2**63), 2**63 - 1] * 600, dtype=np.int64),  # full span
        np.arange(2048, dtype=np.int64) * 3 - 99,
    ):
        v = np.asarray(v, dtype=np.int64)
        sz, thunk = _zstd_bt_build(v, plan_int_array(v), 10**12)
        pl2 = thunk()
        assert sz == len(pl2)
        o, p2 = decode_ints(IntCodec.ZSTD_BT, pl2, len(v))
        assert (o == v).all() and p2 == len(pl2)
        assert skip_ints(IntCodec.ZSTD_BT, pl2, len(v)) == len(pl2)
    # speed policy: never offered (the cheapest menu)
    c3, _, _ = encode_ints(zipf, policy="speed")
    assert c3 != IntCodec.ZSTD_BT


def test_zstd_bt_rejects_corrupted_wire():
    """Corrupted id-9 payloads must raise, never crash or return junk:
    the zstd frame checks its own integrity and the declared decompressed
    size must equal n*width."""
    from zebra_spark.codec.codecs import _zstd_bt_build, plan_int_array

    rng = np.random.default_rng(13)
    v = rng.integers(0, 50000, 20000)
    _, thunk = _zstd_bt_build(v, plan_int_array(v), 10**12)
    pl = bytearray(thunk())
    # flip bytes inside the zstd frame
    for off in (20, len(pl) // 2, len(pl) - 3):
        bad = bytearray(pl)
        bad[off] ^= 0xFF
        try:
            out, _ = decode_ints(IntCodec.ZSTD_BT, bytes(bad), len(v))
            # an undetected flip must at least keep the contract shape
            assert len(out) == len(v)
        except Exception as e:
            assert isinstance(e, (ValueError, OSError, pa_lib_error()))
    # truncated payload
    with pytest.raises(Exception):
        decode_ints(IntCodec.ZSTD_BT, bytes(pl[: len(pl) // 2]), len(v))
    # wrong n (decompressed-size mismatch)
    with pytest.raises(Exception):
        decode_ints(IntCodec.ZSTD_BT, bytes(pl), len(v) + 1)


def pa_lib_error():
    import pyarrow as pa

    return pa.lib.ArrowException


def test_pfor_sampled_feasibility_margin_keeps_boundary_cut():
    """r5 review fix: the sampled PFoR ranking allowed only ~1 sample
    element of binomial noise above the n/8 exception bar, so a genuinely
    feasible boundary cut (true exception fraction 12.4%) was marked
    infeasible on ~half of blocks.  With the 3-sigma margin the cut stays
    in the ranking and cost_exact settles it with the true count: seed 1
    sampled-overestimates (p_hat 0.1273 > old bar 0.1251) yet PFoR must
    still select the b=4 cut at ~3.6x below zebra."""
    rng = np.random.default_rng(1)
    n = 819200
    mask = rng.random(n) < 0.124
    vals = rng.integers(0, 16, size=n)
    vals[mask] = rng.integers(1 << 39, 1 << 40, size=int(mask.sum()))
    vals = vals.astype(np.int64)
    c, payload, m = encode_ints(vals)
    assert c == IntCodec.PFOR
    assert payload[0] < 10  # the boundary cut, not a 40-bit fallback
    assert m["bytes"] < 0.5 * m["zebra_bytes"]
    out, p = decode_ints(c, payload, n)
    assert (out == vals).all() and p == len(payload)


def test_narrow_native_wire_equality():
    """r7 invariant: encoding a narrow-dtype array produces byte-identical
    wire to encoding the same values as int64, for every selected codec —
    the narrow-native planning path is a pure speed change.  Covers zipf
    (zstd-bt territory), runs (rle/constant), small-card (dict), ramps
    (delta/pfor), and decode must round-trip from either encoding."""
    from zebra_spark.codec import codecs as C
    from zebra_spark.codec.codecs import decode_ints, encode_ints
    from zebra_spark.codec.warmup import warm_codec

    warm_codec()
    rng = np.random.default_rng(7)
    cases = {
        "zipf": (rng.zipf(1.3, size=200_000) % 50_000).astype(np.int32),
        "runs": np.repeat(
            rng.integers(-5, 5, size=500), rng.integers(1, 900, size=500)
        ).astype(np.int16)[:100_000],
        "smallcard": rng.integers(0, 7, size=100_000).astype(np.int8),
        "ramp": (np.arange(150_000) * 3 + rng.integers(0, 2, 150_000)).astype(
            np.int32
        ),
        "negatives": rng.integers(-(2**31), 2**31, size=66_000).astype(np.int32),
    }
    for name, narrow in cases.items():
        wide = narrow.astype(np.int64)
        c_n, p_n, _ = encode_ints(narrow)
        c_w, p_w, _ = encode_ints(wide)
        assert c_n == c_w, (name, c_n, c_w)
        assert p_n == p_w, f"{name}: narrow wire differs from int64 wire"
        out64, _ = decode_ints(c_n, p_n, len(narrow))
        assert out64.dtype == np.int64 and (out64 == wide).all(), name
        # decode at the column's own width returns the same values
        out_n, _ = decode_ints(c_n, p_n, len(narrow), dtype=narrow.dtype)
        assert out_n.dtype == narrow.dtype and (out_n == narrow).all(), name


def _hex_ids(n=4000):
    rng = np.random.default_rng(0)
    return [rng.bytes(20).hex().encode() for _ in range(n)]


def _history_columns():
    rng = np.random.default_rng(3)
    words = [b"the", b"model", b"training", b"pipeline", b"compression",
             b"tokens", b"columnar", b"dataset"]
    return {
        "text": [
            b" ".join(words[i] for i in rng.integers(0, len(words), size=6))
            for _ in range(4000)
        ],
        "random": [rng.bytes(40) for _ in range(4000)],
        "hex": _hex_ids(),
    }


@pytest.mark.parametrize("policy", ["balanced", "size"])
@pytest.mark.parametrize("first,then", [("random", "text"), ("text", "hex")])
def test_string_encode_is_history_independent(policy, first, then):
    """Encoded bytes are a function of (values, policy): a column encoded
    under a path that an unrelated column used before gets the same
    bytes as the same column encoded under a path never seen."""
    import pyarrow as pa

    from zebra_spark.codec.blocks import encode_batch

    cols = _history_columns()

    def encode(path, values):
        batch = pa.record_batch([pa.array(values, pa.binary())], names=[path])
        return encode_batch(batch, policy)[0]

    fresh = encode(f"fresh.{first}.{then}.{policy}", cols[then])
    shared = f"shared.{first}.{then}.{policy}"
    encode(shared, cols[first])
    assert encode(shared, cols[then]) == fresh


def test_hex_ids_select_no_fsst_outside_size_policy():
    """FSST's numpy decode runs at 32-48 ns/B, so no policy but ``size``
    may select the FSST family, whatever snappy makes of the column.  On
    hex ids balanced takes zstd (88,665 B; fsst-zstd would be 94,212 B)."""
    lengths, concat = _mk_strings(_hex_ids())
    for policy in ("balanced", "speed"):
        c, pl, m = encode_strings(lengths, concat, policy=policy)
        assert c not in (StrCodec.FSST, StrCodec.FSST_Z), (policy, m)
        ol, ob, _ = decode_strings(c, pl, len(lengths))
        assert ob == concat and (ol == lengths).all()
        if policy == "balanced":
            assert c == StrCodec.ZSTD and len(pl) <= 88_665


def test_nested_delta_fails_closed():
    """DELTA's inner codec is ZEBRA or PFOR; a crafted payload nesting
    DELTA in DELTA must raise ValueError, not recurse until
    RecursionError."""
    from zebra_spark.codec.codecs import skip_ints

    payload = (bytes(8) + bytes([IntCodec.DELTA])) * 4000
    with pytest.raises(ValueError, match="inner codec"):
        decode_ints(IntCodec.DELTA, payload, 5000)
    with pytest.raises(ValueError, match="inner codec"):
        skip_ints(IntCodec.DELTA, payload, 5000)


def _int_batch(name, values):
    import pyarrow as pa

    return pa.record_batch([pa.array(values, pa.int64())], names=[name])


def test_int_encode_is_history_independent():
    """A zipf column encodes to the same bytes whether or not an unrelated
    uniform column went through the same column path first (the zipf
    column selects zstd-bt; history must not steer it to pfor or zebra)."""
    from zebra_spark.codec.blocks import encode_batch

    rng = np.random.default_rng(0)
    zipf = np.minimum(rng.zipf(1.2, 300_000) - 1, 50_256)
    uniform = rng.integers(0, 1 << 20, 300_000)
    fresh, meta = encode_batch(_int_batch("hist.fresh", zipf))
    assert meta["cols"]["hist.fresh"]["codec"] == "zstd-bt"
    encode_batch(_int_batch("hist.shared", uniform))
    assert encode_batch(_int_batch("hist.shared", zipf))[0] == fresh


def test_chunked_encode_is_history_independent():
    """Blocks cut by ``encode_chunk_rows`` from one batch sorted by source
    (uniform ids, then zipf tokens) encode exactly as each block does
    alone: a block's bytes do not depend on the blocks cut before it."""
    from zebra_spark.codec.blocks import encode_batch
    from zebra_spark.operators.encode import encode_chunk_rows

    rng = np.random.default_rng(1)
    step = 1 << 15
    values = np.concatenate([
        rng.integers(0, 1 << 20, 2 * step),
        np.minimum(rng.zipf(1.2, 2 * step) - 1, 50_256),
    ])
    rb = _int_batch("chunk.tok", values)
    rows = list(encode_chunk_rows(rb, task_tag="hist", rows_per_block=step))
    assert len(rows) == 4
    for i, row in enumerate(rows):
        alone = _int_batch(f"chunk.alone.{i}", values[i * step : (i + 1) * step])
        assert row.column("payload")[0].as_py() == encode_batch(alone)[0], i


def test_unknown_policy_is_rejected(monkeypatch):
    """A misspelt ZS_CODEC_POLICY raises instead of silently encoding with
    a zebra-snappy-only string menu; an explicit policy overrides the env."""
    import re

    from zebra_spark.codec.blocks import encode_batch

    lengths, concat = _mk_strings([b"pipeline", b"model", b"tokens"] * 2000)
    monkeypatch.setenv("ZS_CODEC_POLICY", "Balanced")
    expected = re.escape("balanced|size|speed")
    with pytest.raises(ValueError, match=expected):
        encode_strings(lengths, concat)
    with pytest.raises(ValueError, match=expected):
        encode_ints(np.arange(100))
    with pytest.raises(ValueError, match=expected):
        encode_batch(_int_batch("x", np.arange(100)))
    with pytest.raises(ValueError, match=expected):
        encode_ints(np.arange(100), policy="fast")
    assert len(encode_strings(lengths, concat, policy="balanced")[1]) < 100
    monkeypatch.setenv("ZS_CODEC_POLICY", "size")
    assert encode_strings(lengths, concat)[1] == encode_strings(
        lengths, concat, policy="size"
    )[1]
