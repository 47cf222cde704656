"""Block encode/decode round-trip laws.

Mirrors the reference striping law ``toLogical . fromLogical == id``
(zebra-core/test/Test/Zebra/Table/Striped.hs:34-43) at the Arrow level:
``decode_batch(encode_batch(b)) == b`` bit-identically, over random
schemas/values (F3 in FIXTURES.md) and over the real driver testdata.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings, strategies as st

from zebra_spark.codec.blocks import decode_batch, encode_batch


def roundtrip(batch: pa.RecordBatch):
    payload, meta = encode_batch(batch)
    out = decode_batch(payload, batch.schema)
    assert out.schema == batch.schema
    for name in batch.schema.names:
        a, b = batch.column(name), out.column(name)
        assert a.equals(b), f"column {name}: {a} != {b}"
    assert meta["enc_bytes"] == len(payload)
    return meta


def test_f1_shape_roundtrip():
    """The BASELINE input_hint shape: (doc_id, tokens, n_tok, source)."""
    rng = np.random.default_rng(42)
    n = 1000
    n_tok = rng.integers(1, 300, size=n)
    tokens = [rng.integers(0, 50257, size=k).astype(np.int32) for k in n_tok]
    batch = pa.RecordBatch.from_pydict(
        {
            "doc_id": pa.array([f"web-{i:010d}" for i in range(n)]),
            "tokens": pa.array([t.tolist() for t in tokens], type=pa.list_(pa.int32())),
            "n_tok": pa.array(n_tok.astype(np.int32)),
            "source": pa.array(
                [["web", "code", "books"][i % 3] for i in range(n)]
            ),
        }
    )
    meta = roundtrip(batch)
    # selected encoding must not exceed the pure-reference encoding
    assert meta["enc_bytes"] <= meta["zebra_bytes"] + 64  # framing slack
    assert meta["enc_bytes"] < meta["raw_bytes"]


def test_all_primitive_types():
    rng = np.random.default_rng(0)
    n = 500
    batch = pa.RecordBatch.from_pydict(
        {
            "i8": pa.array(rng.integers(-128, 128, n), type=pa.int8()),
            "i16": pa.array(rng.integers(-30000, 30000, n), type=pa.int16()),
            "i32": pa.array(rng.integers(-(2**31), 2**31, n), type=pa.int32()),
            "i64": pa.array(rng.integers(-(2**62), 2**62, n), type=pa.int64()),
            "u32": pa.array(rng.integers(0, 2**32, n), type=pa.uint32()),
            "u64": pa.array(
                rng.integers(0, 2**63, n).astype(np.uint64) * 2, type=pa.uint64()
            ),
            "f32": pa.array(rng.normal(size=n).astype(np.float32)),
            "f64": pa.array(rng.normal(size=n) * 1e300),
            "b": pa.array(rng.integers(0, 2, n) == 1),
            "s": pa.array([f"row-{i}" for i in range(n)]),
            "bin": pa.array([bytes([i % 256, 255]) for i in range(n)], type=pa.binary()),
            "ts": pa.array(
                rng.integers(0, 10**15, n), type=pa.timestamp("us")
            ),
            "d32": pa.array(rng.integers(0, 20000, n).astype(np.int32), type=pa.date32()),
        }
    )
    roundtrip(batch)


def test_special_floats_bit_identical():
    vals = np.array(
        [0.0, -0.0, np.inf, -np.inf, np.nan, 1e-308, -1e308, 3.14],
        dtype=np.float64,
    )
    batch = pa.RecordBatch.from_pydict({"f": pa.array(vals)})
    payload, _ = encode_batch(batch)
    out = decode_batch(payload, batch.schema)
    got = out.column("f").to_numpy(zero_copy_only=False)
    assert got.view(np.int64).tolist() == vals.view(np.int64).tolist()


def test_nulls_everywhere():
    batch = pa.RecordBatch.from_pydict(
        {
            "i": pa.array([1, None, 3, None, 5], type=pa.int64()),
            "f": pa.array([1.5, None, None, 4.0, 5.0], type=pa.float64()),
            "s": pa.array(["a", None, "ccc", "", None]),
            "l": pa.array([[1, 2], None, [], [3], None], type=pa.list_(pa.int64())),
            "ts": pa.array([1, None, 3, 4, None], type=pa.timestamp("us")),
        }
    )
    roundtrip(batch)


def test_nested_list_of_list_and_struct():
    batch = pa.RecordBatch.from_pydict(
        {
            "ll": pa.array(
                [[[1, 2], [3]], [], [[4]], [[], [5, 6]]],
                type=pa.list_(pa.list_(pa.int64())),
            ),
            "st": pa.array(
                [
                    {"x": 1, "y": "a"},
                    {"x": 2, "y": "b"},
                    {"x": None, "y": None},
                    {"x": 4, "y": "d"},
                ],
                type=pa.struct([("x", pa.int64()), ("y", pa.string())]),
            ),
            "ls": pa.array(
                [["a", "bb"], [], ["ccc"], ["", "e"]], type=pa.list_(pa.string())
            ),
        }
    )
    roundtrip(batch)


def test_empty_batch():
    schema = pa.schema([("a", pa.int64()), ("s", pa.string())])
    batch = pa.RecordBatch.from_pydict({"a": [], "s": []}, schema=schema)
    roundtrip(batch)


def test_sliced_arrays():
    """Arrow slices carry non-zero offsets — buffer math must respect them."""
    big = pa.record_batch(
        {
            "s": pa.array([f"string-{i}" for i in range(1000)]),
            "l": pa.array([[i, i + 1] for i in range(1000)], type=pa.list_(pa.int64())),
        }
    )
    roundtrip(big.slice(100, 50))


@pytest.mark.parametrize(
    "table", ["lineitem", "documents", "embeddings", "events", "orders"]
)
def test_real_testdata_roundtrip(table):
    t = pq.read_table(f"/root/testdata/sf0.001/{table}.parquet")
    for batch in t.to_batches(max_chunksize=2000):
        roundtrip(batch)


# F3: random schema/value property (depth <= 2 here; deeper covered above)
_leaf = st.sampled_from(
    [pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.bool_()]
)


@st.composite
def _batches(draw):
    n = draw(st.integers(min_value=0, max_value=80))
    n_cols = draw(st.integers(min_value=1, max_value=4))
    arrays, names = [], []
    for ci in range(n_cols):
        t = draw(_leaf)
        nested = draw(st.booleans())
        if pa.types.is_integer(t):
            base = draw(
                st.lists(
                    st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
                    min_size=n,
                    max_size=n,
                )
            )
        elif pa.types.is_floating(t):
            # mix full-mantissa floats with decimal-valued ones so the ALP
            # candidate gets exercised (and correctly declined) in-block
            decimal = st.integers(-(10**7), 10**7).map(lambda i: i / 100.0)
            base = draw(
                st.lists(
                    st.one_of(
                        st.none(),
                        st.floats(allow_nan=False, width=64),
                        decimal,
                    ),
                    min_size=n,
                    max_size=n,
                )
            )
        elif pa.types.is_boolean(t):
            base = draw(st.lists(st.one_of(st.none(), st.booleans()), min_size=n, max_size=n))
        else:
            base = draw(
                st.lists(st.one_of(st.none(), st.text(max_size=8)), min_size=n, max_size=n)
            )
        if nested:
            # group into a list column with random splits
            arr = pa.array([([v] if v is not None else []) for v in base], type=pa.list_(t))
        else:
            arr = pa.array(base, type=t)
        arrays.append(arr)
        names.append(f"c{ci}")
    return pa.RecordBatch.from_arrays(arrays, names=names)


@given(_batches())
@settings(max_examples=60, deadline=None)
def test_random_batches_roundtrip(batch):
    roundtrip(batch)


def test_alp_inside_blocks():
    """A decimal-double column (with nulls) picks ALP inside the block walk
    and round-trips bit-exactly."""
    import json

    from zebra_spark.codec.blocks import encode_batch

    rng = np.random.default_rng(9)
    vals = np.round(rng.uniform(0, 1000, size=4000), 2).tolist()
    vals[7] = None
    rb = pa.RecordBatch.from_arrays(
        [pa.array(vals, type=pa.float64())], names=["price"]
    )
    roundtrip(rb)
    _, meta = encode_batch(rb)
    codecs_used = json.dumps(meta)
    assert "alp" in codecs_used


def test_projection_pushdown_decode():
    """decode_batch(columns=...) skips unrequested sections exactly."""
    import time

    rng = np.random.default_rng(11)
    n = 5000
    n_tok = rng.integers(64, 600, size=n)
    batch = pa.RecordBatch.from_pydict(
        {
            "doc_id": pa.array([f"d{i}" for i in range(n)]),
            "tokens": pa.array(
                [rng.integers(0, 50257, size=k).tolist() for k in n_tok],
                type=pa.list_(pa.int32()),
            ),
            "n_tok": pa.array(n_tok.astype(np.int32)),
            "source": pa.array(["web"] * n),
        }
    )
    payload, _ = encode_batch(batch)
    full = decode_batch(payload, batch.schema)
    pruned = decode_batch(payload, batch.schema, columns=["doc_id", "n_tok"])
    assert pruned.schema.names == ["doc_id", "n_tok"]
    assert pruned.column("doc_id").equals(full.column("doc_id"))
    assert pruned.column("n_tok").equals(full.column("n_tok"))
    # pruning must be materially cheaper than full decode (tokens dominate)
    t0 = time.perf_counter()
    for _ in range(3):
        decode_batch(payload, batch.schema, columns=["n_tok"])
    t_pruned = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(3):
        decode_batch(payload, batch.schema)
    t_full = time.perf_counter() - t0
    assert t_pruned < t_full


def test_zero_column_projection_keeps_row_count():
    batch = pa.RecordBatch.from_pydict(
        {"a": pa.array(range(7880), type=pa.int64()), "z": ["p", "q"] * 3940}
    )
    payload, _ = encode_batch(batch)
    out = decode_batch(payload, batch.schema, columns=[])
    assert (out.num_rows, out.num_columns) == (7880, 0)


def test_projection_pushdown_with_nulls_and_nesting():
    batch = pa.RecordBatch.from_pydict(
        {
            "a": pa.array([1, None, 3], type=pa.int64()),
            "l": pa.array([[1, 2], None, []], type=pa.list_(pa.int64())),
            "st": pa.array(
                [{"x": 1, "y": "a"}, {"x": 2, "y": "b"}, None],
                type=pa.struct([("x", pa.int64()), ("y", pa.string())]),
            ),
            "z": pa.array(["p", "q", "r"]),
        }
    )
    payload, _ = encode_batch(batch)
    for cols in (["a"], ["z"], ["l"], ["st"], ["a", "z"], ["l", "st"]):
        out = decode_batch(payload, batch.schema, columns=cols)
        assert out.schema.names == cols
        for c in cols:
            assert out.column(c).equals(batch.column(c)), c


def test_map_type_roundtrip():
    """map<k,v> — zebra's Map table analogue (Schema.hs:83)."""
    m = pa.array(
        [{"a": 1, "b": 2}, None, {}, {"c": None}, {"d": 4, "e": 5, "f": 6}],
        type=pa.map_(pa.string(), pa.int64()),
    )
    batch = pa.RecordBatch.from_arrays(
        [m, pa.array([1, 2, 3, 4, 5], type=pa.int64())], names=["m", "x"]
    )
    roundtrip(batch)
    payload, _ = encode_batch(batch)
    pruned = decode_batch(payload, batch.schema, columns=["x"])
    assert pruned.column("x").to_pylist() == [1, 2, 3, 4, 5]
    only_m = decode_batch(payload, batch.schema, columns=["m"])
    assert only_m.column("m").equals(batch.column("m"))


def test_verify_ipc_comparison_is_nan_safe_and_bit_strict():
    """r5 review fix: RecordBatch.equals treats NaN != NaN, so the audit's
    content-equality law false-alarmed on any NaN-bearing float block
    whose speed-policy re-encode differed bytewise.  The IPC-byte comparison
    is NaN-safe yet still bit-strict (different NaN payload bits differ)."""
    from zebra_spark.operators.verify import _ipc_bytes

    vals = np.array([1.5, np.nan, -0.0, np.inf, 2.75], dtype=np.float64)
    rb = pa.RecordBatch.from_pydict({"x": pa.array(vals)})
    payload, _ = encode_batch(rb)
    d1 = decode_batch(payload, rb.schema)
    d2 = decode_batch(payload, rb.schema)
    assert not d1.equals(d2)  # the arrow pitfall this guards against
    assert _ipc_bytes(d1) == _ipc_bytes(d2)
    re_payload, _ = encode_batch(d1, "speed")
    assert _ipc_bytes(decode_batch(re_payload, rb.schema)) == _ipc_bytes(d1)
    # a different NaN bit pattern is a different value to the audit
    v2 = vals.copy()
    v2[1] = np.uint64(0x7FF8000000000001).view(np.float64)
    rb2 = pa.RecordBatch.from_pydict({"x": pa.array(v2)})
    p2, _ = encode_batch(rb2)
    assert _ipc_bytes(decode_batch(p2, rb2.schema)) != _ipc_bytes(d1)
