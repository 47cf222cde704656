"""Schema-fidelity laws: per-node Default, Reversed ordering, UTF-8
validation, map invariants on decode, Date/Time encoding metadata.

Mirrors: Data.hs:120-123 (per-node Default), Schema.hs:476-533 (union
enforces Default per field), Logical.hs:552-556 (Reversed flips compare),
Encoding.hs:88-104 + Serial/Binary/Table.hs:34-35,85-95 (UTF-8 validation
on both paths), Striped.hs:572-591 (map sortedness/dups on decode),
Encoding.hs:57-63 + Time.hs:104-116 (1600-03-01 epoch encodings).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from zebra_spark.codec.blocks import (
    ZEBRA_EPOCH_OFFSET_DAYS,
    StripedMapDuplicateKeys,
    StripedMapNotSorted,
    annotate_zebra_encodings,
    decode_batch,
    encode_batch,
)
from zebra_spark.operators.merge import (
    deny_default,
    is_reversed,
    reversed_field,
    schema_union,
    sort_exprs,
    transmute,
)


# --- per-node Default -------------------------------------------------------


def test_transmute_per_field_deny(spark):
    df = spark.createDataFrame([(1,)], "a long")
    target = T.StructType(
        [
            T.StructField("a", T.LongType()),
            deny_default(T.StructField("b", T.StringType())),
        ]
    )
    with pytest.raises(ValueError, match="DenyDefault"):
        transmute(df, target)
    # explicit per-column override wins over metadata
    out = transmute(df, target, allow_default={"b": True})
    assert out.collect()[0]["b"] == ""


def test_transmute_table_flag_still_works(spark):
    df = spark.createDataFrame([(1,)], "a long")
    target = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.LongType())]
    )
    assert transmute(df, target).collect()[0]["b"] == 0
    with pytest.raises(ValueError, match="DenyDefault"):
        transmute(df, target, allow_default=False)


def test_schema_union_deny_default_field_missing():
    a = T.StructType([T.StructField("k", T.LongType())])
    b = T.StructType(
        [
            T.StructField("k", T.LongType()),
            deny_default(T.StructField("v", T.LongType())),
        ]
    )
    with pytest.raises(ValueError, match="DenyDefault"):
        schema_union(a, b)
    with pytest.raises(ValueError, match="DenyDefault"):
        schema_union(b, a)


# --- Reversed ---------------------------------------------------------------


def test_reversed_metadata_and_sort_exprs(spark):
    schema = T.StructType(
        [
            T.StructField("time", T.LongType()),
            reversed_field(T.StructField("factset_id", T.LongType())),
        ]
    )
    assert not is_reversed(schema["time"]) and is_reversed(schema["factset_id"])
    df = spark.createDataFrame(
        [(10, 1, "old"), (10, 3, "new"), (10, 2, "mid"), (20, 1, "x")],
        "time long, factset_id long, v string",
    )
    # factset-style 'latest wins': Reversed key sorts descending, so the
    # first row per time is the newest factset (Factset/Data.hs:87-89)
    out = df.orderBy(*sort_exprs(schema, ["time", "factset_id"])).collect()
    assert [r["v"] for r in out] == ["new", "mid", "old", "x"]


def test_schema_union_reversed_mismatch():
    a = T.StructType([reversed_field(T.StructField("k", T.LongType()))])
    b = T.StructType([T.StructField("k", T.LongType())])
    with pytest.raises(ValueError, match="Reversed"):
        schema_union(a, b)


# --- UTF-8 validation -------------------------------------------------------


def test_utf8_validated_on_decode():
    """A block whose bytes are not valid UTF-8 must refuse to decode as a
    string column (zebra rejects invalid Utf8 on decode, Table.hs:85-95).
    The arrow binary->utf8 cast enforces this; pin it."""
    rb = pa.RecordBatch.from_arrays(
        [pa.array([b"ok", b"\xff\xfe\x01"], type=pa.binary())], names=["b"]
    )
    payload, _ = encode_batch(rb)
    # same wire bytes, decoded with a Utf8 claim
    str_schema = pa.schema([("b", pa.string())])
    with pytest.raises(pa.ArrowInvalid):
        decode_batch(payload, str_schema)
    # decoded as binary it round-trips untouched
    out = decode_batch(payload, rb.schema)
    assert out.equals(rb)


# --- map invariants on decode ------------------------------------------------


def _map_batch(keys_per_row):
    offsets = [0]
    flat_k, flat_v = [], []
    for ks in keys_per_row:
        flat_k.extend(ks)
        flat_v.extend(range(len(ks)))
        offsets.append(len(flat_k))
    m = pa.MapArray.from_arrays(
        pa.array(offsets, pa.int32()),
        pa.array(flat_k, pa.string()),
        pa.array(flat_v, pa.int64()),
    )
    return pa.RecordBatch.from_arrays([m], names=["m"])


def test_map_sorted_passes_validation():
    rb = _map_batch([["a", "b"], ["x"], []])
    payload, _ = encode_batch(rb)
    out = decode_batch(payload, rb.schema, validate_maps=True)
    assert out.equals(rb)


def test_map_not_sorted_raises():
    rb = _map_batch([["b", "a"]])
    payload, _ = encode_batch(rb)
    with pytest.raises(StripedMapNotSorted):
        decode_batch(payload, rb.schema, validate_maps=True)
    # opt-out still round-trips (Spark maps have no ordering invariant)
    assert decode_batch(payload, rb.schema).equals(rb)


def test_map_duplicate_keys_raises():
    rb = _map_batch([["a", "a"]])
    payload, _ = encode_batch(rb)
    with pytest.raises(StripedMapDuplicateKeys):
        decode_batch(payload, rb.schema, validate_maps=True)


def test_map_cross_row_boundary_not_flagged():
    """Last key of row i may exceed first key of row i+1 — only WITHIN-row
    ordering is zebra's invariant."""
    rb = _map_batch([["y", "z"], ["a", "b"]])
    payload, _ = encode_batch(rb)
    out = decode_batch(payload, rb.schema, validate_maps=True)
    assert out.equals(rb)


# --- Date/Time encoding metadata ---------------------------------------------


def test_zebra_encoding_tags_golden():
    """Golden pin of the logical-encoding metadata (Encoding.hs:57-63)."""
    import datetime as dt

    assert (dt.date(1970, 1, 1) - dt.date(1600, 3, 1)).days == ZEBRA_EPOCH_OFFSET_DAYS
    schema = pa.schema(
        [
            ("d", pa.date32()),
            ("ts", pa.timestamp("us")),
            ("tms", pa.timestamp("ms")),
            ("i", pa.int64()),
            ("s", pa.string()),
            ("f", pa.float64()),
        ]
    )
    ann = annotate_zebra_encodings(schema)
    md = {f.name: (f.metadata or {}) for f in ann}
    assert md["d"][b"zebra.encoding"] == b"date"
    assert md["d"][b"zebra.epoch"] == b"1600-03-01"
    assert md["d"][b"zebra.epoch_offset_days"] == b"135080"
    assert md["ts"][b"zebra.encoding"] == b"time_microseconds"
    assert md["tms"][b"zebra.encoding"] == b"time_milliseconds"
    assert md["i"][b"zebra.encoding"] == b"int"
    assert b"zebra.epoch" not in md["i"]
    assert b"zebra.encoding" not in md["s"]
    assert b"zebra.encoding" not in md["f"]


def test_encoded_blocks_carry_encoding_metadata(spark):
    from zebra_spark.operators.encode import encode_df

    df = spark.createDataFrame(
        [(1, "2020-05-04")], "k long, d string"
    ).select("k", F.col("d").cast("date").alias("d"))
    blocks = encode_df(df, rows_per_block=16)
    schema_bytes = blocks.filter(F.col("schema").isNotNull()).select("schema").head()[0]
    got = pa.ipc.read_schema(pa.py_buffer(schema_bytes))
    assert got.field("d").metadata[b"zebra.encoding"] == b"date"
    assert got.field("k").metadata[b"zebra.encoding"] == b"int"


# --- self-describing block rows ----------------------------------------------


def test_every_block_row_carries_schema_bytes(spark, tmp_path):
    """Every block row carries schema_id and the same non-NULL schema
    bytes, so a stored, shuffled blocks table decodes with no flag."""
    from zebra_spark.operators.decode import decode_df
    from zebra_spark.operators.encode import encode_df

    df = spark.range(0, 2000, 1, 2).selectExpr("id AS k", "id * 2 AS v")
    blocks = encode_df(df, rows_per_block=100).cache()
    n_blocks = blocks.count()
    assert n_blocks >= 20
    assert blocks.filter(
        F.col("schema_id").isNull() | F.col("schema").isNull()
    ).count() == 0
    assert blocks.select("schema_id", "schema").distinct().count() == 1
    rt = decode_df(blocks, schema=df.schema)
    assert rt.exceptAll(df).count() == 0 and df.exceptAll(rt).count() == 0
    p = str(tmp_path / "blocks_pq")
    blocks.write.parquet(p)
    stored = spark.read.parquet(p).repartition(8)  # deliberately reorder
    for rt2 in (decode_df(stored), decode_df(stored, schema=df.schema)):
        assert rt2.exceptAll(df).count() == 0 and df.exceptAll(rt2).count() == 0
    blocks.unpersist()
