"""Merge / transmute / summary / checkpoint laws.

Mirrors zebra-core/test/Test/Zebra/Merge/Table.hs:
* union with empty input = identity (:105-122)
* streaming union == naive in-memory merge oracle (:124-135)
* max-row-size output is a submap of the uncapped output (:164-177)
plus transmute expansion laws (Test/Zebra/Table/Striped.hs:133-180) and
the FIXTURES.md F5 resume-from-checkpoint requirement.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from zebra_spark.operators.checkpoint import (
    checkpointed_encode,
    committed_units,
    read_checkpointed_blocks,
)
from zebra_spark.operators.decode import decode_df
from zebra_spark.operators.encode import encode_df
from zebra_spark.operators.merge import (
    merge_tables,
    schema_union,
    transmute,
    union_tables,
)
from zebra_spark.plans.summary import blocks_summary, consistency_check
from zebra_spark.sources.synth import f1_table


def test_transmute_fills_defaults(spark):
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    target = T.StructType.fromDDL("k long, s string, extra array<int>, d double")
    out = transmute(df, target).collect()[0]
    assert out["extra"] == [] and out["d"] == 0.0


def test_transmute_deny_default_raises(spark):
    df = spark.createDataFrame([(1,)], "k long")
    target = T.StructType.fromDDL("k long, missing string")
    with pytest.raises(ValueError, match="DenyDefault"):
        transmute(df, target, allow_default=False)


def test_transmute_rejects_extra_columns(spark):
    df = spark.createDataFrame([(1, "x")], "k long, junk string")
    with pytest.raises(ValueError, match="not in target"):
        transmute(df, T.StructType.fromDDL("k long"))


def test_schema_union_conflict():
    a = T.StructType.fromDDL("k long, v string")
    b = T.StructType.fromDDL("k long, v double")
    with pytest.raises(ValueError, match="incompatible"):
        schema_union(a, b)


def test_union_with_empty_is_identity(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    empty = spark.createDataFrame([], "k long, s string")
    out = union_tables([df, empty])
    assert sorted(r["k"] for r in out.collect()) == [1, 2]


def test_merge_matches_naive_oracle(spark):
    a = spark.createDataFrame(
        [(1, [1, 2], "x"), (2, [3], "y")], "k long, arr array<int>, s string"
    )
    b = spark.createDataFrame(
        [(2, [4, 5], "z"), (3, [6], "w")], "k long, arr array<int>, s string"
    )
    merged, dropped = merge_tables([a, b], ["k"])
    rows = {r["k"]: r for r in merged.collect()}
    # zebra merge: arrays concat in input order, strings concat
    assert rows[1]["arr"] == [1, 2] and rows[1]["s"] == "x"
    assert rows[2]["arr"] == [3, 4, 5] and rows[2]["s"] == "yz"
    assert rows[3]["arr"] == [6] and rows[3]["s"] == "w"
    assert dropped.count() == 0


def test_merge_scalar_collision_raises(spark):
    a = spark.createDataFrame([(1, 10)], "k long, v long")
    b = spark.createDataFrame([(1, 20)], "k long, v long")
    merged, _ = merge_tables([a, b], ["k"])
    with pytest.raises(Exception, match="collision"):
        merged.collect()


def test_merge_scalar_same_value_ok(spark):
    a = spark.createDataFrame([(1, 10)], "k long, v long")
    b = spark.createDataFrame([(1, 10)], "k long, v long")
    merged, _ = merge_tables([a, b], ["k"])
    assert merged.collect()[0]["v"] == 10


def test_merge_widening_schemas(spark):
    a = spark.createDataFrame([(1, [1])], "k long, arr array<int>")
    b = spark.createDataFrame([(1, "s")], "k long, extra string")
    merged, _ = merge_tables([a, b], ["k"])
    row = merged.collect()[0]
    assert row["arr"] == [1] and row["extra"] == "s"


def test_max_row_size_cap_is_submap(spark):
    a = spark.createDataFrame(
        [(1, list(range(100))), (2, [1])], "k long, arr array<int>"
    )
    b = spark.createDataFrame(
        [(1, list(range(100))), (3, [2])], "k long, arr array<int>"
    )
    uncapped, _ = merge_tables([a, b], ["k"])
    capped, dropped = merge_tables([a, b], ["k"], max_row_bytes=200)
    kept_keys = {r["k"] for r in capped.collect()}
    all_keys = {r["k"] for r in uncapped.collect()}
    assert kept_keys <= all_keys
    assert {r["k"] for r in dropped.collect()} == {1}
    # capped rows equal their uncapped counterparts
    for r in capped.collect():
        match = [u for u in uncapped.collect() if u["k"] == r["k"]][0]
        assert match["arr"] == r["arr"]


def test_negative_cap_drops_everything(spark):
    a = spark.createDataFrame([(1, [1])], "k long, arr array<int>")
    capped, dropped = merge_tables([a], ["k"], max_row_bytes=-1)
    assert capped.count() == 0 and dropped.count() == 1


def test_blocks_summary_and_consistency(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    blocks = encode_df(
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        rows_per_block=128,
        key_col="k",
    ).cache()
    s = blocks_summary(blocks).collect()[0]
    assert s["total_rows"] == 1000 and s["n_blocks"] >= 4
    assert s["max_rows_per_block"] <= 128
    # range-partitioned + sorted blocks: string-keyed ranges overlap lexically
    # ("999" < "99"), so check with numeric casts
    viol = consistency_check(
        blocks.withColumn("key_min", F.col("key_min").cast("long")).withColumn(
            "key_max", F.col("key_max").cast("long")
        )
    )
    assert viol.count() == 0


def test_checkpoint_resume_bit_identical(spark, tmp_path):
    df = f1_table(spark, 1200, partitions=2, rows_per_batch=512).cache()
    out_fail = str(tmp_path / "ckpt_fail")
    out_clean = str(tmp_path / "ckpt_clean")

    with pytest.raises(RuntimeError, match="injected"):
        checkpointed_encode(
            spark, df, out_fail, ["doc_id"], n_units=4, rows_per_block=256,
            fail_after_units=2,
        )
    assert len(committed_units(out_fail)) == 2
    # resume: only the missing units are encoded
    resumed = checkpointed_encode(
        spark, df, out_fail, ["doc_id"], n_units=4, rows_per_block=256
    )
    assert len(resumed) == 2
    checkpointed_encode(
        spark, df, out_clean, ["doc_id"], n_units=4, rows_per_block=256
    )
    a = decode_df(read_checkpointed_blocks(spark, out_fail), schema=df.schema)
    b = decode_df(read_checkpointed_blocks(spark, out_clean), schema=df.schema)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == 1200


def test_merge_map_union(spark):
    """zebra Logical.merge unions maps recursively (Logical.hs:260-261);
    first writer wins on key collisions (zebra errors on scalar collision
    inside values; at the map level we keep the earlier entry)."""
    a = spark.createDataFrame([(1, {"x": 1, "y": 2})], "k long, m map<string,bigint>")
    b = spark.createDataFrame([(1, {"y": 99, "z": 3}), (2, {"q": 7})], "k long, m map<string,bigint>")
    merged, _ = merge_tables([a, b], ["k"])
    rows = {r["k"]: dict(r["m"]) for r in merged.collect()}
    assert rows[1] == {"x": 1, "y": 2, "z": 3}
    assert rows[2] == {"q": 7}


def test_rechunk_preserves_rows(spark):
    """Striped.rechunk law: re-chunking preserves the concatenated rows
    (Test/Zebra/Table/Striped.hs:83-100)."""
    from zebra_spark.operators.rechunk import rechunk_blocks

    df = f1_table(spark, 1500, partitions=3, rows_per_batch=256).cache()
    small = encode_df(df, rows_per_block=64).cache()
    big = rechunk_blocks(small.coalesce(1), rows_per_block=512,
                         schema=df.schema).cache()
    assert big.count() < small.count()
    assert big.agg({"n_rows": "max"}).collect()[0][0] <= 512
    out = decode_df(big, schema=df.schema)
    assert df.exceptAll(out).count() == 0 and out.exceptAll(df).count() == 0


def test_merge_binary_concat_preserves_bytes(spark):
    """zebra Binary merge = byte concatenation (Logical.hs:254-255); the
    merged column must stay BinaryType and non-UTF8 bytes must survive."""
    a = spark.createDataFrame([(1, b"\xff\xfe\x01")], "k long, blob binary")
    b = spark.createDataFrame([(1, b"\x00\x80"), (2, b"\x7f")], "k long, blob binary")
    merged, _ = merge_tables([a, b], ["k"])
    assert dict(merged.dtypes)["blob"] == "binary"
    rows = {r["k"]: bytes(r["blob"]) for r in merged.collect()}
    assert rows[1] == b"\xff\xfe\x01\x00\x80"
    assert rows[2] == b"\x7f"


def test_merge_null_scalar_is_deterministic(spark):
    """NULL-vs-value on a scalar is not a collision: the non-null value wins
    deterministically (first ignorenulls), regardless of shuffle order."""
    a = spark.createDataFrame([(1, None), (2, 5)], "k long, v long")
    b = spark.createDataFrame([(1, 7), (2, None)], "k long, v long")
    for _ in range(3):
        merged, _ = merge_tables([b, a], ["k"])
        rows = {r["k"]: r["v"] for r in merged.collect()}
        assert rows == {1: 7, 2: 5}


def test_key_str_total_order():
    """Block key strings preserve full int64 order (incl. negatives)."""
    import random

    from zebra_spark.operators.encode import _key_str

    rng = random.Random(13)
    vals = [rng.randint(-(2**63), 2**63 - 1) for _ in range(5000)]
    vals += [0, -1, 1, -(2**63), 2**63 - 1]
    assert sorted(vals) == sorted(vals, key=_key_str)
    assert int(_key_str(42)) == 42  # non-negatives CAST back exactly


def test_logical_size_exact(spark):
    """Exact Logical.size pins (Logical.hs:221-247): scalar 8, bool 16
    (enum of units), string/binary = byte length, array sums elements,
    map sums key+value, enum = 8 + selected variant."""
    from zebra_spark.operators.merge import _size_value

    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(7, 1.5, True, "héllo", b"xyz", [10, 20, 30], ["ab", "c"], {"k": 1})],
        "i long, d double, b boolean, s string, bin binary, "
        "ai array<long>, as array<string>, m map<string,long>",
    )
    exprs = {
        f.name: _size_value(F.col(f.name), f.dataType, f.metadata)
        for f in df.schema.fields
    }
    row = df.select(*[v.alias(k) for k, v in exprs.items()]).collect()[0]
    assert row["i"] == 8 and row["d"] == 8 and row["b"] == 16
    assert row["s"] == 6  # é is 2 bytes in UTF-8
    assert row["bin"] == 3
    assert row["ai"] == 24  # 3 * 8
    assert row["as"] == 3  # "ab" + "c"
    assert row["m"] == 9  # key "k"(1) + value 8
    # enum: 8 + selected variant (unit selected -> 8 + 8)
    enum_t = T.StructType([
        T.StructField("tag", T.LongType(), False),
        T.StructField("v_some", T.StringType(), False),
    ])
    edf = spark.createDataFrame(
        [((0, ""),), ((1, "abcd"),)], T.StructType([T.StructField("e", enum_t)])
    )
    md = {"zebra.enum": '[["none", true], ["some", false]]'}
    sizes = [
        r[0]
        for r in edf.select(_size_value(F.col("e"), enum_t, md)).collect()
    ]
    assert sizes == [16, 12]  # none: 8+8 (unit); some: 8 + 4 bytes


def test_logical_size_enum_inside_array(spark):
    """r3 ADVICE regression: an enum WITH unit variants nested inside a
    collection has no outer-field metadata slot, so its layout rides the
    tag field (enum_schema attaches it); _size_value must honor it —
    shape inference alone would misread tag indices and sizes."""
    from pyspark.sql import types as T

    from zebra_spark.functions.enums import UNIT, enum_schema
    from zebra_spark.operators.merge import _size_value

    enum_t = enum_schema([("none", UNIT), ("some", T.StringType())])
    # tag metadata carries the layout (unit variant present)
    assert (enum_t["tag"].metadata or {}).get("zebra.enum")
    arr_t = T.ArrayType(enum_t, False)
    df = spark.createDataFrame(
        [([(0, ""), (1, "abcd")],)],
        T.StructType([T.StructField("a", arr_t, False)]),
    )
    got = df.select(
        _size_value(F.col("a"), arr_t, None).alias("sz")
    ).collect()[0]["sz"]
    # none: 8+8 (unit counts 8); some: 8+4 -> total 28.  Shape inference
    # (no unit variants) would score tag0 as selecting v_some ("") = 8+0
    # and tag1 out of range -> wrong total.
    assert got == 28


def test_grouped_encode_metadata_decode_without_schema(spark):
    """r3 ADVICE regression (high): grouped encode drops group_col from
    encoded batches, so the stored zebra.spark_schema must drop it too —
    decode_df WITHOUT an explicit schema crashed on any metadata-bearing
    grouped encode (the checkpointed_encode + enum/date case)."""
    from pyspark.sql import types as T

    from zebra_spark.functions.enums import option_to_enum
    from zebra_spark.operators.decode import decode_df
    from zebra_spark.operators.encode import encode_df

    df = spark.range(200).select(
        F.col("id"),
        option_to_enum(
            F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(F.col("id")),
            T.LongType(),
        ).alias("opt"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int"))
        .alias("d", metadata={"zebra.encoding": "date"}),
        (F.col("id") % 4).cast("int").alias("__unit"),
    )
    blocks = encode_df(df, rows_per_block=32, group_col="__unit")
    rt = decode_df(blocks)  # stored-schema path: must exclude __unit
    assert [f.name for f in rt.schema.fields] == ["id", "opt", "d"]
    want = df.drop("__unit")
    assert rt.exceptAll(want).count() == 0 and want.exceptAll(rt).count() == 0


def test_checkpointed_encode_carries_zone_maps_and_blooms(spark, tmp_path):
    """The production entrypoint's blocks carry the read-path skip
    structures (r6): key_col zone maps + opt-in Bloom filters survive the
    partitionBy(unit) write, and a stored-blocks point lookup skips."""
    from pyspark.sql import functions as F

    from zebra_spark.operators.decode import bloom_filter_blocks

    df = f1_table(spark, 800, partitions=2, rows_per_batch=256).cache()
    out = str(tmp_path / "ckpt_zm")
    checkpointed_encode(
        spark, df, out, ["doc_id"], n_units=3, rows_per_block=128,
        key_col="doc_id", key_bloom=True,
    )
    blocks = read_checkpointed_blocks(spark, out)
    assert blocks.filter(F.col("key_min").isNull()).count() == 0
    assert blocks.filter(F.col("key_bloom").isNull()).count() == 0
    target = df.select("doc_id").head()[0]  # string key (F1 doc ids)
    kept = bloom_filter_blocks(blocks, target)
    assert 0 < kept.count() < blocks.count()
    got = decode_df(blocks, schema=df.schema, key_equals=target).filter(
        F.col("doc_id") == target
    )
    assert got.count() == df.filter(F.col("doc_id") == target).count()
