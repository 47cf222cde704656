"""End-to-end Spark laws: encode->decode identity through real plans.

Mirrors the reference's whole-file round-trip tests
(zebra-core/test/Test/Zebra/Serial/Binary/Striped.hs:25-40) at the
DataFrame level: write/read through the blocks table and compare exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zebra_spark.operators.decode import decode_df
from zebra_spark.operators.encode import codec_metrics, encode_df
from zebra_spark.sources.synth import f1_table


def assert_df_equal(a, b):
    assert a.schema == b.schema, f"{a.schema} != {b.schema}"
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_f1_roundtrip_through_spark(spark):
    df = f1_table(spark, 3000, partitions=4, rows_per_batch=1 << 10).cache()
    blocks = encode_df(df, rows_per_block=512)
    dec = decode_df(blocks, schema=df.schema)
    assert_df_equal(df, dec)


def test_roundtrip_survives_parquet_blocks_table(spark, tmp_path):
    """Blocks written to parquet and read back still decode bit-identically."""
    df = f1_table(spark, 1000, partitions=2, rows_per_batch=512).cache()
    path = str(tmp_path / "blocks.parquet")
    encode_df(df, rows_per_block=256).write.parquet(path)
    blocks = spark.read.parquet(path)
    dec = decode_df(blocks, schema=df.schema)
    assert_df_equal(df, dec)


def test_real_tables_roundtrip(spark):
    for name in ("lineitem", "events", "embeddings"):
        df = spark.read.parquet(f"/root/testdata/sf0.001/{name}.parquet")
        dec = decode_df(encode_df(df, rows_per_block=2048), schema=df.schema)
        assert_df_equal(df, dec)


def test_parquet_direct_roundtrip(spark, tmp_path):
    """encode_parquet_direct (the split-shipping bench/job path) must
    roundtrip and emit the same per-table totals as encode_df; splits are
    grouped ~4 tasks/core (r5), which must not affect content."""
    from zebra_spark.sources.parquet_direct import encode_parquet_direct

    df = f1_table(spark, 2000, partitions=3, rows_per_batch=1 << 10).cache()
    src = str(tmp_path / "f1src.parquet")
    df.write.parquet(src)
    blocks = encode_parquet_direct(spark, src).cache()
    dec = decode_df(blocks)
    assert_df_equal(df, dec.select(df.columns))
    blocks.unpersist()


def test_salted_encode_roundtrip(spark):
    df = f1_table(spark, 2000, partitions=2, rows_per_batch=1 << 10).cache()
    blocks = encode_df(df, rows_per_block=512, salt_col="source", salt_buckets=4)
    dec = decode_df(blocks, schema=df.schema)
    assert_df_equal(df, dec)


def test_codec_metrics_shape(spark):
    df = f1_table(spark, 1000, partitions=2, rows_per_batch=512)
    m = codec_metrics(encode_df(df, rows_per_block=512))
    rows = m.collect()
    assert len(rows) > 0
    cols = {r["column"] for r in rows}
    assert {"doc_id", "tokens#len", "tokens.item", "n_tok", "source"} <= cols
    for r in rows:
        assert r["stats"]["bytes"] <= r["stats"]["zebra_bytes"]


def test_compression_bound_and_ratio(spark):
    df = f1_table(spark, 4000, partitions=2, rows_per_batch=1 << 11)
    agg = (
        encode_df(df, rows_per_block=1 << 11)
        .groupBy()
        .agg(
            F.sum("enc_bytes").alias("enc"),
            F.sum("zebra_bytes").alias("zebra"),
            F.sum("raw_bytes").alias("raw"),
        )
        .collect()[0]
    )
    # selector must stay within the reference bound (+ tiny per-block framing)
    assert agg["enc"] <= agg["zebra"] * 1.01
    assert agg["enc"] < agg["raw"]


def test_crc_detects_corruption(spark):
    df = f1_table(spark, 500, partitions=1, rows_per_batch=512)
    blocks = encode_df(df, rows_per_block=512).withColumn(
        "payload", F.expr("concat(substring(payload, 1, 100), X'FF', substring(payload, 102, length(payload)))")
    )
    with pytest.raises(Exception):
        decode_df(blocks, schema=df.schema).count()


def test_determinism_across_parallelism(spark):
    """Same (rows, seed, rows_per_batch) at different partitions -> same data."""
    a = f1_table(spark, 2000, partitions=2, rows_per_batch=512)
    b = f1_table(spark, 2000, partitions=7, rows_per_batch=512)
    assert_df_equal(a, b)


def test_verify_blocks_audit(spark, tmp_path):
    """Audit pass: healthy blocks all-green; corrupted block flagged not
    fatal, in the DataFrame and when stored and read back bare."""
    from zebra_spark.operators.verify import verify_blocks

    df = f1_table(spark, 1000, partitions=2, rows_per_batch=512).cache()
    blocks = encode_df(df, rows_per_block=256).cache()
    report = verify_blocks(blocks).collect()
    assert len(report) == blocks.count()
    assert all(r["crc_ok"] and r["decode_ok"] and r["reencode_ok"] for r in report)

    # corrupt one block's payload (keep crc stale) -> flagged, job survives.
    # Truncation is GUARANTEED to change the bytes (r5: an overwrite with
    # X'00' silently matched when the payload already had 0x00 there)
    corrupted = blocks.withColumn(
        "payload",
        F.when(
            F.col("block_id") == blocks.head()["block_id"],
            F.expr("substring(payload, 1, length(payload) - 7)"),
        ).otherwise(F.col("payload")),
    )
    path = str(tmp_path / "corrupted")
    corrupted.write.parquet(path)
    for table in (corrupted, spark.read.parquet(path)):
        rep = {r["block_id"]: r for r in verify_blocks(table).collect()}
        assert len(rep) == len(report)
        bad = rep.pop(blocks.head()["block_id"])
        assert not bad["crc_ok"] and not bad["decode_ok"]
        assert all(r["crc_ok"] and r["decode_ok"] for r in rep.values())


def test_salting_spreads_skewed_source(spark):
    """North rule: explicit salting for source-key skew.  source='web' is
    ~55% of rows; salted repartition must spread it over many partitions
    while unsalted hash partitioning concentrates it in one."""
    df = f1_table(spark, 6000, partitions=4, rows_per_batch=1024).cache()

    def web_partition_spread(frame):
        counts = (
            frame.withColumn("pid", F.spark_partition_id())
            .filter(F.col("source") == "web")
            .groupBy("pid")
            .count()
            .collect()
        )
        return len(counts), max(r["count"] for r in counts)

    plain = df.repartition(8, F.col("source"))
    n_plain, max_plain = web_partition_spread(plain)
    salted = df.repartition(
        8, F.col("source"), F.pmod(F.xxhash64(*df.columns), F.lit(8))
    )
    n_salted, max_salted = web_partition_spread(salted)
    assert n_plain == 1  # all of 'web' lands in a single partition
    assert n_salted >= 4  # salt spreads the hot key
    assert max_salted < max_plain / 2


def test_zone_map_block_skipping(spark):
    """decode_df(key_range=...) must skip blocks whose zone maps miss the
    range (fewer blocks decoded than stored) while still returning every
    in-range row exactly; blocks encoded without a key_col (NULL zone
    maps) are never skipped."""
    from zebra_spark.operators.decode import zone_map_filter

    df = (
        f1_table(spark, 2000, partitions=4, rows_per_batch=256)
        .select("doc_id", "n_tok", "source")
        .withColumn("k", F.abs(F.xxhash64("doc_id")) % 100000)
        .orderBy("k")
        .cache()
    )
    blocks = encode_df(df, rows_per_block=128, key_col="k").localCheckpoint()
    total = blocks.count()
    lo, hi = 20000, 30000
    kept = zone_map_filter(blocks, (lo, hi)).count()
    assert 0 < kept < total  # blocks actually skipped

    got = (
        decode_df(blocks, schema=df.schema, key_range=(lo, hi))
        .filter(F.col("k").between(lo, hi))
        .cache()
    )
    want = df.filter(F.col("k").between(lo, hi))
    assert_df_equal(want, got)

    # surviving blocks only: rows decoded < rows stored
    n_decoded = decode_df(blocks, schema=df.schema, key_range=(lo, hi)).count()
    assert want.count() <= n_decoded < df.count()

    # open-ended bounds
    upper = decode_df(blocks, schema=df.schema, key_range=(None, hi))
    assert upper.filter(F.col("k") <= hi).count() == df.filter(F.col("k") <= hi).count()

    # no key_col at encode -> NULL zone maps -> nothing is skipped
    nokey = encode_df(df, rows_per_block=128).localCheckpoint()
    assert zone_map_filter(nokey, (lo, hi)).count() == nokey.count()


def test_zone_map_string_keys(spark):
    """Zone maps work for string keys via the natural string order."""
    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "lang", "source")
        .orderBy("source")
        .cache()
    )
    blocks = encode_df(df, rows_per_block=64, key_col="source").localCheckpoint()
    got = (
        decode_df(blocks, schema=df.schema, key_range=("code", "code"))
        .filter(F.col("source") == "code")
    )
    want = df.filter(F.col("source") == "code")
    assert_df_equal(want, got)


def test_float_keys_rejected(spark):
    """r7 (ADVICE): float keys stringify unordered ('10.0' < '2.0'), so
    zone maps built from them silently mis-skip — both the encode-time
    key_col and a decode-time float bound must raise, not lose rows."""
    import pytest

    df = spark.range(0, 256).select(
        (F.col("id") * 0.5).alias("fkey"), F.col("id").alias("v")
    )
    with pytest.raises(Exception, match="key_col|float"):
        encode_df(df, rows_per_block=64, key_col="fkey").count()
    good = encode_df(
        spark.range(0, 256).select(F.col("id").alias("k"), F.col("id").alias("v")),
        rows_per_block=64,
        key_col="k",
    ).localCheckpoint()
    with pytest.raises(TypeError, match="float"):
        decode_df(good, key_range=(0.5, 10.5)).count()
    # int/string bounds still work
    assert decode_df(good, key_range=(0, 63)).count() >= 64


def test_encode_metrics_direct_matches_full_encode(spark, tmp_path):
    """The python-side metric fold (scaling-bench leg / dry-run job) must
    report exactly the totals of the full block encode."""
    from zebra_spark.sources.parquet_direct import (
        encode_metrics_direct,
        encode_parquet_direct,
    )

    df = f1_table(spark, 2000, partitions=4, rows_per_batch=512)
    path = str(tmp_path / "f1.parquet")
    df.write.parquet(path)

    full = (
        encode_parquet_direct(spark, path)
        .groupBy()
        .agg(
            F.sum("n_rows").alias("rows"),
            F.sum("raw_bytes").alias("raw"),
            F.sum("enc_bytes").alias("enc"),
            F.sum("zebra_bytes").alias("zebra"),
        )
        .collect()[0]
    )
    fold = (
        encode_metrics_direct(spark, path)
        .groupBy()
        .agg(
            F.sum("n_rows").alias("rows"),
            F.sum("n_tokens").alias("tok"),
            F.sum("raw_bytes").alias("raw"),
            F.sum("enc_bytes").alias("enc"),
            F.sum("zebra_bytes").alias("zebra"),
        )
        .collect()[0]
    )
    assert fold["rows"] == full["rows"] == 2000
    assert fold["raw"] == full["raw"]
    assert fold["zebra"] == full["zebra"]
    # an encode is a pure function of (block rows, policy), so two jobs in
    # one session produce the same bytes, whatever the reused python
    # workers encoded before
    assert fold["enc"] == full["enc"]
    assert fold["enc"] <= fold["zebra"]
    assert fold["tok"] == df.agg(F.sum("n_tok")).collect()[0][0]


def test_encode_metrics_direct_counts_null_n_tok_as_zero(spark, tmp_path):
    """A NULL n_tok adds no tokens to the fold (it used to turn the sum
    into NaN and fail the task)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from zebra_spark.sources.parquet_direct import encode_metrics_direct

    path = str(tmp_path / "f1.parquet")
    pq.write_table(
        pa.table({
            "tokens": pa.array([[1, 2, 3], None, [4]], pa.list_(pa.int32())),
            "n_tok": pa.array([3, None, 1], pa.int32()),
        }),
        path,
    )
    row = (
        encode_metrics_direct(spark, path)
        .groupBy()
        .agg(F.sum("n_rows").alias("rows"), F.sum("n_tokens").alias("tok"))
        .collect()[0]
    )
    assert (row["rows"], row["tok"]) == (3, 4)
