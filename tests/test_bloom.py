"""Per-block key Bloom filters (codec/bloom.py): no false negatives ever,
bounded false positives, python/SQL probe arithmetic agreement, and
point-lookup block skipping end to end."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from zebra_spark.codec.bloom import (
    BITS_PER_KEY,
    K_HASHES,
    bloom_build,
    bloom_contains,
    bloom_words,
    probe_hashes,
    string_key_to_int64,
)

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@given(st.lists(I64, min_size=1, max_size=300), I64)
@settings(max_examples=150, deadline=None)
def test_no_false_negatives_and_probe_consistency(keys, other):
    words = bloom_build(np.array(keys, dtype=np.int64))
    assert len(words) == bloom_words(len(keys))
    for k in keys:
        assert bloom_contains(words, k)  # a present key is NEVER missed
    # probe hashes stay in the ANSI-safe range
    h1, h2 = probe_hashes(other)
    assert 0 <= h1 < 2**60 and 1 <= h2 < 2**60 and h2 % 2 == 1


def test_false_positive_rate_bounded():
    rng = np.random.default_rng(0)
    keys = rng.integers(-(2**62), 2**62, size=4096)
    words = bloom_build(keys)
    probes = rng.integers(-(2**62), 2**62, size=20000)
    fp = sum(bloom_contains(words, int(p)) for p in probes) / len(probes)
    # k=4 at 8 bits/key -> ~2.4% theoretical; allow slack
    assert fp < 0.06, fp


def test_string_keys_roundtrip():
    keys = [f"doc-{i}" for i in range(500)]
    words = bloom_build(
        np.array([string_key_to_int64(k) for k in keys], dtype=np.int64)
    )
    assert all(bloom_contains(words, k) for k in keys)
    misses = sum(bloom_contains(words, f"nope-{i}") for i in range(2000))
    assert misses < 200


def test_sql_probe_matches_python(spark):
    """The Catalyst membership expression and bloom_contains must agree on
    every probe — same double-hash arithmetic on both sides."""
    from pyspark.sql import functions as F

    from zebra_spark.codec.bloom import bloom_might_contain_expr

    rng = np.random.default_rng(1)
    keys = rng.integers(-(2**62), 2**62, size=777)
    words = bloom_build(keys).view(np.int64).tolist()
    probes = [int(x) for x in rng.integers(-(2**62), 2**62, size=300)] + [
        int(k) for k in keys[:50]
    ]
    df = spark.createDataFrame([(words,), (None,)], "key_bloom array<bigint>")
    for p in probes[:40] + probes[-40:]:
        got = [
            r[0]
            for r in df.select(
                bloom_might_contain_expr(F.col("key_bloom"), p)
            ).collect()
        ]
        assert got[1] is True  # NULL filter never skips
        assert got[0] == bloom_contains(bloom_build(keys), p)


def _sql_probe(stored_words: list[int], value) -> bool:
    """``bloom_might_contain_expr``'s arithmetic, term for term, on one
    filter as the blocks table stores it (signed BIGINT words): pmod by
    the filter's bit count, the word at pos / 64, ``shiftleft(1L, pos %
    64)`` and a bitwise AND."""
    h1, h2 = probe_hashes(value)
    m = len(stored_words) * 64
    for i in range(K_HASHES):
        pos = (h1 + i * h2) % m
        if stored_words[pos // 64] & (1 << (pos % 64)) == 0:
            return False
    return True


def _present_absent(kind: str):
    rng = np.random.default_rng(2)
    if kind == "int":
        present, absent = (
            [int(x) for x in rng.integers(-(2**62), 2**62, size=400)]
            for _ in range(2)
        )
        keys = np.array(present, dtype=np.int64)
    else:
        present = [f"doc-{i}" for i in range(400)]
        absent = [f"nope-{i}" for i in range(400)]
        keys = np.array([string_key_to_int64(k) for k in present], dtype=np.int64)
    return bloom_build(keys).view(np.int64), present, absent


@pytest.mark.parametrize("kind", ["int", "str"])
def test_numpy_probe_on_stored_words_matches_sql_arithmetic(kind):
    """Spark-free: bloom_contains on the int64 words a stored table hands
    the decode tasks agrees with the SQL probe's arithmetic, for present
    and absent keys."""
    stored, present, absent = _present_absent(kind)
    words = stored.tolist()
    assert all(bloom_contains(stored, v) for v in present)
    assert all(_sql_probe(words, v) for v in present)
    got = [bloom_contains(stored, v) for v in absent]
    assert got == [_sql_probe(words, v) for v in absent]
    assert sum(got) < len(absent) // 4  # absent keys are mostly rejected


@pytest.mark.parametrize("kind", ["int", "str"])
def test_sql_probe_matches_numpy_on_present_and_absent_keys(spark, kind):
    """The Catalyst expression and bloom_contains give the same answer on
    present and absent int and string keys."""
    from pyspark.sql import functions as F

    from zebra_spark.codec.bloom import bloom_might_contain_expr

    stored, present, absent = _present_absent(kind)
    probes = present[:30] + absent[:60]
    df = spark.createDataFrame([(stored.tolist(),)], "key_bloom array<bigint>")
    row = df.select(
        *[bloom_might_contain_expr(F.col("key_bloom"), p) for p in probes]
    ).head()
    assert list(row) == [bloom_contains(stored, p) for p in probes]


def test_point_lookup_block_skipping(spark):
    """decode_df(key_equals=...) on an UNSORTED layout: zone maps cannot
    skip (every block covers the whole key domain) but blooms do; result
    is exact after the residual predicate."""
    from pyspark.sql import functions as F

    from zebra_spark.operators.decode import (
        bloom_filter_blocks,
        decode_df,
        zone_map_filter,
    )
    from zebra_spark.operators.encode import encode_df
    from zebra_spark.sources.synth import f1_table

    df = (
        f1_table(spark, 3000, partitions=4, rows_per_batch=512)
        .select("doc_id", "n_tok", "source")
        .withColumn("k", F.xxhash64("doc_id"))  # unsorted, full-domain keys
        .cache()
    )
    blocks = encode_df(
        df, rows_per_block=128, key_col="k", key_bloom=True
    ).localCheckpoint()
    total = blocks.count()
    targets = [r["k"] for r in df.limit(3).collect()]

    # zone maps are useless on this layout...
    assert (
        zone_map_filter(blocks, (min(targets), min(targets))).count() > total * 0.5
    )
    # ...blooms skip almost everything
    kept = bloom_filter_blocks(blocks, targets).count()
    assert kept < total * 0.25

    got = decode_df(blocks, schema=df.schema, key_equals=targets).filter(
        F.col("k").isin(targets)
    )
    want = df.filter(F.col("k").isin(targets))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # no-bloom blocks (opt-in off) are never skipped
    plain = encode_df(df, rows_per_block=128, key_col="k").localCheckpoint()
    assert bloom_filter_blocks(plain, targets).count() == plain.count()


def test_key_bloom_requires_key_col(spark):
    from zebra_spark.operators.encode import encode_df
    from zebra_spark.sources.synth import f1_table

    df = f1_table(spark, 10, partitions=1, rows_per_batch=10)
    with pytest.raises(ValueError, match="requires key_col"):
        encode_df(df, key_bloom=True)


def test_string_key_bloom_end_to_end(spark):
    from pyspark.sql import functions as F

    from zebra_spark.operators.decode import decode_df
    from zebra_spark.operators.encode import encode_df

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    blocks = encode_df(
        docs, rows_per_block=32, key_col="source", key_bloom=True
    ).localCheckpoint()
    got = decode_df(blocks, schema=docs.schema, key_equals="code").filter(
        F.col("source") == "code"
    )
    want = docs.filter(F.col("source") == "code")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


@pytest.mark.parametrize("ktype", ["bigint", "string"])
def test_key_bloom_leaves_null_keys_out(spark, ktype):
    """NULL keys are left out of a block's Bloom filter: encoding int and
    string key columns that hold NULLs succeeds, a block's filter is the
    one its non-NULL keys build, and key_equals still finds a present
    key."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from zebra_spark.operators.decode import decode_df
    from zebra_spark.operators.encode import _key_bloom_words, encode_df

    keys = pa.array([1, None, 3, None], pa.int64()).cast(
        pa.int64() if ktype == "bigint" else pa.string()
    )
    kept = [1, 3] if ktype == "bigint" else [string_key_to_int64(k) for k in ("1", "3")]
    assert np.array_equal(
        _key_bloom_words(keys), bloom_build(np.array(kept, np.int64)).view(np.int64)
    )

    df = spark.range(200).select(
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id")).cast(ktype).alias("k"),
        F.col("id").alias("v"),
    )
    blocks = encode_df(
        df, rows_per_block=16, key_col="k", key_bloom=True
    ).localCheckpoint()
    target = 42 if ktype == "bigint" else "42"
    got = decode_df(blocks, schema=df.schema, key_equals=target).filter(
        F.col("k") == target
    )
    assert [r["v"] for r in got.collect()] == [42]


def test_key_range_and_key_equals_compose(spark):
    """decode_df accepts both skip predicates at once: zone maps drop
    out-of-range blocks, blooms drop non-matching blocks, result exact."""
    from pyspark.sql import functions as F

    from zebra_spark.operators.decode import decode_df
    from zebra_spark.operators.encode import encode_df

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .orderBy("doc_id")
        .cache()
    )
    blocks = encode_df(
        docs, rows_per_block=16, key_col="doc_id", key_bloom=True
    ).localCheckpoint()
    targets = [5, 40, 90]
    got = decode_df(
        blocks,
        schema=docs.schema,
        key_range=(0, 50),  # drops the block holding 90 via zone maps
        key_equals=targets,
    ).filter(F.col("doc_id").isin(targets) & F.col("doc_id").between(0, 50))
    want = docs.filter(F.col("doc_id").isin([5, 40]))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    n_blocks_decoded = decode_df(
        blocks, schema=docs.schema, key_range=(0, 50), key_equals=targets
    ).count()
    assert n_blocks_decoded < docs.count() / 2  # both predicates skipped
