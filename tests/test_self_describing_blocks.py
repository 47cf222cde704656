"""Self-describing block rows: a stored blocks table decodes, verifies and
rechunks after any split or shuffle, and a table written before every row
carried its schema decodes exactly or fails with a typed error."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from zebra_spark.operators.decode import decode_df
from zebra_spark.operators.encode import encode_df


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _table(spark):
    """4,000 rows in one partition: one encode task, 40 blocks of 100."""
    return spark.range(0, 4000, 1, 1).selectExpr(
        "id AS k",
        "CAST(id % 97 AS STRING) AS s",
        "sequence(id % 5, id % 5 + id % 3) AS xs",
    )


def _stored(spark, blocks, path):
    blocks.write.parquet(path)
    return spark.read.parquet(path)


def test_split_table_verifies_rechunks_and_counts(spark, tmp_path):
    from zebra_spark.operators.rechunk import rechunk_blocks
    from zebra_spark.operators.verify import verify_blocks
    from zebra_spark.plans.summary import binary_block_byte_counts

    df = _table(spark)
    stored = _stored(
        spark, encode_df(df, rows_per_block=100), str(tmp_path / "blocks")
    ).repartition(4)
    report = verify_blocks(stored).collect()
    assert len(report) == 40
    assert all(
        r["crc_ok"] and r["decode_ok"] and r["reencode_ok"] for r in report
    ), [r["error"] for r in report if not r["decode_ok"]][:3]
    assert _same_rows(decode_df(stored), df)

    rechunked = rechunk_blocks(stored, rows_per_block=400)
    assert _same_rows(decode_df(rechunked), df)

    binary = spark.range(0, 4000, 1, 1).selectExpr(
        "CAST(repeat('z', CAST(id % 11 AS INT)) AS BINARY) AS value"
    )
    bin_stored = _stored(
        spark, encode_df(binary, rows_per_block=100), str(tmp_path / "bin")
    )
    whole = binary_block_byte_counts(bin_stored)
    split = binary_block_byte_counts(bin_stored.repartition(4))
    assert whole.count() == 40
    assert _same_rows(whole, split)


def _legacy(spark, df, path):
    """Blocks as the encoder wrote them before every row carried its
    schema: bytes on the task's first row only, NULL on the rest."""
    blocks = encode_df(df, rows_per_block=100).cache()
    first = blocks.agg(F.min("block_id")).head()[0]
    blocks.withColumn(
        "schema",
        F.when(F.col("block_id") == first, F.col("schema")),
    ).write.parquet(path)
    blocks.unpersist()
    table = spark.read.parquet(path)
    assert table.filter(F.col("schema").isNotNull()).count() == 1
    return table.repartition(4)


def test_legacy_table_decodes_or_raises_typed_error(spark, tmp_path):
    df = _table(spark)
    legacy = _legacy(spark, df, str(tmp_path / "legacy"))
    # the schema head() seeds every task with the one stored schema
    assert _same_rows(decode_df(legacy), df)
    # no head() with schema given: id-only rows fail, never decode wrong
    with pytest.raises(Exception) as err:
        decode_df(legacy, schema=df.schema).collect()
    assert "SchemaBytesMissing" in str(err.value)
    assert "rechunk_blocks" in str(err.value)
