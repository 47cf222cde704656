"""decode_df, rechunk_blocks, verify_blocks and binary_block_byte_counts
on a bare stored blocks table read its parquet row groups in Python tasks:
the same rows as the mapInArrow path on every read shape, no parquet scan
in the plan, and every other DataFrame keeps the old path."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from zebra_spark.operators.decode import decode_df
from zebra_spark.operators.encode import encode_df
from zebra_spark.operators.rechunk import rechunk_blocks
from zebra_spark.operators.verify import verify_blocks
from zebra_spark.plans.summary import binary_block_byte_counts


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _via_jvm(table):
    """The same blocks, shaped so decode_df takes the mapInArrow path."""
    return table.repartition(3)


def _plan_nodes(df) -> set[str]:
    """Class names of every node of ``df``'s executed physical plan."""

    def walk(node):
        name = node.getClass().getSimpleName()
        yield name
        if name == "AdaptiveSparkPlanExec":
            yield from walk(node.inputPlan())
            return
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    return set(walk(df._jdf.queryExecution().executedPlan()))


def _rows(spark, lo, hi, parts):
    return spark.range(lo, hi, 1, parts).selectExpr(
        "id AS k",
        "CAST(id % 97 AS STRING) AS s",
        "sequence(id % 5, id % 5 + id % 3) AS xs",
    )


@pytest.fixture(scope="module")
def keyed(spark, tmp_path_factory):
    """Four files of k-keyed blocks with zone maps and Bloom filters (k in
    [0, 1000), [1000, 2000), ...) plus one file of blocks encoded without a
    key (NULL zone maps and filters); 100 rows a block."""
    path = str(tmp_path_factory.mktemp("stored") / "keyed")
    df = _rows(spark, 0, 4000, 4)
    extra = _rows(spark, 4000, 4400, 1)
    encode_df(df, rows_per_block=100, key_col="k", key_bloom=True).union(
        encode_df(extra, rows_per_block=100)
    ).write.parquet(path)
    return spark.read.parquet(path), df.union(extra)


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"columns": ["k", "xs"]},
        {"key_range": (1000, 1499)},
        {"key_range": (None, 1499)},
        {"key_range": (2500, None)},
        {"key_equals": 1234},
        {"key_equals": [5, 3999, 10**9]},
    ],
    ids=["full", "projected", "range", "range-no-lo", "range-no-hi",
         "equals", "equals-list"],
)
def test_direct_read_equals_mapinarrow_read(spark, keyed, kw):
    stored, df = keyed
    direct = decode_df(stored, **kw)
    assert "FileSourceScanExec" not in _plan_nodes(direct)
    jvm = decode_df(_via_jvm(stored), **kw)
    assert "FileSourceScanExec" in _plan_nodes(jvm)
    assert direct.schema == jvm.schema
    assert _same_rows(direct, jvm)
    if not kw:
        assert _same_rows(direct, df)


def test_block_operators_read_stored_tables_directly(spark, keyed, tmp_path):
    stored, df = keyed
    path = str(tmp_path / "binary")
    values = spark.range(0, 2000, 1, 2).selectExpr(
        "CAST(repeat('z', CAST(id % 11 AS INT)) AS BINARY) AS value"
    )
    encode_df(values, rows_per_block=100).write.parquet(path)
    binary = spark.read.parquet(path)
    ops = {
        "rechunk": (stored, lambda t: decode_df(rechunk_blocks(t, 300))),
        "verify": (stored, verify_blocks),
        "bytes": (binary, binary_block_byte_counts),
    }
    out = {}
    for name, (table, op) in ops.items():
        out[name] = op(table)
        assert "FileSourceScanExec" not in _plan_nodes(out[name]), name
        jvm = op(_via_jvm(table))
        assert "FileSourceScanExec" in _plan_nodes(jvm), name
        assert _same_rows(out[name], jvm), name
    assert _same_rows(out["rechunk"], df)
    report = out["verify"].collect()
    assert len(report) == stored.count()
    assert all(r["crc_ok"] and r["decode_ok"] and r["reencode_ok"] for r in report)
    n_bytes = values.selectExpr("sum(length(value))").head()[0]
    assert out["bytes"].groupBy().sum("n_bytes").head()[0] == n_bytes


def test_direct_rechunk_compacts_small_blocks(keyed):
    """Small row groups share a task, so a stored table of many small
    blocks rechunks into fewer, fuller blocks."""
    stored, df = keyed
    out = rechunk_blocks(stored, rows_per_block=400)
    assert "FileSourceScanExec" not in _plan_nodes(out)
    assert out.count() < stored.count()
    assert out.agg(F.max("n_rows")).head()[0] <= 400
    assert _same_rows(decode_df(out), df)


def test_key_range_drops_row_groups_by_statistics(keyed):
    stored, _ = keyed
    # five one-row-group files make one task per core on local[4]
    assert decode_df(stored).rdd.getNumPartitions() == 4
    # [1000, 1499] meets one keyed file; the NULL-zone-map file stays
    assert decode_df(stored, key_range=(1000, 1499)).rdd.getNumPartitions() == 2
    # rows of the NULL-zone-map blocks are never skipped
    assert decode_df(stored, key_range=(10**6, None)).count() == 400


def test_multi_schema_table(spark, tmp_path):
    path = str(tmp_path / "multi")
    a = _rows(spark, 0, 1000, 2)
    # a field comment rides the stored schema: other bytes, another id
    b = _rows(spark, 1000, 2000, 2).withColumn(
        "s", F.col("s").alias("s", metadata={"comment": "mod 97"})
    )
    encode_df(a, rows_per_block=100).union(
        encode_df(b, rows_per_block=100)
    ).write.parquet(path)
    stored = spark.read.parquet(path)
    assert stored.select("schema_id").distinct().count() == 2
    direct = decode_df(stored)
    assert _same_rows(direct, decode_df(_via_jvm(stored)))
    assert _same_rows(direct, a.union(b))


def test_mixed_nullability_table(spark, tmp_path):
    """Blocks whose stored schemas differ only in k's nullability decode
    in one task, on both paths, seeded or with schema given, and
    rechunk.  Each task's batches take k's declared nullability."""
    path = str(tmp_path / "nullability")
    a = spark.range(0, 1000, 1, 1).selectExpr("id AS k")
    b = spark.range(1000, 2000, 1, 1).selectExpr("IF(id < 0, NULL, id) AS k")
    encode_df(a, rows_per_block=100).union(
        encode_df(b, rows_per_block=100)
    ).coalesce(1).write.parquet(path)
    stored = spark.read.parquet(path)
    assert stored.select("schema_id").distinct().count() == 2
    direct = decode_df(stored)
    assert direct.rdd.getNumPartitions() == 1
    one_task = stored.coalesce(1)
    assert "FileSourceScanExec" in _plan_nodes(decode_df(one_task))
    for out in (
        direct,
        decode_df(one_task),
        decode_df(stored, schema=direct.schema),
        decode_df(rechunk_blocks(one_task, rows_per_block=300)),
    ):
        assert _same_rows(out, a.union(b))

    # real NULLs after the non-nullable blocks: the seed declares k
    # non-nullable and the NULL blocks fail closed; a nullable schema=
    # decodes them on both paths
    nulls = spark.range(1000, 2000, 1, 1).selectExpr("IF(id % 7 = 0, NULL, id) AS k")
    path = str(tmp_path / "nulls")
    encode_df(a, rows_per_block=100).union(
        encode_df(nulls, rows_per_block=100)
    ).coalesce(1).write.parquet(path)
    stored = spark.read.parquet(path)
    with pytest.raises(Exception, match="null values to non-nullable"):
        decode_df(stored).collect()
    for table in (stored, stored.coalesce(1)):
        out = decode_df(table, schema=nulls.schema)
        assert out.filter("k IS NULL").count() == 143
        assert _same_rows(out, a.union(nulls))


def test_zero_column_read_counts_every_row(keyed):
    stored, df = keyed
    for table in (stored, _via_jvm(stored)):
        assert decode_df(table, columns=[]).count() == df.count()


def test_legacy_first_row_schema_table(spark, tmp_path):
    from tests.test_self_describing_blocks import _legacy, _table

    df = _table(spark)
    path = str(tmp_path / "legacy")
    repartitioned = _legacy(spark, df, path)
    stored = spark.read.parquet(path)
    direct = decode_df(stored)
    assert "FileSourceScanExec" not in _plan_nodes(direct)
    assert _same_rows(direct, df)
    assert _same_rows(direct, decode_df(repartitioned))
    # with schema given nothing is seeded: the one file is read in order
    # by one task, which parses the schema-bearing first row before the
    # id-only rows (the repartitioned table raises SchemaBytesMissing)
    assert _same_rows(decode_df(stored, schema=df.schema), df)


def _rewrite(src: str, dst: str, column: str, fn) -> None:
    """Copy a stored blocks table with ``fn`` applied to row 0's
    ``column`` value, every other byte as stored."""
    table = pq.read_table(src)
    values = table.column(column).to_pylist()
    values[0] = fn(values[0])
    i = table.schema.get_field_index(column)
    table = table.set_column(
        i, table.schema.field(i), pa.array(values, table.schema.field(i).type)
    )
    pq.write_table(table, dst)


def _tampered(spark, tmp_path, column, fn):
    src = str(tmp_path / "src")
    blocks = encode_df(_rows(spark, 0, 1000, 1), rows_per_block=100)
    blocks.coalesce(1).write.parquet(src)
    (tmp_path / "bad").mkdir()
    _rewrite(src, str(tmp_path / "bad" / "part-0.parquet"), column, fn)
    stored = spark.read.parquet(str(tmp_path / "bad"))
    first = pq.read_table(str(tmp_path / "bad"), columns=["block_id"]).column(0)[0]
    return stored, first.as_py()


def test_crc_catches_flipped_payload_byte(spark, tmp_path):
    def flip(payload: bytes) -> bytes:
        b = bytearray(payload)
        b[len(b) // 2] ^= 0x01
        return bytes(b)

    stored, block = _tampered(spark, tmp_path, "payload", flip)
    for table in (stored, _via_jvm(stored)):
        with pytest.raises(Exception, match=f"crc mismatch in block {block}"):
            decode_df(table).collect()


def test_row_count_mismatch_fails_closed(spark, tmp_path):
    stored, block = _tampered(spark, tmp_path, "n_rows", lambda n: n + 1)
    for table in (stored, _via_jvm(stored)):
        with pytest.raises(Exception, match=f"block {block} decodes to 100 rows"):
            decode_df(table).collect()
    # a projection that drops n_rows skips the check
    assert decode_df(stored.drop("n_rows")).count() == 1000


def test_other_dataframes_keep_the_mapinarrow_path(spark, keyed, tmp_path):
    from zebra_spark.operators.checkpoint import (
        checkpointed_encode,
        read_checkpointed_blocks,
    )

    stored, _ = keyed
    schema = decode_df(stored).schema
    for table in (
        stored.filter(F.col("n_rows") > 0),
        stored.repartition(2),
        stored.union(stored),
        stored.withColumn("crc32", F.when(F.col("n_rows") > 0, F.col("crc32"))),
    ):
        assert "FileSourceScanExec" in _plan_nodes(decode_df(table, schema=schema))

    out = str(tmp_path / "ckpt")
    df = _rows(spark, 0, 1000, 2)
    checkpointed_encode(spark, df, out, ["k"], n_units=3, rows_per_block=100)
    # the checkpoint directory read as one table is partitioned by unit
    by_unit = spark.read.parquet(out)
    assert "unit" in by_unit.columns
    assert "FileSourceScanExec" in _plan_nodes(decode_df(by_unit))
    # read_checkpointed_blocks lists the committed unit directories as
    # plain paths: a bare file list, read directly, with the same rows
    units = read_checkpointed_blocks(spark, out)
    direct = decode_df(units)
    assert "FileSourceScanExec" not in _plan_nodes(direct)
    assert _same_rows(direct, decode_df(_via_jvm(units)))
    assert _same_rows(direct, df)


def test_lookup_arguments_are_checked_on_the_direct_path(keyed):
    stored, _ = keyed
    with pytest.raises(TypeError, match="float bound"):
        decode_df(stored, key_range=(1.5, None))
    with pytest.raises(ValueError, match="at least one lookup value"):
        decode_df(stored, key_equals=[])
