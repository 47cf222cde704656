"""Driver-side task lists: ``session.map_items`` places the item runs its
planner cuts on tasks without a Python RDD or a shuffle, and every
list-driven reader goes through it (encode_parquet_direct,
encode_metrics_direct, read_zebra_files, read_zebra_v2_files,
v3_summary).  The planner's own cases are in test_plan_tasks.py."""

from __future__ import annotations

import os
from typing import Iterator

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from zebra_spark.operators.zfile import (
    open_zebra_stream,
    read_zebra_files,
    write_zebra_files,
)
from zebra_spark.operators.zfile_v2 import read_zebra_v2_files
from zebra_spark.operators.zschema import MAP_TABLE_META
from zebra_spark.plans.summary import v3_summary
from zebra_spark.session import map_items, plan_tasks
from zebra_spark.sources.parquet_direct import (
    encode_metrics_direct,
    encode_parquet_direct,
)

from .test_zfile_v2 import _v2_block, _v2_header


def _echo(items: Iterator[int]) -> Iterator[pa.RecordBatch]:
    yield pa.RecordBatch.from_pydict({"item": pa.array(list(items), pa.int64())})


def _items_by_partition(df, col: str) -> dict[int, list]:
    rows = df.select(col, F.spark_partition_id().alias("pid")).collect()
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(r["pid"], []).append(r[col])
    return out


def _plan(spark, sizes: list[int]) -> list[range]:
    """``plan_tasks`` with the session's own settings, as map_items calls it."""
    conf = spark._jsparkSession.sessionState().conf()
    return plan_tasks(
        sizes,
        spark.sparkContext.defaultParallelism,
        conf.filesOpenCostInBytes(),
        conf.filesMaxPartitionBytes(),
    )


@pytest.mark.parametrize("k,mib", [(5, None), (10, 4), (32, 8), (9, 9)])
def test_map_items_contiguous_runs(spark, k, mib):
    """k items of ``mib`` MiB each (None: zero bytes) on local[4]: one
    task per core, task i holds exactly the planner's run i, in list
    order, and no partition is empty (round-robin over 5 items into 5
    partitions filled only 2)."""
    items = list(range(100, 100 + k))
    sizes = [(mib or 0) << 20] * k
    df = map_items(spark, items, _echo, "item long", sizes)
    plan = _plan(spark, sizes)
    assert df.rdd.getNumPartitions() == len(plan) == 4
    got = _items_by_partition(df, "item")
    assert got == {i: items[r.start:r.stop] for i, r in enumerate(plan)}
    assert all(got.values())
    assert [x for i in sorted(got) for x in got[i]] == items


def test_map_items_fn_called_once_per_task(spark):
    """fn sees the task's whole run in one call (per-task folds rely on
    it), and tasks beyond the item count are never made."""

    def count(items):
        yield pa.RecordBatch.from_pydict({"n": [len(list(items))]})

    rows = map_items(spark, list("abcdefg"), count, "n long", [1] * 7).collect()
    assert sorted(r["n"] for r in rows) == [1, 2, 2, 2]
    assert map_items(spark, list("ab"), count, "n long", [1, 1]).count() == 2


def _write_zfiles(spark, tmp_path, n_files: int, rows_per_file: int):
    df = spark.range(0, n_files * rows_per_file, 1, n_files).selectExpr(
        "id AS k", "concat('v', id) AS name"
    )
    manifest = write_zebra_files(df, str(tmp_path / "z"), rows_per_block=16)
    return sorted(r["path"] for r in manifest.collect())


def _stream_keys(path: str, col: str) -> list:
    with open(path, "rb") as f:
        _, blocks, _ = open_zebra_stream(f)
        return [v for b in blocks for v in b.column(col).to_pylist()]


def test_read_zebra_files_one_file_per_task(spark, tmp_path):
    """Each file is read whole by one task: five files on local[4] make
    four tasks, task i streaming the files of the planner's run i in
    path order."""
    paths = _write_zfiles(spark, tmp_path, 5, 40)
    df = read_zebra_files(spark, paths)
    plan = _plan(spark, [os.path.getsize(p) for p in paths])
    assert df.rdd.getNumPartitions() == len(plan) == 4
    got = _items_by_partition(df, "k")
    assert sorted(got) == [0, 1, 2, 3]
    assert got == {
        i: [k for p in paths[r.start:r.stop] for k in _stream_keys(p, "k")]
        for i, r in enumerate(plan)
    }


def test_read_zebra_v2_files_ordinal_matches_task(spark, tmp_path):
    paths = []
    for i in range(3):
        p = tmp_path / f"f{i}.zebra"
        p.write_bytes(_v2_header() + _v2_block())
        paths.append(str(p))
    df = read_zebra_v2_files(spark, paths, with_ordinal=True)
    got = _items_by_partition(df, "__file")
    assert got == {i: [i, i] for i in range(3)}


def _plan_of(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_list_driven_plans_have_no_shuffle_or_python_rdd(spark, tmp_path):
    src = str(tmp_path / "src.parquet")
    t = pa.table({"a": pa.array(range(3000), pa.int64()),
                  "s": pa.array([f"w{i % 37}" for i in range(3000)])})
    pq.write_table(t, src, row_group_size=1000)
    zpaths = _write_zfiles(spark, tmp_path, 3, 20)
    v2 = tmp_path / "v2.zebra"
    v2.write_bytes(_v2_header() + _v2_block())
    frames = {
        "encode_parquet_direct": encode_parquet_direct(spark, src),
        "encode_metrics_direct": encode_metrics_direct(spark, src),
        "read_zebra_files": read_zebra_files(spark, zpaths),
        "read_zebra_v2_files": read_zebra_v2_files(spark, [str(v2)]),
    }
    for name, df in frames.items():
        plan = _plan_of(df)
        assert "Exchange" not in plan, (name, plan)
        assert "ExistingRDD" not in plan, (name, plan)
        assert "Range" in plan, (name, plan)


def test_v3_summary_scalar_and_map_tables(spark, tmp_path):
    """v3_summary (zs summary over V3 files) agrees with the manifest, with
    read_zebra_files, and with each file's own block stream."""

    def check(paths, manifest_rows: int):
        s = v3_summary(spark, paths)
        sizes = []
        for p in paths:
            with open(p, "rb") as f:
                _, blocks, _ = open_zebra_stream(f)
                sizes.extend(b.num_rows for b in blocks)
        assert s["block_count"] == len(sizes)
        assert s["row_count"] == sum(sizes) == manifest_rows
        assert s["row_count"] == read_zebra_files(spark, paths).count()
        assert s["max_rows_per_block"] == max(sizes)
        return s

    scalar = spark.range(0, 150, 1, 3).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) / 4 AS x", "concat('n', id) AS name"
    )
    m = write_zebra_files(
        scalar, str(tmp_path / "scalar"), rows_per_block=32
    ).collect()
    s = check(sorted(r["path"] for r in m), sum(r["n_rows"] for r in m))
    # 3 files x 50 rows cut into 32 + 18
    assert (s["block_count"], s["max_rows_per_block"]) == (6, 32)
    assert s["first_key"] == s["last_key"] == "<file is not a map>"

    schema = T.StructType([
        T.StructField("key", T.LongType(), False, {MAP_TABLE_META: True}),
        T.StructField("value", T.StringType(), False),
    ])
    keys = list(range(7, 457, 5))
    mpaths, mrows = [], 0
    # three files, each an ascending key run
    for i, run in enumerate((keys[:30], keys[30:60], keys[60:])):
        part = spark.createDataFrame([(k, f"v{k}") for k in run], schema)
        mm = write_zebra_files(
            part.coalesce(1), str(tmp_path / f"map{i}"), rows_per_block=20
        ).collect()
        mpaths += [r["path"] for r in mm]
        mrows += sum(r["n_rows"] for r in mm)
    s = check(mpaths, mrows)
    assert mrows == 90
    assert (s["first_key"], s["last_key"]) == ("7", "452")
