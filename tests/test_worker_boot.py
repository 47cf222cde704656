"""Worker bootstrap: PySpark's per-task importlib.invalidate_caches() must
not re-read an unchanged pyspark.zip directory, and a rewritten zip must
still be re-read.  The daemon's post-task gc.collect() freezes the
worker's long-lived heap, and a collection inside a task still reclaims
that task's cycles.  Every map_items task installs both hooks, whatever
its function names."""

from __future__ import annotations

import gc
import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

from zebra_spark import worker_boot

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_index_cache_skips_unchanged_and_rereads_rewritten(tmp_path, monkeypatch):
    # outside a Spark task the package leaves the stock method in place
    assert not worker_boot.in_pyspark_worker()
    assert zipimport.zipimporter.invalidate_caches is worker_boot._stock_invalidate
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_boot._stock_invalidate
    )
    monkeypatch.setattr(worker_boot, "_stamps", {})
    archive = str(tmp_path / "mods.zip")
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    worker_boot.install_zip_index_cache()

    _write_zip(archive, ["zs_boot_m1"])
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zs_boot_m1").NAME == "zs_boot_m1"
        reads.clear()
        for _ in range(10):
            importlib.invalidate_caches()
        assert len(reads) <= 1

        # installing again changes nothing and reads nothing
        worker_boot.install_zip_index_cache()
        assert zipimport.zipimporter.invalidate_caches is worker_boot._invalidate_caches
        importlib.invalidate_caches()
        assert len(reads) <= 1

        # same path, new contents: the directory is re-read
        _write_zip(archive, ["zs_boot_m1", "zs_boot_m2"])
        importlib.invalidate_caches()
        assert importlib.import_module("zs_boot_m2").NAME == "zs_boot_m2"
    finally:
        for name in ("zs_boot_m1", "zs_boot_m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


_ONE_CORE_SCRIPT = r"""
import gc, json, os, zipimport
import pyarrow as pa
from zebra_spark import worker_boot
from zebra_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")

def task(batches):
    import gc, weakref, zipimport
    frozen, unfrozen = gc.get_freeze_count(), len(gc.get_objects())
    if not hasattr(zipimport, "_zs_reads"):
        real = zipimport._read_directory
        zipimport._zs_reads = [0]
        def counting(path):
            zipimport._zs_reads[0] += 1
            return real(path)
        zipimport._read_directory = counting
    from zebra_spark.codec.codecs import decode_ints, encode_ints
    for rb in batches:
        vals = rb.column("id").to_numpy()
        codec, payload, _ = encode_ints(vals)
        assert (decode_ints(codec, payload, len(vals))[0] == vals).all()
    # a cycle that is live through one in-task collect (which must not
    # freeze it) and garbage at the next must be reclaimed by the next
    class Node:
        pass
    node = Node()
    node.self = node
    ref = weakref.ref(node)
    gc.collect()
    del node
    gc.collect()
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()],
        "reads": [zipimport._zs_reads[0]],
        "frozen": [frozen],
        "unfrozen": [unfrozen],
        "cycle_freed": [ref() is None],
    })

rows = [
    spark.range(64, numPartitions=1)
    .mapInArrow(
        task,
        "pid long, reads long, frozen long, unfrozen long, cycle_freed boolean",
    )
    .collect()[0]
    for _ in range(8)
]
print(json.dumps({
    "pids": sorted({r.pid for r in rows}),
    "reads": [r.reads for r in rows],
    "frozen": [r.frozen for r in rows],
    "unfrozen": [r.unfrozen for r in rows],
    "cycle_freed": [r.cycle_freed for r in rows],
    "driver_stock": zipimport.zipimporter.invalidate_caches
    is worker_boot._stock_invalidate,
    "driver_hook": worker_boot._freeze_after_task_collect in gc.callbacks,
    "driver_frozen": gc.get_freeze_count(),
}))
spark.stop()
"""


def test_one_core_worker_stops_rereading_after_first_task():
    """8 sequential engine tasks on a 1-core session run in one reused
    worker; its zip directory re-read count must not grow after task 1
    (stock PySpark re-reads ~16 directories every task).  The daemon's
    collect after task 1 freezes the worker's heap: the frozen count is
    flat from task 3 on, each task starts with few unfrozen objects, and
    every task's cycle is still collected inside it.  The driver has no
    hook and nothing frozen."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    ))
    out = subprocess.run(
        [sys.executable, "-c", _ONE_CORE_SCRIPT],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(res["pids"]) == 1, res
    assert res["reads"] == [res["reads"][0]] * 8, res
    assert res["driver_stock"], res
    # task 2 leaves a few dozen lazily built objects to the next freeze;
    # from task 3 on nothing new survives a task
    frozen = res["frozen"]
    assert frozen[0] == 0 and frozen[1] > 0, res
    assert frozen[2] - frozen[1] < frozen[1] // 100, res
    assert frozen[2:] == [frozen[2]] * 6, res
    assert max(res["unfrozen"][1:]) < frozen[1] // 10, res
    assert all(res["cycle_freed"]), res
    assert not res["driver_hook"] and res["driver_frozen"] == 0, res


_PLAIN_FN_SCRIPT = r"""
import json
from zebra_spark.session import get_spark, map_items

spark = get_spark(master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")

def hooks(items):
    # names no engine module: cloudpickle ships this function by value,
    # and only map_items' own task body can import the package
    import gc, sys, zipimport
    import pyarrow as pa
    boot = sys.modules.get("zebra_spark.worker_boot")
    yield pa.RecordBatch.from_pydict({
        "n": [len(list(items))],
        "zip_cache": [boot is not None and zipimport.zipimporter.invalidate_caches
                      is boot._invalidate_caches],
        "gc_freeze": [boot is not None
                      and boot._freeze_after_task_collect in gc.callbacks],
    })

rows = map_items(
    spark, list(range(8)), hooks, "n long, zip_cache boolean, gc_freeze boolean",
    [0] * 8,
).collect()
print(json.dumps([r.asDict() for r in rows]))
spark.stop()
"""


def test_map_items_task_installs_both_hooks_for_any_fn():
    """A map_items task whose function names no engine module still runs
    with the zip-index cache and the gc freeze installed: the task body
    pickles by reference, so unpickling it imports zebra_spark."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    ))
    out = subprocess.run(
        [sys.executable, "-c", _PLAIN_FN_SCRIPT],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    rows = json.loads(out.stdout.strip().splitlines()[-1])
    assert sum(r["n"] for r in rows) == 8 and len(rows) == 2, rows
    assert all(r["zip_cache"] and r["gc_freeze"] for r in rows), rows


def test_decode_df_schema_jobs_follow_the_read_path(spark, tmp_path):
    """decode_df reads a bare stored table's schema with pyarrow on the
    driver and starts no job, whatever the read: plain, with the ignored
    resolve_schemas flag, or keyed.  A filtered or repartitioned table
    keeps the mapInArrow path and its head() for the schema: one job, and
    one more for the shuffle under a repartitioned table's head() (AQE
    runs each shuffle stage as its own job).  With schema= given no read
    starts a job.  rechunk_blocks reads a stored table's schema the same
    way: no job."""
    from pyspark.sql import functions as F

    from zebra_spark.operators.decode import decode_df
    from zebra_spark.operators.encode import encode_df
    from zebra_spark.operators.rechunk import rechunk_blocks
    from zebra_spark.sources.synth import f1_table

    path = str(tmp_path / "blocks.parquet")
    df = f1_table(spark, 1000, partitions=2, rows_per_batch=512)
    encode_df(df, rows_per_block=256, key_col="doc_id").write.parquet(path)
    stored = spark.read.parquet(path)
    reads = {
        "plain": lambda: decode_df(stored),
        "resolve": lambda: decode_df(stored, resolve_schemas=True),
        "keyed": lambda: decode_df(stored, key_range=("a", "z")),
        "filtered": lambda: decode_df(stored.filter(F.col("n_rows") > 0)),
        "repartitioned": lambda: decode_df(stored.repartition(3)),
        "given": lambda: decode_df(stored, schema=df.schema),
        "rechunk": lambda: decode_df(
            rechunk_blocks(stored, rows_per_block=512), schema=df.schema
        ),
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    decoded = {}
    try:
        for name, read in reads.items():
            sc.setJobGroup(f"zs-decode-{name}", f"decode_df {name}")
            decoded[name] = read()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    jobs = {n: len(tracker.getJobIdsForGroup(f"zs-decode-{n}")) for n in reads}
    assert jobs == {
        "plain": 0,
        "resolve": 0,
        "keyed": 0,
        "filtered": 1,
        "repartitioned": 2,
        "given": 0,
        "rechunk": 0,
    }
    for dec in decoded.values():
        assert dec.schema == df.schema
    assert decoded["resolve"].count() == df.count()
    assert decoded["rechunk"].count() == df.count()
