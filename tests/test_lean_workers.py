"""Engine task bodies never import pandas, and a stored blocks table is
read a bounded number of payload bytes at a time.

pyarrow imports pandas on the first ``pa.array``/``pa.scalar``/
``to_numpy``/``from_pydict`` of Python values a process makes (+~40 MB
RSS and ~0.47 CPU-s a worker); the engine builds and reads arrays through
``codec.arrowbuf`` instead.  The Spark test scans every Python process
under the JVM, so a worker that ran any engine job counts, whichever task
the probe job reached."""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, *args: str, stdin: bytes | None = None) -> dict:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    ))
    out = subprocess.run(
        [sys.executable, "-c", script, *args],
        cwd=REPO, env=env, input=stdin, capture_output=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr.decode()[-4000:]
    return json.loads(out.stdout.decode().strip().splitlines()[-1])


def _table(n: int, seed: int) -> pa.Table:
    """Rows of every column kind a task walks, NULLs included."""
    rng = np.random.default_rng(seed)
    n_tok = rng.integers(0, 40, n)
    tokens = [rng.integers(0, 50_000, k).astype(np.int32).tolist() for k in n_tok]
    return pa.table({
        "doc_id": [f"d{i:06d}" for i in range(n)],
        "tokens": pa.array(tokens, pa.list_(pa.int32())),
        "n_tok": pa.array(n_tok, pa.int32()),
        "score": pa.array([None if i % 7 == 0 else float(i) / 3 for i in range(n)]),
        "source": pa.array([None if i % 11 == 0 else ("web", "code")[i % 2] for i in range(n)]),
        "attrs": pa.array(
            [None if i % 13 == 0 else {"a": i, "b": -i} for i in range(n)],
            pa.map_(pa.string(), pa.int64()),
        ),
        "pos": pa.array(
            [None if i % 5 == 0 else {"x": i, "y": i / 2} for i in range(n)],
            pa.struct([("x", pa.int64()), ("y", pa.float32())]),
        ),
    })


_SPARK_SCRIPT = r"""
import json, os, sys
import pyarrow as pa
from pyspark.sql import functions as F
from zebra_spark.codec.arrowbuf import batch
from zebra_spark.operators.decode import decode_df
from zebra_spark.operators.encode import encode_df
from zebra_spark.operators.rechunk import rechunk_blocks
from zebra_spark.operators.verify import verify_blocks
from zebra_spark.plans.summary import binary_block_byte_counts
from zebra_spark.session import get_spark, map_items
from zebra_spark.sources.parquet_direct import encode_metrics_direct, encode_parquet_direct

src, binary_src, work = sys.argv[1:4]
spark = get_spark(master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")

def noop(df):
    df.write.format("noop").mode("overwrite").save()

noop(encode_parquet_direct(spark, src, rows_per_block=256))
noop(encode_metrics_direct(spark, src, rows_per_block=256))
stored_path = os.path.join(work, "blocks")
encode_df(
    spark.read.parquet(src), rows_per_block=256, key_col="doc_id", key_bloom=True
).write.parquet(stored_path)
stored = spark.read.parquet(stored_path)
noop(decode_df(stored))
noop(decode_df(stored, columns=["doc_id", "n_tok"]))
noop(decode_df(stored, key_range=("d000100", "d000300")))
noop(decode_df(stored, key_equals=["d000042", "d999999"]))
noop(decode_df(stored.filter(F.col("n_rows") > 0)))  # the mapInArrow path
noop(rechunk_blocks(stored, rows_per_block=500))
bad = verify_blocks(stored).filter("NOT (crc_ok AND decode_ok AND reencode_ok)").count()
binary_path = os.path.join(work, "binary")
encode_df(spark.read.parquet(binary_src), rows_per_block=100).write.parquet(binary_path)
n_bytes = binary_block_byte_counts(spark.read.parquet(binary_path)).agg(F.sum("n_bytes")).first()[0]

def probe(items):
    for _ in items:
        pass
    yield batch(pa.schema([("pid", pa.int64()), ("pandas", pa.bool_())]),
                {"pid": [os.getpid()], "pandas": ["pandas" in sys.modules]})

# one item a task: each run of 2^30 bytes exceeds Spark's split size
probed = map_items(spark, list(range(16)), probe, "pid long, pandas boolean",
                   [1 << 30] * 16).collect()

def tree(root):
    kids = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            kids.setdefault(int(stat[stat.rindex(b")") + 2:].split()[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        out.append(todo.pop())
        todo.extend(kids.get(out[-1], ()))
    return out[1:]

def maps_pandas(pid):
    try:
        with open(f"/proc/{pid}/maps") as f:
            return "/pandas/_libs/" in f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None  # exited since tree() listed it

jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
workers = {pid: maps for pid in tree(jvm) if (maps := maps_pandas(pid)) is not None}
print(json.dumps({
    "bad_blocks": bad,
    "n_bytes": n_bytes,
    "probed": [[r.pid, r.pandas] for r in probed],
    "workers": workers,
}))
spark.stop()
"""


def test_engine_workers_never_import_pandas(tmp_path):
    """Every blocks-lifecycle operator runs on local[2] (both encoders,
    the metrics fold, decode_df full, projected, keyed and looked-up, a
    mapInArrow decode, rechunk, verify and the binary byte count); after
    them no Python process under the JVM has pandas loaded, and a probe
    job finds none in sys.modules."""
    src = str(tmp_path / "src.parquet")
    pq.write_table(_table(2000, 1), src, row_group_size=700)
    binary_src = str(tmp_path / "bin.parquet")
    values = [bytes(range(i % 50)) for i in range(300)]
    pq.write_table(pa.table({"value": pa.array(values, pa.binary())}), binary_src)
    res = _run(_SPARK_SCRIPT, src, binary_src, str(tmp_path))
    assert res["bad_blocks"] == 0, res
    assert res["n_bytes"] == sum(map(len, values)), res
    assert len(res["probed"]) == 16 and not any(p for _, p in res["probed"]), res
    workers = res["workers"]
    assert {pid for pid, _ in res["probed"]} <= {int(p) for p in workers}, res
    assert not any(workers.values()), res


_ROUNDTRIP_SCRIPT = r"""
import json, sys
import pyarrow as pa
from zebra_spark.codec.blocks import decode_batch, encode_batch

def bits(t):
    # float values compared by their bit patterns: NaN payloads and -0.0
    if pa.types.is_float64(t):
        return pa.int64()
    if pa.types.is_float32(t):
        return pa.int32()
    if pa.types.is_list(t):
        return pa.list_(pa.field(t.value_field.name, bits(t.value_type), t.value_field.nullable))
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, bits(f.type), f.nullable) for f in t])
    return t

def same(out):
    return {
        name: out.column(name).view(bits(f.type)).equals(rb.column(name).view(bits(f.type)))
        for name, f in zip(rb.schema.names, rb.schema)
    }

rb = pa.ipc.open_stream(sys.stdin.buffer.read()).read_next_batch()
payload, _ = encode_batch(rb)
print(json.dumps({
    "same": same(decode_batch(payload, rb.schema)),
    # a pa.Buffer payload (the stored-table reader's) decodes the same
    "buffer_same": same(decode_batch(pa.py_buffer(payload), rb.schema)),
    "pandas": "pandas" in sys.modules,
}))
"""


def _every_type_batch() -> pa.RecordBatch:
    n = 300
    rng = np.random.default_rng(7)
    nulls = [i % 9 == 0 for i in range(n)]

    def col(vals, t):
        return pa.array([None if z else v for v, z in zip(vals, nulls)], t)

    specials = [math.nan, -0.0, 0.0, math.inf, -math.inf, 1.5]
    f64 = np.array([specials[i % 6] for i in range(n)])
    f64[3] = np.frombuffer(np.uint64(0x7FF8_0000_DEAD_BEEF).tobytes(), np.float64)[0]
    ints = rng.integers(-(1 << 40), 1 << 40, n)
    return pa.record_batch({
        "i8": col(ints % 100 - 50, pa.int8()),
        "i16": col(ints % 30000, pa.int16()),
        "i32": col(ints % (1 << 30), pa.int32()),
        "i64": col(ints, pa.int64()),
        "u8": col(ints % 200 + 50, pa.uint8()),
        "u32": col(ints % (1 << 32), pa.uint32()),
        "u64": col(np.arange(n, dtype=np.uint64) * np.uint64(1 << 55), pa.uint64()),
        "f32": pa.array(f64.astype(np.float32), pa.float32(), mask=np.array(nulls)),
        "f64": pa.array(f64, pa.float64(), mask=np.array(nulls)),
        "flag": col([i % 3 == 0 for i in range(n)], pa.bool_()),
        "day": col(ints % 40000, pa.int32()).cast(pa.date32()),
        "ts": col(ints, pa.int64()).cast(pa.timestamp("us")),
        "s": col([f"w{i % 17}" * (i % 4) for i in range(n)], pa.string()),
        "b": col([bytes([i % 256]) * (i % 5) for i in range(n)], pa.binary()),
        "ls": col([list(range(i % 6)) for i in range(n)], pa.list_(pa.int64())),
        "lf": col([[math.nan, -0.0][: i % 3] for i in range(n)], pa.list_(pa.float64())),
        "st": col([{"x": i, "y": f"y{i}"} for i in range(n)],
                  pa.struct([("x", pa.int64()), ("y", pa.string())])),
        "mp": col([{"k": i} if i % 2 else {} for i in range(n)], pa.map_(pa.string(), pa.int64())),
    })


def test_blocks_roundtrip_every_type_without_pandas():
    """encode_batch/decode_batch over every supported type with NULLs,
    NaN payloads and -0.0 round-trip bit-identically in a process that
    never imports pandas (the input crosses as IPC bytes)."""
    rb = _every_type_batch()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, rb.schema) as w:
        w.write_batch(rb)
    res = _run(_ROUNDTRIP_SCRIPT, stdin=sink.getvalue().to_pybytes())
    assert all(res["same"].values()) and len(res["same"]) == rb.num_columns, res
    assert all(res["buffer_same"].values()), res
    assert not res["pandas"], res


def test_stored_table_batches_hold_about_a_byte_budget(tmp_path, monkeypatch):
    """_stored_batches reads a row group of many blocks about
    _BATCH_BYTES of payload a batch, at the row group's mean payload
    size: one block row a batch where a payload exceeds the budget, the
    whole row group where it fits.  _block_rows' payload is a view of
    its batch's data buffer, not a copy."""
    from zebra_spark.operators import decode
    from zebra_spark.operators.encode import encode_chunk_rows

    rb = _table(1000, 3).to_batches()[0]
    rows = pa.Table.from_batches(list(encode_chunk_rows(rb, rows_per_block=100)))
    path = str(tmp_path / "blocks.parquet")
    pq.write_table(rows, path)
    meta = pq.ParquetFile(path).metadata
    assert meta.num_row_groups == 1
    stored = meta.row_group(0).column(rows.schema.get_field_index("payload"))
    assert stored.path_in_schema == "payload"
    mean = stored.total_uncompressed_size / rows.num_rows
    sizes = [len(p) for p in rows.column("payload").to_pylist()]
    cols = ["block_id", "n_rows", "payload", "crc32", "schema_id", "schema"]

    def read(budget):
        monkeypatch.setattr(decode, "_BATCH_BYTES", budget)
        batches = list(decode._stored_batches(iter([(path, 0)]), cols, None, None))
        assert pa.Table.from_batches(batches).equals(rows.select(cols))
        return batches

    assert [b.num_rows for b in read(1 << 20)] == [10]
    assert [b.num_rows for b in read(min(sizes) - 1)] == [1] * 10
    budget = int(3 * mean) + 1
    batches = read(budget)
    assert [b.num_rows for b in batches] == [3, 3, 3, 1]
    for b in batches:
        # the bound holds at the mean payload size
        assert b.num_rows * mean <= budget
        data = b.column("payload").buffers()[2]
        for i, (_, _, payload, _, _) in enumerate(decode._block_rows(iter([b]))):
            assert isinstance(payload, pa.Buffer)
            assert data.address <= payload.address
            assert payload.address + payload.size <= data.address + data.size
            assert payload.to_pybytes() == b.column("payload")[i].as_py()
