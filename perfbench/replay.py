"""Spark-free replays of a workload's input through the layers below Spark.

``blocks_replay`` runs in the benchmark process: it reads the workload's
files with pyarrow (``sources``), cuts them into blocks with the encode
operators' ``encode_chunk_rows``, and times ``encode_batch`` and
``decode_batch`` per block (``blocks``) while timing the codec calls those
make (``codec``) through wrappers.  ``codec_replay`` runs as its own process
(``python3 perfbench/replay.py codec ...``) so it starts with cold selector
caches: it times ``encode_ints``/``decode_ints`` and
``encode_strings``/``decode_strings`` on columns it extracts itself.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

if __package__ in (None, ""):  # run as a script: make the checkout importable
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import inputs  # noqa: E402
from perfbench.workloads import PROJECTED, WORKLOADS  # noqa: E402

@dataclass
class Unit:
    """One input file: its read CPU, the batches to encode, and for a stored
    blocks table the payloads a read decodes (payload, schema, in range)."""

    read_cpu: float
    batches: list = field(default_factory=list)  # source batches, before the block cut
    stored: list = field(default_factory=list)


def _read(path, **kw) -> tuple[pa.Table, float]:
    c0 = time.process_time()
    table = pq.ParquetFile(path, memory_map=True).read(**kw)
    return table, time.process_time() - c0


def units(wl):
    """The workload's input, one :class:`Unit` per file, read as its
    operators read it."""
    if wl.name == "tokens_write":
        for f in inputs.f1_split_files(wl.f1_dir):
            table, cpu = _read(f)
            yield Unit(cpu, table.to_batches())
    elif wl.name == "driver_queries":
        for t in wl.ENCODED_TABLES:
            table, cpu = _read(wl.dir / f"{t}.parquet")
            yield Unit(cpu, table.to_batches())
    else:
        files = sorted(Path(wl.blocks_dir).glob("*.parquet"))
        schemas = {}
        for f in files:
            ids = pq.read_table(f, columns=["schema_id", "schema"]).to_pylist()
            schemas.update({r["schema_id"]: pa.ipc.read_schema(pa.py_buffer(r["schema"]))
                            for r in ids if r["schema"] is not None})
        lo, hi = wl.key_range  # string keys: the zone-map form is the key itself
        for f in files:
            table, cpu = _read(f, columns=["payload", "schema_id", "key_min", "key_max"])
            stored = [(r["payload"], schemas[r["schema_id"]],
                       r["key_min"] is None or (r["key_max"] >= lo and r["key_min"] <= hi))
                      for r in table.to_pylist()]
            yield Unit(cpu, stored=stored)


class _CodecClock:
    """Wraps the codec functions the blocks module calls and sums their
    wall time, so blocks self time = blocks time - codec time."""

    NAMES = ("encode_ints", "decode_ints", "encode_strings", "decode_strings")

    def __init__(self):
        from zebra_spark.codec import blocks

        self.mod, self.total = blocks, 0.0
        self.saved = {n: getattr(blocks, n) for n in self.NAMES}

    def _wrap(self, fn):
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.total += time.perf_counter() - t0
        return timed

    def __enter__(self):
        for n, fn in self.saved.items():
            setattr(self.mod, n, self._wrap(fn))
        return self

    def __exit__(self, *exc):
        for n, fn in self.saved.items():
            setattr(self.mod, n, fn)


def _timed(fn, *args, **kw):
    c0, t0 = time.process_time(), time.perf_counter()
    out = fn(*args, **kw)
    return out, time.process_time() - c0, time.perf_counter() - t0


def encode_blocks(batch) -> list[tuple]:
    """Encode ``batch`` with the encode operators' ``encode_chunk_rows``,
    timing the ``encode_batch`` call of each block it cuts, so the replay
    times the blocks the operators encode.  One (block, payload, cpu
    seconds, wall seconds) per block."""
    from zebra_spark.operators import encode

    calls, saved = [], encode.encode_batch

    def timed(block):
        out, cpu, wall = _timed(saved, block)
        calls.append((block, out[0], cpu, wall))
        return out

    encode.encode_batch = timed
    try:
        for _ in encode.encode_chunk_rows(batch, task_tag="replay"):
            pass
    finally:
        encode.encode_batch = saved
    return calls


def blocks_replay(wl, tracer, passes: int = 2) -> dict:
    from zebra_spark.codec.blocks import decode_batch
    from zebra_spark.codec.warmup import warm_codec
    from zebra_spark.operators.encode import _batch_cells

    warm_codec()
    runs, block_ms = [], []
    with _CodecClock() as clock:
        for r in range(passes):
            acc = dict.fromkeys(("read_cpu", "enc_cpu", "dec_cpu", "enc_values", "dec_values",
                                 "enc_bytes", "blocks_wall"), 0.0)
            clock.total = 0.0
            with tracer.span("replay.pass", index=r):
                for unit in units(wl):
                    acc["read_cpu"] += unit.read_cpu
                    batches = list(unit.batches)
                    with tracer.span("blocks.decode_stored"):
                        # a stored block is decoded as the three reads decode it:
                        # full, projected, and again in full when the range keeps it
                        for payload, schema, in_range in unit.stored:
                            for k, cols in enumerate((None, PROJECTED) + ((None,) if in_range else ())):
                                out, cpu, wall = _timed(decode_batch, payload, schema, columns=cols)
                                acc["dec_cpu"] += cpu
                                acc["blocks_wall"] += wall
                                acc["dec_values"] += _batch_cells(out)
                                if k == 0:
                                    batches.append(out)
                    with tracer.span("blocks.encode"):
                        for b, payload, cpu, wall in (blk for batch in batches
                                                      for blk in encode_blocks(batch)):
                            acc["enc_cpu"] += cpu
                            acc["blocks_wall"] += wall
                            acc["enc_values"] += _batch_cells(b)
                            acc["enc_bytes"] += len(payload)
                            block_ms.append(wall * 1e3)
                            if not unit.stored:
                                out, cpu, wall = _timed(decode_batch, payload, b.schema)
                                acc["dec_cpu"] += cpu
                                acc["blocks_wall"] += wall
                                acc["dec_values"] += _batch_cells(out)
            acc["codec_wall"] = clock.total
            runs.append(acc)
    med = {k: statistics.median(r[k] for r in runs) for k in runs[0]}
    enc = [r["enc_bytes"] for r in runs]
    return {
        "read_cpu_s": med["read_cpu"],
        "encode_cpu_s": med["enc_cpu"],
        "decode_cpu_s": med["dec_cpu"],
        "encode_mtok_per_cpu_s": med["enc_values"] / med["enc_cpu"] / 1e6,
        "decode_mtok_per_cpu_s": med["dec_values"] / med["dec_cpu"] / 1e6,
        "encode_block_ms_p50": float(np.percentile(block_ms, 50)),
        "encode_block_ms_p90": float(np.percentile(block_ms, 90)),
        "n_blocks_timed": len(block_ms),
        "self_share": 1.0 - med["codec_wall"] / med["blocks_wall"],
        "enc_bytes_spread": (max(enc) - min(enc)) / min(enc),
        "enc_bytes": enc,
    }


# ---------------------------------------------------------------------------
# codec replay (own process)


def _columns(arr, ints: list, strs: list) -> None:
    """Collect null-free int and string leaf columns of an arrow array."""
    t = arr.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        _columns(arr.flatten(), ints, strs)
    elif arr.null_count:
        return
    elif pa.types.is_integer(t):
        ints.append(arr.to_numpy())
    elif pa.types.is_string(t) or pa.types.is_binary(t):
        offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)[arr.offset : arr.offset + len(arr) + 1]
        data = arr.buffers()[2].to_pybytes()[offsets[0] : offsets[-1]]
        strs.append((np.diff(offsets).astype(np.int64), data))


def _median_time(fn, reps: int = 3):
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return out, statistics.median(times)


def codec_replay(wl, max_values: int = 1 << 23) -> dict:
    """Codec kernels on the first blocks of the workload's input, until
    ``max_values`` int values are collected."""
    from zebra_spark.codec.blocks import decode_batch
    from zebra_spark.codec.codecs import decode_ints, decode_strings, encode_ints, encode_strings
    from zebra_spark.codec.warmup import warm_codec

    warm_codec()
    ints, strs = [], []

    def batches():  # the blocks the operators encode or the reads decode
        for unit in units(wl):
            for batch in unit.batches:
                yield from (blk for blk, *_ in encode_blocks(batch))
            yield from (decode_batch(p, s) for p, s, _ in unit.stored)

    for b in batches():
        for col in b.columns:
            _columns(col, ints, strs)
        if sum(len(v) for v in ints) >= max_values:
            break
    t = dict.fromkeys(("enc", "winner_only", "dec", "senc", "sdec"), 0.0)
    n_int = sum(len(v) for v in ints)
    n_str = sum(len(c) for _, c in strs)
    for v in ints:
        (codec, payload, _), dt = _median_time(lambda: encode_ints(v))
        t["enc"] += dt
        t["winner_only"] += _median_time(lambda: encode_ints(v, allow={codec}))[1]
        t["dec"] += _median_time(lambda: decode_ints(codec, payload, len(v)))[1]
    for lengths, concat in strs:
        (codec, payload, _), dt = _median_time(lambda: encode_strings(lengths, concat))
        t["senc"] += dt
        t["sdec"] += _median_time(lambda: decode_strings(codec, payload, len(lengths)))[1]
    return {
        "encode_ints_ns_per_value": t["enc"] / n_int * 1e9,
        "decode_ints_ns_per_value": t["dec"] / n_int * 1e9,
        "select_share": 1.0 - t["winner_only"] / t["enc"],
        "encode_strings_ns_per_byte": t["senc"] / n_str * 1e9,
        "decode_strings_ns_per_byte": t["sdec"] / n_str * 1e9,
        "int_values": n_int,
        "string_bytes": n_str,
    }


def run_codec_replay(workload: str, seed: int, size: str, timeout: float = 150.0) -> dict:
    """Run :func:`codec_replay` in a fresh interpreter and wait for it."""
    import subprocess

    out = subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), "codec",
         "--workload", workload, "--seed", str(seed), "--size", size],
        capture_output=True, text=True, timeout=timeout, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description="codec-layer replay in its own process")
    ap.add_argument("mode", choices=["codec"])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="full", choices=sorted(inputs.SIZES))
    args = ap.parse_args()
    wl = WORKLOADS[args.workload](args.seed, args.size)
    print(json.dumps(codec_replay(wl)))


if __name__ == "__main__":
    main()
