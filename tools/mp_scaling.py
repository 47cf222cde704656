"""Pure-codec scaling probe: encode row-group splits via multiprocessing.

Isolates the engine's own scalability from Spark scheduling and the
sandbox's Arrow-socket behavior: N worker processes each read their
parquet row groups with pyarrow and run the full block encode.  Levels
are interleaved (lo, hi, lo, hi, ...) and best-of-R per level is
reported, matching the bench.py protocol.

Usage: python tools/mp_scaling.py [lo=2] [hi=8] [iters=3] [path]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def encode_split(args):
    path, rg = args
    import pyarrow.parquet as pq

    from zebra_spark.codec.warmup import warm_codec
    from zebra_spark.operators.encode import encode_chunk_rows

    warm_codec()
    # CPU-seconds (process_time excludes host steal/dethrottle), so the
    # cpu_second_efficiency derived from it measures the ENGINE's
    # coordination overhead independently of the sandbox's time-varying
    # core grant — the wall ratio cannot (BENCH/BASELINE.md section 3)
    c0 = time.process_time()
    pf = pq.ParquetFile(path)
    table = pf.read_row_group(rg)
    total = {"rows": 0, "enc": 0, "zebra": 0, "tok": 0, "cpu": 0.0}
    for chunk in table.to_batches(max_chunksize=1 << 16):
        for block in encode_chunk_rows(chunk, task_tag=f"{path}:{rg}"):
            total["rows"] += block.column("n_rows")[0].as_py()
            total["enc"] += block.column("enc_bytes")[0].as_py()
            total["zebra"] += block.column("zebra_bytes")[0].as_py()
    total["tok"] += int(table.column("n_tok").to_numpy().sum())
    total["cpu"] = time.process_time() - c0
    return total


def run_level(pool: mp.Pool, splits) -> dict:
    t0 = time.perf_counter()
    parts = pool.map(encode_split, splits)
    dt = time.perf_counter() - t0
    agg = {k: sum(p[k] for p in parts) for k in parts[0]}
    agg["sec"] = dt
    return agg


def main():
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    iters = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    path = (
        sys.argv[4]
        if len(sys.argv) > 4
        else os.path.join(REPO, ".bench", "f1_250000.parquet")
    )

    from zebra_spark.sources.parquet_direct import list_row_groups

    splits, _ = list_row_groups(path)
    pools = {n: mp.Pool(n) for n in (lo, hi)}
    # warm both pools (excluded)
    for n, pool in pools.items():
        run_level(pool, splits)
    best = {lo: None, hi: None}
    for _ in range(iters):
        for n in (lo, hi):
            r = run_level(pools[n], splits)
            if best[n] is None or r["sec"] < best[n]["sec"]:
                best[n] = r
    for pool in pools.values():
        pool.terminate()
    out = {}
    for n in (lo, hi):
        out[f"p{n}"] = {
            "procs": n,
            "sec": round(best[n]["sec"], 2),
            "tokens_per_sec": round(best[n]["tok"] / best[n]["sec"]),
            "cpu_sec": round(best[n]["cpu"], 2),
            "tokens_per_cpu_sec": round(best[n]["tok"] / best[n]["cpu"]),
            "vs_zebra": round(best[n]["enc"] / best[n]["zebra"], 4),
        }
    out["scaling_efficiency"] = round(
        (out[f"p{hi}"]["tokens_per_sec"] / out[f"p{lo}"]["tokens_per_sec"])
        / (hi / lo),
        3,
    )
    # flat tokens/CPU-second from lo to hi procs == no coordination
    # overhead added by parallelism; host-budget independent
    out["cpu_second_efficiency"] = round(
        out[f"p{hi}"]["tokens_per_cpu_sec"] / out[f"p{lo}"]["tokens_per_cpu_sec"],
        3,
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
