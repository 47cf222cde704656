"""Seeded benchmark inputs, materialized under ``.perfbench/cache`` in the
checkout.

The same seed gives the same files.  Entries are keyed by a hash of the
program and benchmark sources, so a changed encoder never reads blocks an
older build wrote; only the few most recent entries are kept.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
KEEP_ENTRIES = 24  # the F1 and blocks entries of ten seeds, and spares

# F1: 8 uniform 8,192-row splits in natural order (FIXTURES.md F1)
SIZES = {
    "full": {"f1_splits": 8, "f1_split_rows": 8192},
    "smoke": {"f1_splits": 4, "f1_split_rows": 1024},
}


def n_workers() -> int:
    """Parallelism of every job the benchmark starts: 4, never above nproc."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


@functools.cache  # once per process: the sources do not change under a run
def _code_hash() -> str:
    h = hashlib.sha1()
    files = sorted((ROOT / "zebra_spark").rglob("*.py")) + sorted(Path(__file__).parent.glob("*.py"))
    for f in files:
        h.update(f.relative_to(ROOT).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:12]


def cache_entry(kind: str, seed: int, size: str) -> Path:
    return WORK / "cache" / _code_hash() / f"{kind}-s{seed}-{size}"


def ready(entry: Path) -> dict | None:
    """The entry's recorded stats if it was completely written, else None."""
    done = entry / "_SUCCESS.json"
    if not done.exists():
        return None
    os.utime(entry)  # most recently used
    return json.loads(done.read_text())


def commit(tmp: Path, entry: Path, stats: dict) -> dict:
    (tmp / "_SUCCESS.json").write_text(json.dumps(stats))
    if entry.exists():
        shutil.rmtree(entry)
    tmp.rename(entry)
    _evict(entry)
    return stats


def staging(entry: Path) -> Path:
    tmp = entry.with_name(entry.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    return tmp


def _evict(keep: Path) -> None:
    cache = WORK / "cache"
    for stale in cache.iterdir():
        if stale != keep.parent:
            shutil.rmtree(stale, ignore_errors=True)
    entries = sorted(keep.parent.iterdir(), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in entries[KEEP_ENTRIES:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# F1 token table


def _gen_splits(seed: int, rows: int, splits: list[int], out: str) -> list[dict]:
    from zebra_spark.sources.synth import f1_batch

    stats = []
    for i in splits:
        c0 = time.process_time()
        batch = f1_batch(rows, seed=seed, start=i * rows)
        cpu = time.process_time() - c0
        pq.write_table(pa.Table.from_batches([batch]), f"{out}/part-{i:05d}.parquet")
        stats.append({"rows": batch.num_rows, "tokens": int(batch.column("n_tok").to_numpy().sum()),
                      "raw_bytes": batch.nbytes, "synth_cpu_s": cpu})
    return stats


def ensure_f1(seed: int, size: str) -> tuple[Path, dict]:
    """The seeded F1 table as parquet splits, one row group each, generated
    by ``zebra_spark.sources.synth`` in ``n_workers()`` processes."""
    entry = cache_entry("f1", seed, size)
    stats = ready(entry)
    if stats is None:
        sz = SIZES[size]
        tmp = staging(entry)
        t0 = time.perf_counter()
        parts = _in_workers("gen-f1", [str(i) for i in range(sz["f1_splits"])], tmp,
                            "--seed", str(seed), "--rows", str(sz["f1_split_rows"]))
        stats = {k: sum(p[k] for p in parts) for k in parts[0]}
        stats["synth_wall_s"] = time.perf_counter() - t0
        stats = commit(tmp, entry, stats)
    return entry, stats


def f1_split_files(f1_dir: Path) -> list[Path]:
    return sorted(f1_dir.glob("part-*.parquet"))


def _encode_source(f1_files: list[str], source: str, out: str) -> dict:
    """Encode one source's F1 rows, in doc_id order, into blocks rows with
    the encode operators' per-batch function keyed on doc_id: one encode
    task per source, as ``encode_df(key_col="doc_id")`` runs on a split of
    the doc_id-sorted table."""
    from zebra_spark.operators.encode import encode_chunk_rows

    # doc_id = f"{source}-{row:010d}": rows of one source, taken split by
    # split, are already in doc_id order
    rows = pa.concat_tables(
        pq.read_table(f, filters=[("source", "=", source)]) for f in f1_files).combine_chunks()
    state = {"seq": 0}
    blocks = [
        blk
        for batch in rows.to_batches(max_chunksize=1 << 16)
        for blk in encode_chunk_rows(batch, task_tag=f"perfbench-{source}", key_col="doc_id",
                                     _state=state)
    ]
    pq.write_table(pa.Table.from_batches(blocks), f"{out}/{source}.parquet")
    return {"blocks": len(blocks)}


def ensure_blocks(seed: int, size: str) -> Path:
    """The F1 rows stored as a doc_id-sorted blocks table (parquet, the
    schema ``encode_df`` writes) with doc_id zone maps."""
    from zebra_spark.sources.synth import SOURCES

    f1_dir, _ = ensure_f1(seed, size)
    entry = cache_entry("blocks", seed, size)
    if ready(entry) is None:
        tmp = staging(entry)
        parts = _in_workers("encode-blocks", sorted(SOURCES), tmp,
                            "--f1", ",".join(str(f) for f in f1_split_files(f1_dir)))
        commit(tmp, entry, {"blocks": sum(p["blocks"] for p in parts)})
    return entry


def _in_workers(mode: str, items: list[str], out: Path, *extra: str) -> list[dict]:
    """Run ``python3 inputs.py <mode>`` over ``items`` in ``n_workers()``
    processes, round-robin, and wait for all of them."""
    n = n_workers()
    procs = [
        subprocess.Popen([sys.executable, __file__, mode, "--out", str(out), *extra,
                          "--items", ",".join(items[w::n])],
                         stdout=subprocess.PIPE, text=True)
        for w in range(min(n, len(items)))
    ]
    outs = [p.communicate(timeout=600)[0] for p in procs]  # wait for every worker
    if any(p.returncode != 0 for p in procs):
        raise RuntimeError(f"{mode} worker failed: codes {[p.returncode for p in procs]}")
    return [part for out in outs for part in json.loads(out)]


# ---------------------------------------------------------------------------
# sf tables: the TPC-H-style test data the __spark_entry__ queries read

# copies of the deterministic test tables (generated once, seed 42): sf0.01
# for full runs, sf0.001 for smoke runs.  The seed does not change them.
SF_DIRS = {"full": Path(__file__).resolve().parent / "data" / "sf0.01",
           "smoke": Path(__file__).resolve().parent / "data" / "sf0.001"}
SF_TABLES = ("lineitem", "documents", "embeddings", "customer")


def sf_tables(size: str) -> tuple[Path, dict]:
    """The sf directory of ``size`` and the row count of each table, read
    in place as the queries of ``__spark_entry__`` read an sf directory."""
    d = SF_DIRS[size]
    return d, {t: pq.ParquetFile(d / f"{t}.parquet").metadata.num_rows for t in SF_TABLES}


def main() -> None:
    ap = argparse.ArgumentParser(description="input worker of ensure_f1 / ensure_blocks")
    ap.add_argument("mode", choices=["gen-f1", "encode-blocks"])
    ap.add_argument("--items", required=True, help="comma-separated split indexes or files")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--rows", type=int)
    ap.add_argument("--f1", help="comma-separated F1 split files")
    args = ap.parse_args()
    items = [i for i in args.items.split(",") if i]
    if args.mode == "gen-f1":
        stats = _gen_splits(args.seed, args.rows, [int(i) for i in items], args.out)
    else:
        stats = [_encode_source(args.f1.split(","), src, args.out) for src in items]
    print(json.dumps(stats))


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    main()
