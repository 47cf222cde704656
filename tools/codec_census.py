"""Codec census: which codec the selector picks on each driver table.

Spark-free.  Every table of an sf directory is cut into fixed-size blocks
and encoded with ``encode_batch``, once per layout and codec policy:

    python tools/codec_census.py --sf-dir DIR [--rows-per-block 16384] \
        [--policies balanced,size,speed] [--layouts natural,sorted] \
        [--tables lineitem,orders] [--json out.json] \
        [--against before.json] [--procs 2]

Layouts: ``natural`` is file order; ``sorted`` is a stable sort on the
table's first column (its key).  For each (table, layout, policy) the
census prints the number of (block, column) sections that selected each
codec, the total encoded bytes, zebra's bytes for the same sections and
the encode CPU-seconds.  ``--against`` adds the change in encoded bytes
against an earlier ``--json`` result.

An encode is a pure function of (block rows, policy), so the numbers do
not depend on how the combinations are spread over the ``--procs``
worker processes.
"""

from __future__ import annotations

import argparse
import glob
import json
import multiprocessing
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

POLICIES = ("balanced", "size", "speed")
LAYOUTS = ("natural", "sorted")


def census_one(job: tuple) -> dict:
    """Encode one (table, layout, policy) combination block by block."""
    path, layout, policy, rows_per_block = job
    import pyarrow.parquet as pq

    from zebra_spark.codec.blocks import encode_batch

    table = pq.read_table(path)
    if layout == "sorted":
        table = table.sort_by([(table.column_names[0], "ascending")])
    counts: Counter = Counter()
    enc = zebra = blocks = 0
    c0 = time.process_time()
    for start in range(0, table.num_rows, rows_per_block):
        batch = table.slice(start, rows_per_block).combine_chunks()
        _, meta = encode_batch(batch.to_batches()[0], policy)
        blocks += 1
        enc += meta["enc_bytes"]
        zebra += meta["zebra_bytes"]
        for col in meta["cols"].values():
            kind = "int" if "n_runs" in col else "str"
            counts[f"{kind}.{col['codec']}"] += 1
    return {
        "table": os.path.basename(path).removesuffix(".parquet"),
        "layout": layout,
        "policy": policy,
        "blocks": blocks,
        "enc_bytes": enc,
        "zebra_bytes": zebra,
        "cpu_s": round(time.process_time() - c0, 2),
        "codecs": dict(sorted(counts.items())),
    }


def run(sf_dir, tables, layouts, policies, rows_per_block, procs) -> list[dict]:
    paths = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    if tables:
        paths = [p for p in paths if os.path.basename(p)[:-8] in tables]
    jobs = [
        (p, layout, policy, rows_per_block)
        for p in paths
        for layout in layouts
        for policy in policies
    ]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs, maxtasksperchild=1) as pool:
        return pool.map(census_one, jobs, chunksize=1)


def _key(r: dict) -> tuple:
    return r["table"], r["layout"], r["policy"]


def render(rows: list[dict], against: list[dict] | None) -> str:
    before = {_key(r): r for r in against or []}
    head = "| table | layout | policy | blocks | enc_bytes | vs zebra | cpu_s |"
    rule = "|---|---|---|---|---|---|---|"
    if against is not None:
        head += " before | change |"
        rule += "---|---|"
    lines = [head + " codecs |", rule + "---|"]
    for r in rows:
        line = (
            f"| {r['table']} | {r['layout']} | {r['policy']} | {r['blocks']} "
            f"| {r['enc_bytes']:,} | {r['enc_bytes'] / max(r['zebra_bytes'], 1):.4f} "
            f"| {r['cpu_s']} |"
        )
        if against is not None:
            b = before.get(_key(r))
            if b is None:
                line += " - | - |"
            else:
                d = r["enc_bytes"] - b["enc_bytes"]
                line += f" {b['enc_bytes']:,} | {d:+,} ({d / max(b['enc_bytes'], 1):+.3%}) |"
        codecs = " ".join(f"{k}:{v}" for k, v in r["codecs"].items())
        lines.append(line + f" {codecs} |")
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR"),
        required="SPARK_GRAFT_SF_DIR" not in os.environ,
        help="directory of <table>.parquet files (default $SPARK_GRAFT_SF_DIR)",
    )
    ap.add_argument("--rows-per-block", type=int, default=16384)
    ap.add_argument("--policies", default=",".join(POLICIES))
    ap.add_argument("--layouts", default=",".join(LAYOUTS))
    ap.add_argument("--tables", default="", help="comma list; default all")
    ap.add_argument("--procs", type=int, default=2)
    ap.add_argument("--json", help="write the rows as JSON here")
    ap.add_argument("--against", help="earlier --json result to diff against")
    args = ap.parse_args(argv)
    rows = run(
        args.sf_dir,
        [t for t in args.tables.split(",") if t],
        args.layouts.split(","),
        args.policies.split(","),
        args.rows_per_block,
        args.procs,
    )
    if args.json:
        with open(args.json, "w") as f:
            json.dump(rows, f, indent=1)
    against = None
    if args.against:
        with open(args.against) as f:
            against = json.load(f)
    print(render(rows, against))


if __name__ == "__main__":
    main()
