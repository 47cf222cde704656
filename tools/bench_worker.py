"""Persistent Spark encode-leg worker for bench.py's scaling sweep.

Starts ONE local[N] SparkSession, runs the protocol warm-up (excluded),
then serves RUN commands on stdin — one timed encode pass per command,
one JSON result line on stdout.  Keeping the JVM alive across legs
removes the ~10-20 s of untimed session startup that used to sit between
every two legs of a palindrome iteration: with both level workers
resident, a full (hi, lo, hi) iteration runs back-to-back inside one
host-budget window instead of spanning several (BENCH/BASELINE.md §3 —
the sandbox's core grant shifts on multi-minute scales).

Usage: python tools/bench_worker.py <cpus> <parquet_path>
Protocol: prints {"ready": true} after warm-up; then per "RUN" line on
stdin prints {"sec", "rows", "raw", "enc", "zebra", "tasks"}, "tasks"
being the leg's Spark task count as session.map_items planned it;
"EXIT" stops.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = int(sys.argv[1])
    path = sys.argv[2]

    from pyspark.sql import functions as F

    from zebra_spark.session import get_spark
    from zebra_spark.sources.parquet_direct import encode_metrics_direct

    spark = get_spark(
        master=f"local[{cpus}]",
        app_name=f"zs-bench-worker-{cpus}",
        shuffle_partitions=max(8, cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    def run_once():
        t0 = time.perf_counter()
        # encode_metrics_direct folds block metrics python-side (the
        # production-sink shape — payloads never cross the Arrow socket)
        # and emits one row per task, so the row count is the leg's task
        # count.  session.map_items plans the tasks from the splits'
        # bytes: on the 32 uniform splits, one wave of equal contiguous
        # runs per core unless a run would pass Spark's split size
        row = (
            encode_metrics_direct(spark, path)
            .groupBy()
            .agg(
                F.count(F.lit(1)).alias("tasks"),
                F.sum("n_rows").alias("rows"),
                F.sum("raw_bytes").alias("raw"),
                F.sum("enc_bytes").alias("enc"),
                F.sum("zebra_bytes").alias("zebra"),
            )
            .collect()[0]
        )
        return time.perf_counter() - t0, row

    run_once()  # warm-up (numpy JIT + python worker reuse), excluded
    print(json.dumps({"ready": True}), flush=True)
    for line in sys.stdin:
        if line.strip() != "RUN":
            break
        dt, row = run_once()
        print(
            json.dumps(
                {
                    "sec": dt,
                    "rows": row["rows"],
                    "raw": row["raw"],
                    "enc": row["enc"],
                    "zebra": row["zebra"],
                    "tasks": row["tasks"],
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
