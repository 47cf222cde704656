"""spark-submit entrypoint: encode a parquet dataset to striped blocks.

Cluster usage (north rule: spark-submit --py-files on multi-executor
clusters):

    zip -r zebra_spark.zip zebra_spark
    spark-submit --py-files zebra_spark.zip tools/run_encode_job.py \
        --input s3://bucket/tokens/ --output s3://bucket/blocks/ \
        --units 256 --rows-per-block 65536 --salt-col source --salt-buckets 64

Local smoke:

    python tools/run_encode_job.py --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/blocks_out --units 4

The job is checkpointed: each work unit commits atomically and a re-run
resumes from the committed units (operators/checkpoint.py).  Per-unit
codec metrics print at the end (lineage requirement).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--input", required=True,
        help="input parquet path or Iceberg table name (catalog required)",
    )
    ap.add_argument("--snapshot-id", type=int, default=None,
                    help="Iceberg snapshot to read (time travel)")
    ap.add_argument("--output", required=True, help="output blocks directory")
    ap.add_argument("--units", type=int, default=16, help="checkpoint work units")
    ap.add_argument("--rows-per-block", type=int, default=1 << 16)
    ap.add_argument("--salt-col", default=None, help="skew-salting column")
    ap.add_argument("--salt-buckets", type=int, default=0)
    ap.add_argument(
        "--sort-by",
        default=None,
        help=(
            "comma list: sortWithinPartitions before encoding — groups "
            "like rows into the same blocks so per-block dictionaries / "
            "FSE tables stop paying the mixture penalty (measured ~5%% "
            "on the token column when sorting by source, BENCH/"
            "BASELINE.md section 11).  A layout FLAG, not a default: the "
            "engine takes rows as given; no shuffle is added"
        ),
    )
    ap.add_argument("--unit-cols", default=None, help="comma list; default: all columns")
    ap.add_argument(
        "--key-col", default=None,
        help="key column: blocks carry key_min/key_max zone maps for "
             "range-skipping reads (decode_df(key_range=...))",
    )
    ap.add_argument(
        "--key-bloom", action="store_true",
        help="with --key-col: store per-block Bloom filters (~1 byte/key) "
             "for point-lookup block skipping (decode_df(key_equals=...))",
    )
    ap.add_argument("--master", default=None, help="override master (default: cluster/local env)")
    ap.add_argument(
        "--policy",
        choices=["balanced", "size", "speed"],
        default=None,
        help="codec policy (default: ZS_CODEC_POLICY env or balanced)",
    )
    args = ap.parse_args()
    if args.policy:
        # before the session: every encode reads the policy from the env
        # at call time, and the python workers inherit the env
        os.environ["ZS_CODEC_POLICY"] = args.policy

    from pyspark.sql import SparkSession, functions as F

    from zebra_spark.operators.checkpoint import (
        checkpointed_encode,
        committed_units,
        read_checkpointed_blocks,
    )
    from zebra_spark.plans.summary import blocks_summary

    builder = SparkSession.builder.appName("zebra-spark-encode")
    if args.master:
        builder = builder.master(args.master)
    if args.policy:
        # local mode inherits the env set above; on a real cluster the
        # executors get it via executorEnv
        builder = builder.config(
            "spark.executorEnv.ZS_CODEC_POLICY", args.policy
        )
    spark = builder.getOrCreate()
    if args.policy:
        # builder.config is silently ignored when getOrCreate() reuses an
        # already-running session — on a cluster the executors would then
        # keep their old ZS_CODEC_POLICY while the driver uses the new
        # one (mixed-policy encode).  Detect and warn loudly.
        got = spark.conf.get("spark.executorEnv.ZS_CODEC_POLICY", None)
        if got != args.policy:
            print(
                f"WARNING: existing SparkSession reused; executors carry "
                f"ZS_CODEC_POLICY={got!r}, requested {args.policy!r} — "
                "stop the session (or submit a fresh app) to apply the "
                "policy cluster-wide",
                file=sys.stderr,
            )

    from zebra_spark.sources.iceberg import read_input

    df = read_input(spark, args.input, snapshot_id=args.snapshot_id)
    if args.salt_col and args.salt_buckets:
        salt = F.pmod(F.xxhash64(*df.columns), F.lit(args.salt_buckets))
        df = df.repartition(F.col(args.salt_col), salt)
    if args.sort_by:
        df = df.sortWithinPartitions(*args.sort_by.split(","))
    unit_cols = (
        args.unit_cols.split(",") if args.unit_cols else list(df.columns[:1])
    )
    done_before = committed_units(args.output)
    if args.key_bloom and not args.key_col:
        raise SystemExit("--key-bloom requires --key-col")
    encoded = checkpointed_encode(
        spark,
        df,
        args.output,
        unit_cols,
        n_units=args.units,
        rows_per_block=args.rows_per_block,
        key_col=args.key_col,
        key_bloom=args.key_bloom,
    )
    print(
        f"resumed-from={len(done_before)} units, encoded-now={len(encoded)} units"
    )
    blocks = read_checkpointed_blocks(spark, args.output)
    summary = blocks_summary(blocks).collect()[0].asDict()
    print("summary:", summary)
    spark.stop()


if __name__ == "__main__":
    main()
