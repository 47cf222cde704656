"""Dump physical plans of the key operators to PLANS.md.

Run: python tools/explain_plans.py [sf-dir]
(sf-dir defaults to $SPARK_GRAFT_SF_DIR, else the sf0.01 test tables).
Used to audit scale-readiness: pushdown/pruning reaching the scans,
broadcast vs shuffle joins, whole-stage codegen coverage.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    import __spark_entry__ as entry
    from zebra_spark.session import get_spark
    from zebra_spark.operators.encode import encode_df
    from zebra_spark.operators.decode import decode_df
    from zebra_spark.operators.merge import merge_tables

    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    # retired-from-contract queries keep their private _q_* functions
    _qs = entry.queries()

    def q(name):
        fn = _qs.get(name) or getattr(entry, f"_q_{name}")
        return fn(spark, sf_dir)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plans = {}

    blocks = encode_df(docs, rows_per_block=1 << 16)
    plans["encode (scan -> mapInArrow, no shuffle)"] = plan_of(blocks)
    plans["decode (blocks scan -> mapInArrow)"] = plan_of(
        decode_df(blocks, schema=docs.schema)
    )
    zblocks = encode_df(
        docs.orderBy("doc_id"), rows_per_block=64, key_col="doc_id",
        key_bloom=True,
    ).localCheckpoint()
    plans[
        "decode with zone-map key_range (blocks filter ABOVE the decode UDF "
        "— skipped blocks never reach python)"
    ] = plan_of(
        decode_df(
            zblocks,
            schema=docs.schema,
            columns=["doc_id", "lang"],
            key_range=(100, 299),
        )
    )
    plans[
        "decode with Bloom key_equals (pure-codegen probe: constant hashes, "
        "element_at + bit masks — no UDF before the decode)"
    ] = plan_of(
        decode_df(
            zblocks,
            schema=docs.schema,
            columns=["doc_id", "lang"],
            key_equals=[7, 421],
        )
    )
    plans["encode salted (explicit skew repartition)"] = plan_of(
        encode_df(docs, salt_col="source", salt_buckets=8)
    )
    plans["dedup_exact (single shuffle, partial agg)"] = plan_of(
        q("dedup_exact")
    )
    plans["ann_topk (broadcast queries, corpus never shuffles until topk)"] = plan_of(
        q("ann_topk")
    )
    a = docs.limit(10)
    m, _ = merge_tables([a, a], ["doc_id"])
    plans["merge (union + single groupBy shuffle)"] = plan_of(m)
    plans["token_count (codegen'd, no python)"] = plan_of(
        q("token_count")
    )
    plans[
        "consistency_check (range-partitioned windows + tiny boundary exchange)"
    ] = plan_of(q("consistency_check"))
    plans["minhash_lsh (bands checkpointed once, bucket-count prune before the self-join)"] = plan_of(
        q("minhash_lsh")
    )
    plans["sessionize (one shuffle on key, native session window)"] = plan_of(
        q("sessionize")
    )
    plans["ivf_ann_topk (probe explode + equi-join on cluster_id)"] = plan_of(
        q("ivf_ann_topk")
    )
    plans["bpe_token_count (pure codegen regexp, no python)"] = plan_of(
        q("bpe_token_count")
    )
    plans["corpus_clean (scan-level quality+sample predicates, one dedup shuffle)"] = plan_of(
        q("corpus_clean")
    )
    plans["deterministic_sample (pure scan predicate, no shuffle)"] = plan_of(
        q("deterministic_sample")
    )
    plans["lsh_ann_topk (bucket equi-join + partition-local topk before the rank shuffle)"] = plan_of(
        q("lsh_ann_topk")
    )
    plans["minhash_lsh_md5 (md5 signatures checkpointed once, band equi-joins)"] = plan_of(
        q("minhash_lsh_md5")
    )
    plans["reversed_latest_wins (Reversed-aware window, one shuffle)"] = plan_of(
        q("reversed_latest_wins")
    )
    # ztxt import: text scan -> mapInArrow parse, no shuffle
    import os as _os
    import tempfile as _tmp

    from zebra_spark.operators.zschema import struct_to_zschema
    from zebra_spark.operators.ztxt import read_ztxt

    d = _tmp.mkdtemp(prefix="zs_plan_ztxt_")
    try:
        node = struct_to_zschema(docs.limit(5).schema)
        import json as _json

        from zebra_spark.operators.ztxt import write_ztxt_file

        path = _os.path.join(d, "t.ztxt")
        write_ztxt_file(docs.limit(5), path, node)
        ztext = _json.dumps({"version": "v0", "schema": node})
        plans["ztxt import (text scan -> mapInArrow parse, no shuffle)"] = plan_of(
            read_ztxt(spark, path, ztext)
        )
    finally:
        import shutil as _shutil

        _shutil.rmtree(d, ignore_errors=True)

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            "# Physical plans of key operators (auto-generated)\n\n"
            "Generated by tools/explain_plans.py — audit notes inline.\n"
        )
        for title, p in plans.items():
            f.write(f"\n## {title}\n\n```\n{p}\n```\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
