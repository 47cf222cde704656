"""zs — zebra-cli command parity over the zebra_spark operators.

Mirrors the reference's CLI surface (zebra-cli/main/zebra.hs — import,
export, merge, adapt, summary, consistency, cat) so a zebra user can run
the same commands against this engine, plus `zwrite`/`zread` for the
binary `||ZEBRA||00003||` file container:

    python tools/zs.py import  --input text_dir --output blocks_dir
    python tools/zs.py export  --input blocks_dir --output text_dir
    python tools/zs.py cat     --input blocks_dir --limit 10
    python tools/zs.py merge   --inputs a_blocks,b_blocks --keys doc_id \
                               --output merged_blocks [--max-row-bytes N]
    python tools/zs.py adapt   --input blocks_dir --schema t.zschema \
                               --output blocks_dir2
    python tools/zs.py summary --input blocks_dir
    python tools/zs.py verify  --input blocks_dir
    python tools/zs.py consistency --input blocks_dir
    python tools/zs.py zwrite  --input blocks_dir --output zfiles_dir
    python tools/zs.py zread   --inputs f1.zebra,f2.zebra --output parquet_dir

Blocks directories are the parquet blocks tables written by
`encode_df(...).write.parquet(...)`; they are self-describing (schema
bytes ride in the blocks), so no external schema is needed to read one.
On a cluster, submit with `spark-submit --py-files zebra_spark.zip`.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark(args):
    from zebra_spark.session import get_spark

    # --policy must reach executor python workers too: local mode inherits
    # the driver env, real clusters need executorEnv (same as
    # run_encode_job.py)
    extra = (
        {"spark.executorEnv.ZS_CODEC_POLICY": args.policy}
        if getattr(args, "policy", None)
        else None
    )
    spark = get_spark(
        master=args.master, app_name=f"zs-{args.cmd}", extra_conf=extra
    )
    if getattr(args, "policy", None):
        # extra_conf is silently ignored when getOrCreate() reuses a
        # running session; executors would keep the old policy
        got = spark.conf.get("spark.executorEnv.ZS_CODEC_POLICY", None)
        if got != args.policy:
            print(
                f"WARNING: existing SparkSession reused; executors carry "
                f"ZS_CODEC_POLICY={got!r}, requested {args.policy!r}",
                file=sys.stderr,
            )
    return spark


def _read_blocks(spark, path, columns=None, key_range=None, key_equals=None):
    """(blocks_frame_or_None, decoded_df) for a blocks-parquet dir OR a
    directory of `||ZEBRA||00003||` files / a single .zebra file (the
    reference CLI operates on zbin files directly; so do we).

    ``columns``/``key_range`` push into decode_df on the blocks-parquet
    path: unread sections are skipped inside each block, and zone maps
    drop non-intersecting blocks before the decode UDF.  On `.zebra`
    map-table inputs, key_range skips blocks in-stream via the ascending
    key invariant (value sections never decompress); projection applies
    post-read.  The caller's exact row filter does the range either way
    (block-granular)."""
    import glob as _glob

    from zebra_spark.operators.decode import decode_df

    zfiles = (
        [path]
        if path.endswith(".zebra") or path.endswith(".zbin")
        else sorted(
            _glob.glob(os.path.join(path, "*.zebra"))
            + _glob.glob(os.path.join(path, "*.zbin"))
        )
    )
    if zfiles:
        from zebra_spark.operators.zfile import read_zebra_files

        # map-table .zebra files skip blocks in-stream via the ascending
        # key invariant (r6); projection applies post-read (V3 blocks
        # decode whole); key_equals has no .zebra pushdown (no blooms)
        df = read_zebra_files(spark, zfiles, key_range=key_range)
        if columns:
            df = df.select(*columns)
        return None, df
    blocks = spark.read.parquet(path)
    return blocks, decode_df(
        blocks,
        columns=columns,
        key_range=key_range,
        key_equals=key_equals,
    )


def _parse_key_range(s, numeric: bool):
    """'LO:HI' -> (lo, hi); either side empty = unbounded.  ``numeric``
    comes from the KEY COLUMN's actual type — bounds must be typed like
    the keys, or the comparison is garbage both against the zone maps
    (int keys pad via _key_str; string keys compare naturally — int-
    coercing digit-string bounds would drop every block) and against
    .zebra map keys (str-vs-int compares raise)."""

    lo, _, hi = s.partition(":")

    def cv(x):
        if x == "":
            return None
        if not numeric:
            return x
        try:
            return int(x)
        except ValueError:
            raise SystemExit(
                f"--key-range bound {x!r} is not an integer but the key "
                "column is numeric"
            )

    return cv(lo), cv(hi)


def cmd_import(args):
    from zebra_spark.operators.encode import encode_df
    from zebra_spark.operators.textio import import_json

    spark = _spark(args)
    if args.input.endswith(".ztxt") or (args.schema or "").endswith(".zschema"):
        # reference text format: value codec + .zschema (Json/Logical.hs)
        from zebra_spark.operators.ztxt import read_ztxt

        schema_path = args.schema or args.input[: -len(".ztxt")] + ".zschema"
        with open(schema_path) as f:
            df = read_ztxt(spark, args.input, f.read())
    else:
        df = import_json(spark, args.input, schema=args.schema)
    if args.sort_by:
        # layout flag: group like rows into the same blocks (per-block
        # dictionaries/FSE tables stop paying the mixture penalty); no
        # shuffle — sort stays within partitions
        df = df.sortWithinPartitions(*args.sort_by.split(","))
    if args.output_v3:
        _write_v3(df, args.output, args.rows_per_block)
        print(json.dumps({"imported_rows": df.count(), "output": args.output}))
        return
    blocks = encode_df(df, rows_per_block=args.rows_per_block)
    blocks.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"imported_rows": df.count(), "output": args.output}))


def _write_v3(df, out_dir, rows_per_block):
    """Write a directory of `||ZEBRA||00003||` files (zebra import/merge
    --output-v3 parity).  Map tables are range-sorted by key first —
    zebra's Logical.Map is an ordered map (decodeLogical sorts via
    Map.fromList), and each range partition becomes one internally-sorted
    file, so the per-block ascending-keys invariant holds at any input
    order."""
    import shutil

    from zebra_spark.operators.zfile import write_zebra_files
    from zebra_spark.operators.zschema import MAP_TABLE_META

    fields = df.schema.fields
    if fields and (fields[0].metadata or {}).get(MAP_TABLE_META):
        df = df.orderBy("key")
    shutil.rmtree(out_dir, ignore_errors=True)
    write_zebra_files(df, out_dir, rows_per_block=rows_per_block).collect()


def cmd_export(args):
    from zebra_spark.operators.textio import export_json

    spark = _spark(args)
    df = _ranged_read(spark, args)
    if args.schema_stdout:
        from zebra_spark.operators.zschema import to_zschema

        sys.stdout.write(to_zschema(df.schema))
        return
    if getattr(args, "format", "json") == "ztxt" or args.output_stdout:
        from zebra_spark.operators.zschema import struct_to_zschema, to_zschema
        from zebra_spark.operators.ztxt import (
            render_ztxt_lines,
            table_kind,
            write_ztxt_file,
        )

        node = struct_to_zschema(df.schema)
        if args.output_stdout:
            if table_kind(node) == "binary":
                for r in df.toLocalIterator():
                    v = r["value"]
                    sys.stdout.write(v if isinstance(v, str) else bytes(v).decode("utf-8"))
            else:
                for r in render_ztxt_lines(df, node).toLocalIterator():
                    sys.stdout.write(r["value"] + "\n")
            return
        n = write_ztxt_file(df, args.output, node)
        with open(args.output + ".zschema", "w") as f:
            f.write(to_zschema(df.schema))
        print(json.dumps({"exported_rows": n, "output": args.output}))
        return
    export_json(df, args.output)
    print(json.dumps({"exported_rows": df.count(), "output": args.output}))


def cmd_cat(args):
    spark = _spark(args)
    if getattr(args, "blocks", False):
        # block-metadata manifest (no payload decode)
        from zebra_spark.plans.summary import block_manifest

        try:
            blocks = spark.read.parquet(args.input)
            _ = blocks.schema["block_id"], blocks.schema["n_rows"]
        except Exception as e:
            raise SystemExit(
                "zs cat --blocks requires a blocks-parquet directory "
                "(the output of encode_df(...).write.parquet); for .zebra "
                f"files use plain `zs cat` or `zs summary`.  ({e})"
            )
        df = block_manifest(blocks).orderBy("part_start", "key_min")
    else:
        df = _ranged_read(spark, args)
    rows = df.limit(args.limit).toJSON().collect() if args.limit else df.toJSON().collect()
    for r in rows:
        print(r)


def _ranged_read(spark, args):
    """Shared cat/export read: projection + optional exact key predicates
    (--key-range zone maps / in-stream skipping, --key-equals Bloom
    point-lookup skipping), pushed down where the input supports them."""
    requested = getattr(args, "columns", None)
    cols = requested.split(",") if requested else None
    kr_arg = getattr(args, "key_range", None)
    keq_arg = getattr(args, "key_equals", None)
    kr = keq = None
    push_kr = push_keq = None
    if kr_arg or keq_arg:
        if not args.key_col:
            raise SystemExit("--key-range/--key-equals require --key-col")
        # type the bounds/values like the ACTUAL key column (schema peek
        # is one tiny metadata lookup; the frame itself stays lazy)
        from pyspark.sql import types as T

        probe_blocks, probe = _read_blocks(spark, args.input)
        if args.key_col not in probe.columns:
            raise SystemExit(f"--key-col {args.key_col!r} not in table")
        numeric = isinstance(
            probe.schema[args.key_col].dataType, T.NumericType
        )
        if kr_arg:
            kr = _parse_key_range(kr_arg, numeric)
            # .zebra inputs skip blocks on the MAP KEY column (field 0);
            # if the filter column is anything else, skip nothing and let
            # the exact row filter do all the work.  (Blocks-parquet zone
            # maps come from the encode-time key_col — passing a
            # different column is the caller's contract, as in decode_df.)
            push_kr = kr
            if probe_blocks is None and args.key_col != probe.columns[0]:
                push_kr = None
        if keq_arg:
            keq = [
                int(v) if numeric else v for v in keq_arg.split(",") if v != ""
            ]
            if not keq:
                raise SystemExit("--key-equals: no values")
            # blooms live only on blocks-parquet inputs (opt-in at
            # encode); decode_df passes NULL-bloom blocks through
            push_keq = keq if probe_blocks is not None else None
        # the key column must be decoded for the exact row filter;
        # project it in, then drop it if the user didn't ask for it
        if cols and args.key_col not in cols:
            cols = cols + [args.key_col]
    _, df = _read_blocks(
        spark, args.input, columns=cols, key_range=push_kr, key_equals=push_keq
    )
    if kr or keq:
        from pyspark.sql import functions as F

        if kr:
            lo, hi = kr
            if lo is not None:
                df = df.filter(F.col(args.key_col) >= lo)
            if hi is not None:
                df = df.filter(F.col(args.key_col) <= hi)
        if keq:
            df = df.filter(F.col(args.key_col).isin(keq))
        if requested and args.key_col not in requested.split(","):
            df = df.select(*requested.split(","))
    return df


def cmd_merge(args):
    from zebra_spark.operators.encode import encode_df
    from zebra_spark.operators.merge import merge_tables

    spark = _spark(args)
    dfs = [_read_blocks(spark, p)[1] for p in args.inputs.split(",")]
    keys = args.keys.split(",")
    merged, dropped = merge_tables(dfs, keys, max_row_bytes=args.max_row_bytes)
    if args.output_v3:
        # _write_v3 range-sorts map tables by key (each range partition
        # becomes one internally-sorted file — no single-file bottleneck)
        _write_v3(merged, args.output, args.rows_per_block)
        print(
            json.dumps(
                {
                    "merged_keys": merged.count(),
                    "dropped_keys": dropped.count(),
                    "output": args.output,
                }
            )
        )
        return
    # merged blocks carry zone maps on the first merge key: the merge
    # output is exactly the table later read back BY KEY, so keyed reads
    # (decode_df key_range / zs cat --key-range) can skip blocks
    encode_df(
        merged, rows_per_block=args.rows_per_block, key_col=keys[0]
    ).write.mode("overwrite").parquet(args.output)
    print(
        json.dumps(
            {
                "merged_keys": merged.count(),
                "dropped_keys": dropped.count(),
                "output": args.output,
            }
        )
    )


def cmd_adapt(args):
    from zebra_spark.operators.encode import encode_df
    from zebra_spark.operators.merge import transmute
    from zebra_spark.operators.zschema import from_zschema

    spark = _spark(args)
    _, df = _read_blocks(spark, args.input)
    with open(args.schema) as f:
        target = from_zschema(f.read())
    out = transmute(df, target, allow_default=not args.deny_default)
    if args.output_v3:
        _write_v3(out, args.output, args.rows_per_block)
        print(json.dumps({"adapted_rows": out.count(), "output": args.output}))
        return
    encode_df(out, rows_per_block=args.rows_per_block).write.mode(
        "overwrite"
    ).parquet(args.output)
    print(json.dumps({"adapted_rows": out.count(), "output": args.output}))


def cmd_summary(args):
    import glob as _glob

    from zebra_spark.plans.summary import blocks_summary

    spark = _spark(args)
    zfiles = (
        [args.input]
        if args.input.endswith((".zebra", ".zbin"))
        else sorted(
            _glob.glob(os.path.join(args.input, "*.zebra"))
            + _glob.glob(os.path.join(args.input, "*.zbin"))
        )
    )
    if zfiles:
        from zebra_spark.plans.summary import v3_summary

        print(json.dumps(v3_summary(spark, zfiles), default=str))
        return
    blocks = spark.read.parquet(args.input)
    row = blocks_summary(blocks).collect()[0]
    out = {k: row[k] for k in row.asDict()}
    if args.zebra_style:
        out.update(_zebra_summary_fields(spark, blocks, row))
        print(json.dumps(out, default=str))
        return
    print(json.dumps(out, default=str))


def _zebra_summary_fields(spark, blocks, row):
    """zebra `summary` field parity (Command/Summary.hs:64-100): row_count
    counts BYTES for Binary tables, and first/last key render as ztxt JSON
    for Map tables (`<file is not a map>` otherwise)."""
    from pyspark.sql import functions as F

    from zebra_spark.operators.decode import decode_df
    from zebra_spark.operators.zschema import MAP_TABLE_META, struct_to_zschema
    from zebra_spark.operators.ztxt import _render_col, _variant, table_kind
    from zebra_spark.plans.summary import binary_block_byte_counts

    df = decode_df(blocks)
    node = struct_to_zschema(df.schema)
    kind = table_kind(node)
    out = {
        "block_count": row["n_blocks"],
        "row_count": row["total_rows"],
        "max_rows_per_block": row["max_rows_per_block"],
        "first_key": "<file is not a map>",
        "last_key": "<file is not a map>",
    }
    if kind == "binary":
        sizes = binary_block_byte_counts(blocks).collect()
        out["row_count"] = sum(r["n_bytes"] for r in sizes)
        out["max_rows_per_block"] = max((r["n_bytes"] for r in sizes), default=0)
    elif kind == "map":
        _, val = _variant(node, "table")
        render = _render_col(val["key"])
        first = df.orderBy(F.col("key").asc()).select("key").head()
        last = df.orderBy(F.col("key").desc()).select("key").head()
        if first is not None:
            out["first_key"] = json.dumps(
                render(first["key"]), separators=(",", ":"), sort_keys=True,
                ensure_ascii=False,
            )
            out["last_key"] = json.dumps(
                render(last["key"]), separators=(",", ":"), sort_keys=True,
                ensure_ascii=False,
            )
    return out


def cmd_facts(args):
    """`zebra facts` parity (read-only): flatten legacy V2 factset files to
    one JSON line per fact."""
    import glob as _glob

    from zebra_spark.operators.zfile_v2 import read_zebra_v2_files, v2_facts

    spark = _spark(args)
    paths = sorted(_glob.glob(args.input)) or [args.input]
    df = v2_facts(read_zebra_v2_files(spark, paths))
    if args.limit:
        df = df.limit(args.limit)
    for r in df.toJSON().collect():
        print(r)


def _write_v3_map(df, output: str, block_rows: int):
    """Shared V3 write tail for upgrade/fast-merge: generic map-table
    shape (key = entity struct with MAP_TABLE_META, value = attr struct),
    manifest printed as JSON lines."""
    from pyspark.sql import functions as F

    from zebra_spark.operators.zfile import write_zebra_files
    from zebra_spark.operators.zschema import MAP_TABLE_META

    attrs = [c for c in df.columns if c not in ("entity_hash", "entity_id")]
    out = df.select(
        F.struct("entity_hash", "entity_id").alias(
            "key", metadata={MAP_TABLE_META: True}
        ),
        F.struct(*attrs).alias("value"),
    ).sortWithinPartitions("key")
    manifest = write_zebra_files(out, output, rows_per_block=block_rows)
    for r in manifest.collect():
        print(json.dumps(r.asDict(), default=str))


def cmd_fast_merge(args):
    """`zebra fast-merge` parity: k-way merge of V2 factset file sets
    ((time ASC, factset_id DESC) per entity/attribute, input order breaks
    ties — zebra_merge.c:27-77), written forward as V3 map-table files."""
    import glob as _glob

    from zebra_spark.operators.zfile_v2 import fast_merge_v2

    spark = _spark(args)
    input_sets = [
        sorted(_glob.glob(spec)) or [spec] for spec in args.inputs.split(",")
    ]
    _write_v3_map(fast_merge_v2(spark, input_sets), args.output, args.block_rows)


def cmd_upgrade(args):
    """Convert legacy V2 factset files to self-describing V3 files in the
    generic map form (key = entity struct, value = struct of attributes) —
    the forward path the reference's own tableOfBlock defines."""
    import glob as _glob

    from zebra_spark.operators.zfile_v2 import read_zebra_v2_files

    spark = _spark(args)
    paths = sorted(_glob.glob(args.input)) or [args.input]
    # cache: the V2 python block parse dominates cost and feeds BOTH the
    # duplicate-key check and the write (3 scans -> 1 without it).  The
    # ordinal keeps cross-file tie order = path order in the merge path.
    df = read_zebra_v2_files(spark, paths, with_ordinal=True).cache()
    dup_free = (
        df.groupBy("entity_hash", "entity_id").count().filter("count > 1").isEmpty()
    )
    if dup_free:
        df = df.drop("__file")
    else:
        # an entity spanning blocks (or files) reads as multiple rows; the
        # V3 map table needs dup-free keys — collapse via the merge path
        from zebra_spark.operators.zfile_v2 import (
            merge_map_form,
            read_v2_header,
            spark_schema_v2,
        )

        names, nodes = read_v2_header(paths[0])
        df = merge_map_form([df], spark_schema_v2(names, nodes))
    _write_v3_map(df, args.output, args.block_rows)


def cmd_consistency(args):
    from zebra_spark.plans.summary import consistency_check

    spark = _spark(args)
    blocks = spark.read.parquet(args.input)
    bad = consistency_check(blocks).collect()
    for r in bad:
        print(json.dumps(r.asDict(), default=str))
    print(json.dumps({"violations": len(bad)}))
    if bad:
        sys.exit(1)


def cmd_verify(args):
    from pyspark.sql import functions as F

    from zebra_spark.operators.verify import verify_blocks

    spark = _spark(args)
    blocks = spark.read.parquet(args.input)
    r = (
        verify_blocks(blocks)
        .groupBy()
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(F.col("crc_ok").cast("long")).alias("crc_ok"),
            F.sum(F.col("decode_ok").cast("long")).alias("decode_ok"),
            F.sum(F.col("reencode_ok").cast("long")).alias(
                "reencode_ok"
            ),
        )
        .collect()[0]
    )
    print(json.dumps(r.asDict()))
    if not (r["n_blocks"] == r["crc_ok"] == r["decode_ok"]):
        sys.exit(1)


def cmd_zwrite(args):
    from zebra_spark.operators.zfile import write_zebra_files

    spark = _spark(args)
    _, df = _read_blocks(spark, args.input)
    manifest = write_zebra_files(df, args.output, rows_per_block=args.rows_per_block)
    paths = [r["path"] for r in manifest.collect()]
    print(json.dumps({"files": paths}))


def cmd_zread(args):
    from zebra_spark.operators.zfile import read_zebra_files

    spark = _spark(args)
    df = read_zebra_files(spark, args.inputs.split(","))
    df.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows": spark.read.parquet(args.output).count(), "output": args.output}))


def main(argv=None):
    ap = argparse.ArgumentParser(prog="zs", description=__doc__)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument(
        "--policy",
        choices=["balanced", "size", "speed"],
        default=None,
        help="codec policy for encodes (default: ZS_CODEC_POLICY env or "
        "balanced; `size` = cold-archive max compression, `speed` = "
        "decode-fastest, no probe-gated codecs)",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser(
        "import", help="line-JSON or reference .ztxt (+.zschema) -> blocks"
    )
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument(
        "--schema", default=None,
        help="schema DDL/json, or a .zschema file (selects the ztxt value codec)",
    )
    p.add_argument("--rows-per-block", type=int, default=1 << 16)
    p.add_argument("--output-v3", action="store_true",
                   help="write ||ZEBRA||00003|| files instead of parquet blocks")
    p.add_argument("--sort-by", default=None,
                   help="comma list: sortWithinPartitions before encode "
                        "(block-homogeneity layout flag, ~5%% on token "
                        "columns; no shuffle)")
    p.set_defaults(fn=cmd_import)

    p = sub.add_parser("export", help="blocks -> line-JSON or reference ztxt")
    p.add_argument("--input", required=True)
    p.add_argument("--output", default=None)
    p.add_argument("--format", choices=["json", "ztxt"], default="json")
    p.add_argument("--columns", default=None, help="comma list projection")
    p.add_argument("--key-col", default=None,
                   help="key column for --key-range's exact row filter")
    p.add_argument("--key-range", default=None,
                   help="LO:HI range export (block skipping pushed down "
                        "where the input supports it)")
    p.add_argument("--key-equals", default=None,
                   help="comma list of key values (Bloom skipping + exact filter)")
    p.add_argument("--output-stdout", action="store_true",
                   help="print ztxt data lines to stdout (zebra export --output-stdout)")
    p.add_argument("--schema-stdout", action="store_true",
                   help="print the .zschema to stdout (zebra export --schema-stdout)")
    p.set_defaults(fn=cmd_export)

    p = sub.add_parser("cat", help="print decoded rows as JSON lines")
    p.add_argument("--input", required=True)
    p.add_argument("--limit", type=int, default=0, help="0 = all rows")
    p.add_argument("--columns", default=None, help="comma list projection")
    p.add_argument(
        "--blocks", action="store_true",
        help="dump per-block metadata (id, key range, sizes) instead of rows",
    )
    p.add_argument(
        "--key-col", default=None,
        help="key column for --key-range's exact row filter",
    )
    p.add_argument(
        "--key-range", default=None,
        help="LO:HI (either side empty = unbounded): zone-map block "
             "skipping on blocks-parquet inputs + exact row filter on "
             "--key-col",
    )
    p.add_argument(
        "--key-equals", default=None,
        help="comma list of key values: Bloom point-lookup block skipping "
             "(blocks encoded with key_bloom=True) + exact row filter",
    )
    p.set_defaults(fn=cmd_cat)

    p = sub.add_parser("merge", help="k-way merge of blocks tables by key")
    p.add_argument("--inputs", required=True, help="comma list of blocks dirs")
    p.add_argument("--keys", required=True, help="comma list of key columns")
    p.add_argument("--output", required=True)
    p.add_argument("--max-row-bytes", type=int, default=None)
    p.add_argument("--rows-per-block", type=int, default=1 << 16)
    p.add_argument("--output-v3", action="store_true",
                   help="write ||ZEBRA||00003|| files (zebra merge --output-v3)")
    p.set_defaults(fn=cmd_merge)

    p = sub.add_parser("adapt", help="transmute blocks to a target .zschema")
    p.add_argument("--input", required=True)
    p.add_argument("--schema", required=True, help=".zschema file")
    p.add_argument("--output", required=True)
    p.add_argument("--deny-default", action="store_true")
    p.add_argument("--rows-per-block", type=int, default=1 << 16)
    p.add_argument("--output-v3", action="store_true",
                   help="write ||ZEBRA||00003|| files instead of parquet blocks")
    p.set_defaults(fn=cmd_adapt)

    p = sub.add_parser("summary", help="one-line JSON blocks summary")
    p.add_argument("--input", required=True)
    p.add_argument("--zebra-style", action="store_true",
                   help="add zebra summary fields (block_count/row_count/first_key/...)")
    p.set_defaults(fn=cmd_summary)

    p = sub.add_parser("facts", help="flatten legacy ||ZEBRA||00002|| factset files to JSON fact lines")
    p.add_argument("--input", required=True, help="V2 file path or glob")
    p.add_argument("--limit", type=int, default=0)
    p.set_defaults(fn=cmd_facts)

    p = sub.add_parser("fast-merge", help="k-way merge V2 factset file sets -> V3 map-table files")
    p.add_argument("--inputs", required=True,
                   help="comma-separated V2 paths/globs, one logical input each")
    p.add_argument("--output", required=True, help="directory for V3 files")
    p.add_argument("--block-rows", type=int, default=1 << 16)
    p.set_defaults(fn=cmd_fast_merge)

    p = sub.add_parser("upgrade", help="convert ||ZEBRA||00002|| factsets to V3 map-table files")
    p.add_argument("--input", required=True, help="V2 file path or glob")
    p.add_argument("--output", required=True, help="directory for V3 files")
    p.add_argument("--block-rows", type=int, default=1 << 16)
    p.set_defaults(fn=cmd_upgrade)

    p = sub.add_parser("consistency", help="inter-block order check (exit 1 on violation)")
    p.add_argument("--input", required=True)
    p.set_defaults(fn=cmd_consistency)

    p = sub.add_parser("verify", help="distributed block audit (exit 1 on corruption)")
    p.add_argument("--input", required=True)
    p.set_defaults(fn=cmd_verify)

    p = sub.add_parser("zwrite", help="blocks -> ||ZEBRA||00003|| binary files")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--rows-per-block", type=int, default=1 << 16)
    p.set_defaults(fn=cmd_zwrite)

    p = sub.add_parser("zread", help="||ZEBRA|| files -> parquet")
    p.add_argument("--inputs", required=True, help="comma list of .zebra files")
    p.add_argument("--output", required=True)
    p.set_defaults(fn=cmd_zread)

    args = ap.parse_args(argv)
    if args.policy:
        # every encode reads the policy from the env at call time; it
        # must land there BEFORE the Spark session starts, so the python
        # workers inherit it
        os.environ["ZS_CODEC_POLICY"] = args.policy
    args.fn(args)


if __name__ == "__main__":
    main()
