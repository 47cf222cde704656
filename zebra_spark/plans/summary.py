"""Summary + consistency over the blocks table — `zebra summary` /
`zebra consistency` CLI parity.

Reference:
* summary (zebra-cli/src/Zebra/Command/Summary.hs:64-100+): streaming fold
  over blocks — block count, row count, max rows/block, first/last key.
* consistency (zebra-cli/src/Zebra/Command/Consistency.hs:77-125): checks
  inter-block key ordering — each block's minimum key must be greater than
  the previous block's maximum.

Spark expression: aggregations + a window lag over block metadata — tiny
data (one row per block), so fully driver-friendly regardless of table
scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window, functions as F

from ..session import map_items


def blocks_summary(blocks: DataFrame) -> DataFrame:
    return blocks.groupBy().agg(
        F.count("*").alias("n_blocks"),
        F.sum("n_rows").alias("total_rows"),
        F.max("n_rows").alias("max_rows_per_block"),
        F.min("part_start").alias("first_key"),
        F.max("part_start").alias("last_key"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.sum("zebra_bytes").alias("zebra_bytes"),
        (F.sum("enc_bytes") / F.sum("raw_bytes")).alias("compression_ratio"),
    )


def block_manifest(blocks: DataFrame) -> DataFrame:
    """Per-block metadata dump — `zebra cat` over block headers rather than
    rows (Command/Cat.hs prints per-entity/block structure for V2 factsets;
    the V3-era analogue is this manifest over the blocks table).  One row
    per block: id, key range, row count, byte sizes.  Tiny output (one row
    per block) regardless of table scale — no payload decode."""
    return blocks.select(
        "block_id",
        "part_start",
        "key_min",
        "key_max",
        "n_rows",
        "raw_bytes",
        "enc_bytes",
        "zebra_bytes",
    )


def consistency_check(
    blocks: DataFrame, key_min_col: str = "key_min", key_max_col: str = "key_max"
) -> DataFrame:
    """Rows that violate inter-block ordering (empty result == consistent).

    Expects blocks carrying per-block key ranges (encode_df(key_col=...)).

    Scale shape: block metadata is one row per block (~1.6M rows at 100 TB
    with 64 MB blocks), so a single global window would funnel everything
    into ONE task.  Instead: range-partition by (key_min, block_id), check
    adjacency with a PER-PARTITION window (each range bucket is its own
    window group — no single-task sort), then a boundary exchange compares
    each bucket's first block against the previous bucket's last block over
    the tiny one-row-per-partition frame.
    """
    kmin, kmax = F.col(key_min_col), F.col(key_max_col)
    ranged = blocks.repartitionByRange(kmin, F.col("block_id")).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_in = Window.partitionBy("__pid").orderBy(key_min_col, "block_id")
    inner = (
        ranged.withColumn("__prev_max", F.lag(key_max_col).over(w_in))
        .filter(F.col("__prev_max").isNotNull() & (kmin <= F.col("__prev_max")))
        .select(
            "block_id",
            kmin.alias("block_min"),
            F.col("__prev_max").alias("previous_block_max"),
        )
    )
    # boundary exchange: one row per non-empty range bucket
    bounds = ranged.groupBy("__pid").agg(
        F.min(F.struct(kmin.alias("m"), F.col("block_id").alias("b"))).alias("first"),
        F.max_by(kmax, F.struct(kmin, F.col("block_id"))).alias("last_max"),
    )
    w_b = Window.orderBy("__pid")  # tiny: n_partitions rows
    boundary = (
        bounds.withColumn("__prev_last", F.lag("last_max").over(w_b))
        .filter(
            F.col("__prev_last").isNotNull()
            & (F.col("first.m") <= F.col("__prev_last"))
        )
        .select(
            F.col("first.b").alias("block_id"),
            F.col("first.m").alias("block_min"),
            F.col("__prev_last").alias("previous_block_max"),
        )
    )
    return inner.unionByName(boundary)


def binary_block_byte_counts(blocks: DataFrame) -> DataFrame:
    """Per-block byte counts for a Binary-table blocks frame — zebra's V3
    row count for a Binary table IS the byte count
    (Serial/Binary/Table.hs:38-44), so `zebra summary` parity needs bytes,
    not DataFrame rows.  One parallel pass, block-local, on the reader
    ``decode_df`` uses: a bare stored table is counted in Python tasks
    with no JVM scan of its payloads."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    from ..codec.arrowbuf import batch
    from ..codec.blocks import decode_batch
    from ..operators.decode import _block_rows, _map_blocks, _stored_source

    schema = pa.schema([("block_id", pa.string()), ("n_bytes", pa.int64())])

    def run(batches):
        ids, counts = [], []
        for block_id, _, payload, _, schema_of in _block_rows(batches):
            col = decode_batch(payload, schema_of()).column("value")
            ids.append(block_id)
            n = pa.compute.sum(pa.compute.binary_length(col)).as_py()
            counts.append(n or 0)
        yield batch(schema, {"block_id": ids, "n_bytes": counts})

    return _map_blocks(
        blocks, _stored_source(blocks), run, from_arrow_schema(schema)
    )


def v3_summary(spark, paths: list[str]) -> dict:
    """zebra `summary` over ``||ZEBRA||00003||`` files (Command/Summary.hs:
    64-100 parity): each task STREAMS its run of files (bounded reader;
    ``map_items`` plans the runs by file size) and emits per-file
    partials that reduce driver-side.  Binary tables count BYTES as rows;
    Map tables report first/last key rendered as ztxt JSON."""
    import json as _json

    import pyarrow as pa

    from ..operators import ztxt as _zt
    from ..operators.zfile import _table_kind_of, open_zebra_stream
    from ..operators.zschema import struct_to_zschema

    def run(task_paths):
        for p in task_paths:
            with open(p, "rb") as f:
                schema, blocks, _ = open_zebra_stream(f)
                kind = _table_kind_of(schema)
                render = None
                if kind == "map":
                    node = struct_to_zschema(schema)
                    _, val = _zt._variant(node, "table")
                    render = _zt._render_col(val["key"])
                nb = nr = mx = 0
                fk = lk = None
                for b in blocks:
                    if kind == "binary":
                        n = int(
                            pa.compute.sum(
                                pa.compute.binary_length(b.column("value"))
                            ).as_py()
                            or 0
                        )
                    else:
                        n = b.num_rows
                    nb += 1
                    nr += n
                    mx = max(mx, n)
                    if kind == "map" and b.num_rows:
                        if fk is None:
                            fk = render(b.column("key")[0].as_py())
                        lk = render(b.column("key")[b.num_rows - 1].as_py())
            yield pa.RecordBatch.from_pydict(
                {
                    "path": [p],
                    "n_blocks": [nb],
                    "n_rows": [nr],
                    "max_rows": [mx],
                    "first_key": [None if fk is None else _json.dumps(
                        fk, separators=(",", ":"), sort_keys=True,
                        ensure_ascii=False)],
                    "last_key": [None if lk is None else _json.dumps(
                        lk, separators=(",", ":"), sort_keys=True,
                        ensure_ascii=False)],
                }
            )

    rows = map_items(
        spark,
        paths,
        run,
        "path string, n_blocks long, n_rows long, max_rows long, "
        "first_key string, last_key string",
        [os.path.getsize(p) for p in paths],
    ).collect()
    out = {
        "block_count": sum(r["n_blocks"] for r in rows),
        "row_count": sum(r["n_rows"] for r in rows),
        "max_rows_per_block": max((r["max_rows"] for r in rows), default=0),
        "first_key": "<file is not a map>",
        "last_key": "<file is not a map>",
    }
    keyed = [r for r in rows if r["first_key"] is not None]
    if keyed:
        def sort_key(js):
            v = __import__("json").loads(js)
            if isinstance(v, dict):
                return tuple(v[k] for k in sorted(v))
            return (v,)

        out["first_key"] = min((r["first_key"] for r in keyed), key=sort_key)
        out["last_key"] = max((r["last_key"] for r in keyed), key=sort_key)
    return out
