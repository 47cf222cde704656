"""Read-only support for legacy ``||ZEBRA||00002||`` factset files.

The V2 container predates the generic-table V3 format: a file is a
sequence of ENTITY blocks, each holding entities, a flattened
(attribute, row-count) index per entity, a (time, factset_id, tombstone)
index per fact row, and one striped table per attribute
(Serial/Binary/Block.hs:133-423).  The header carries the attribute
names and one SchemaV0 JSON per attribute (Serial/Binary/Header.hs:99-137,
Json/Schema.hs:81-215).

We surface a V2 file exactly the way the reference itself modernises it —
``tableOfBlock`` (Factset/Table.hs:85-248) turns a block into the generic
map form::

    Map  (entity_hash, entity_id)
         struct of attributes, each:
             [ { time, factset_id,             -- one entry per distinct
                 values: [ {tag, v_some} ] } ] -- consecutive (time,factset)
                                               -- run; tag 0 = tombstone

i.e. one DataFrame row per entity with ``entity_hash``/``entity_id``
columns plus one column per attribute of type
``array<struct<time, factset_id, values array<struct<tag, v_some>>>>``
(``factset_id`` is Reversed in zebra — larger ids sort first; ordering
metadata only, the stored value is surfaced as-is).  Consecutive equal
``(time, factset_id)`` pairs group into one map entry, matching
``segmentedGroupOn`` in ``attributeTable`` (Factset/Table.hs:174-200);
tombstones are the reference's ``none`` variant (tag 0, fromTombstone).

Wire differences from V3 handled here: Binary table payloads are
``sized_byte_array`` (u32 uncompressed size prefix) instead of
``byte_array`` (Serial/Binary/Table.hs:36-41), and the schema dialect is
SchemaV0 (single-key variant objects, ``column`` instead of ``schema``,
no defaults/encodings).

Writes stay out of scope (V2 is the reference's own legacy format; its
CLI also only converts forward).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

from pyspark.sql import types as T

from ..codec.bytecodec import unpack_sized_byte_array, unpack_strings
from ..codec.intcodec import unpack_int_array
from ..session import map_items

MAGIC_V2 = b"||ZEBRA||00002||"

__all__ = [
    "read_v2_header",
    "open_zebra_v2_stream",
    "read_zebra_v2_files",
    "spark_schema_v2",
    "v2_facts",
    "fast_merge_v2",
    "merge_map_form",
]


# ---------------------------------------------------------------------------
# SchemaV0 parsing (Json/Schema.hs:81-215)


def _variant(node: dict, what: str):
    if not isinstance(node, dict) or len(node) != 1:
        raise ValueError(f"SchemaV0: expected single-variant object for {what}, got {node!r}")
    return next(iter(node.items()))


def _v0_column_to_arrow(node: dict) -> pa.DataType:
    """Surfaced arrow type for a SchemaV0 column node."""
    name, val = _variant(node, "column")
    if name == "int":
        return pa.int64()
    if name == "double":
        return pa.float64()
    if name == "enum":
        fields = [pa.field("tag", pa.int64(), nullable=False)]
        for v in val["variants"]:
            vn, vcol = v["name"], v["column"]
            cn, _ = _variant(vcol, f"variant {vn}")
            if cn == "unit":
                continue  # unit variants are invisible physically
            fields.append(pa.field(f"v_{vn}", _v0_column_to_arrow(vcol), nullable=False))
        return pa.struct(fields)
    if name == "struct":
        return pa.struct(
            [
                pa.field(f["name"], _v0_column_to_arrow(f["column"]), nullable=False)
                for f in val["fields"]
            ]
        )
    if name == "nested":
        tname, tval = _variant(val["table"], "nested table")
        if tname == "binary":
            return pa.binary()
        if tname == "array":
            return pa.list_(_v0_column_to_arrow(tval["element"]))
        if tname == "map":
            return pa.map_(
                _v0_column_to_arrow(tval["key"]), _v0_column_to_arrow(tval["value"])
            )
        raise ValueError(f"SchemaV0: unknown table kind {tname}")
    if name == "reversed":
        return _v0_column_to_arrow(val["column"])
    if name == "unit":
        raise NotImplementedError(
            "SchemaV0: standalone unit columns outside enum variants are not "
            "supported by the V2 reader (they carry no data)"
        )
    raise ValueError(f"SchemaV0: unknown column kind {name}")


# ---------------------------------------------------------------------------
# V2 striped walk (getTable/getColumn with BinaryV2 — Table.hs:84-148)


def _get_table_v0(mv, pos: int, n: int, table_node: dict):
    name, val = _variant(table_node, "table")
    if name == "binary":
        data, pos = unpack_sized_byte_array(mv, pos)  # V2: sized_byte_array
        return ("binary", data), pos
    if name == "array":
        col, pos = _get_column_v0(mv, pos, n, val["element"])
        return ("array", col), pos
    if name == "map":
        k, pos = _get_column_v0(mv, pos, n, val["key"])
        v, pos = _get_column_v0(mv, pos, n, val["value"])
        return ("map", (k, v)), pos
    raise ValueError(f"SchemaV0: unknown table kind {name}")


def _get_column_v0(mv, pos: int, n: int, node: dict):
    name, val = _variant(node, "column")
    if name == "int":
        vals, pos = unpack_int_array(mv, n, pos)
        return pa.array(vals, pa.int64()), pos
    if name == "double":
        vals, pos = unpack_int_array(mv, n, pos)
        return pa.array(vals.view(np.float64), pa.float64()), pos
    if name == "enum":
        tags, pos = unpack_int_array(mv, n, pos)
        children, names = [pa.array(tags, pa.int64())], ["tag"]
        for v in val["variants"]:
            vn, vcol = v["name"], v["column"]
            cn, _ = _variant(vcol, f"variant {vn}")
            if cn == "unit":
                continue  # Striped.Unit reads no bytes
            child, pos = _get_column_v0(mv, pos, n, vcol)
            children.append(child)
            names.append(f"v_{vn}")
        return pa.StructArray.from_arrays(children, names=names), pos
    if name == "struct":
        children, names = [], []
        for f in val["fields"]:
            child, pos = _get_column_v0(mv, pos, n, f["column"])
            children.append(child)
            names.append(f["name"])
        return pa.StructArray.from_arrays(children, names=names), pos
    if name == "nested":
        ns, pos = unpack_int_array(mv, n, pos)
        inner_n = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
        (kind, payload), pos = _get_table_v0(mv, pos + 4, inner_n, val["table"])
        offsets = np.concatenate(([0], np.cumsum(ns))).astype(np.int64)
        if kind == "binary":
            if offsets[-1] != len(payload):
                raise ValueError("V2 nested binary: lengths do not sum to byte count")
            arr = pa.Array.from_buffers(
                pa.large_binary(), n,
                [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(payload)],
            )
            return arr.cast(pa.binary()), pos
        if kind == "array":
            big = pa.LargeListArray.from_arrays(pa.array(offsets, pa.int64()), payload)
            return big.cast(pa.list_(payload.type)), pos
        k, v = payload
        arr = pa.MapArray.from_arrays(
            pa.array(offsets.astype(np.int32), pa.int32()), k, v
        )
        return arr, pos
    if name == "reversed":
        return _get_column_v0(mv, pos, n, val["column"])
    raise ValueError(f"SchemaV0: unsupported column kind {name}")


# ---------------------------------------------------------------------------
# header + block parse (Header.hs:123-137, Block.hs:135-423)


def _parse_v2_header(mv: memoryview):
    if len(mv) < 20:
        raise ValueError("V2 header truncated")
    if bytes(mv[:16]) != MAGIC_V2:
        raise ValueError(f"not a zebra V2 file: {bytes(mv[:16])!r}")
    n = int(np.frombuffer(mv[16:20], dtype="<u4")[0])
    pos = 20
    nlens, nbytes, pos = unpack_strings(mv, n, pos)
    names = _split(nbytes, nlens, decode=True)
    slens, sbytes, pos = unpack_strings(mv, n, pos)
    import json

    nodes = []
    for s in _split(sbytes, slens, decode=True):
        tname, tval = _variant(json.loads(s), "attribute table schema")
        if tname != "array":  # takeArray (Header.hs:130-134)
            raise ValueError(f"V2 attribute schema must be an array table, got {tname}")
        nodes.append(tval["element"])
    return names, nodes, pos


def _split(concat: bytes, lengths: np.ndarray, decode: bool = False):
    out, off = [], 0
    for ln in lengths.tolist():
        piece = concat[off : off + ln]
        out.append(piece.decode("utf-8") if decode else piece)
        off += ln
    return out


def _run_starts(times: np.ndarray, fids: np.ndarray, bounds: np.ndarray):
    """Start mask of consecutive (time, factset_id) groups WITHIN each
    segment (segmentedGroupOn, X.Data.Vector.Generic): a new group starts
    at every segment start and wherever the pair changes."""
    n = len(times)
    starts = np.zeros(n, dtype=bool)
    if n:
        starts[0] = True
        starts[1:] = (times[1:] != times[:-1]) | (fids[1:] != fids[:-1])
        # segment starts always begin a group; a ZERO-count attribute entry
        # (the reference densifies blocks with BlockAttribute(aid, 0)) puts
        # its start at the next entry's offset — possibly n — so clamp
        starts[bounds[bounds < n]] = True
    return starts


def _parse_v2_block(mv: memoryview, names: list, nodes: list):
    """One V2 block -> (RecordBatch, consumed): one row per entity."""
    # --- entities (Block.hs:171-225)
    if len(mv) < 4:
        raise ValueError("V2 block truncated: no entity count")
    ecount = int(np.frombuffer(mv[:4], dtype="<u4")[0])
    pos = 4
    hashes, pos = unpack_int_array(mv, ecount, pos)
    idlens, idbytes, pos = unpack_strings(mv, ecount, pos)
    acounts, pos = unpack_int_array(mv, ecount, pos)
    # flattened attributes (Block.hs:237-279)
    if len(mv) < pos + 4:
        raise ValueError("V2 block truncated: no attribute count")
    fcount = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
    pos += 4
    f_aids, pos = unpack_int_array(mv, fcount, pos)
    f_rows, pos = unpack_int_array(mv, fcount, pos)
    if int(acounts.sum()) != fcount:
        raise ValueError("V2 block: attr_count != sum entity_attr_count")
    # --- indices (Block.hs:284-355)
    if len(mv) < pos + 4:
        raise ValueError("V2 block truncated: no index count")
    icount = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
    pos += 4
    times, pos = unpack_int_array(mv, icount, pos)
    fids, pos = unpack_int_array(mv, icount, pos)
    tombs, pos = unpack_int_array(mv, icount, pos)
    if int(f_rows.sum()) != icount:
        raise ValueError("V2 block: index_count != sum attr_id_count")
    # --- tables (Block.hs:357-423)
    if len(mv) < pos + 4:
        raise ValueError("V2 block truncated: no table count")
    tcount = int(np.frombuffer(mv[pos : pos + 4], dtype="<u4")[0])
    pos += 4
    t_ids, pos = unpack_int_array(mv, tcount, pos)
    t_rows, pos = unpack_int_array(mv, tcount, pos)
    tables = {}
    for aid, trows in zip(t_ids.tolist(), t_rows.tolist()):
        if not (0 <= aid < len(nodes)):
            raise ValueError(f"V2 block: unknown attribute-id {aid}")
        # getTable BinaryV2 n (Array DenyDefault schema) == getColumn
        col, pos = _get_column_v0(mv, pos, trows, nodes[aid])
        tables[aid] = col

    # --- assemble the generic map form (Factset/Table.hs:85-248)
    f_ents = np.repeat(np.arange(ecount, dtype=np.int64), acounts)
    f_off = np.concatenate(([0], np.cumsum(f_rows))).astype(np.int64)
    cols = [
        pa.array(hashes, pa.int64()),
        _binary_from(idbytes, idlens).cast(pa.string()),
    ]
    colnames = ["entity_hash", "entity_id"]
    for aid, (aname, node) in enumerate(zip(names, nodes)):
        sel = np.nonzero(f_aids == aid)[0]  # entries of this attr, entity order
        ent_of_sel = f_ents[sel]
        # fact-row index positions for this attribute, concatenated
        idx = (
            np.concatenate([np.arange(f_off[k], f_off[k + 1]) for k in sel.tolist()])
            if len(sel)
            else np.empty(0, dtype=np.int64)
        )
        a_times, a_fids, a_tombs = times[idx], fids[idx], tombs[idx]
        a_rows = f_rows[sel]
        # group consecutive equal (time, factset_id) within each entry run
        seg_bounds = np.concatenate(([0], np.cumsum(a_rows)))[:-1].astype(np.int64)
        starts = _run_starts(a_times, a_fids, seg_bounds)
        g_start = np.nonzero(starts)[0]
        g_sizes = np.diff(np.concatenate((g_start, [len(a_times)])))
        # map entries per flat entry k: count of group starts inside its run
        runs_cum = np.concatenate(([0], np.cumsum(a_rows)))
        groups_per_entry = (
            np.diff(np.searchsorted(g_start, runs_cum)) if len(sel) else np.empty(0, dtype=np.int64)
        )
        # entries per ENTITY (0 for entities without this attribute)
        per_entity = np.zeros(ecount, dtype=np.int64)
        if len(sel):
            per_entity[ent_of_sel] = groups_per_entry
        table_col = tables.get(aid)
        if table_col is None:
            if len(idx):
                raise ValueError(f"V2 block: facts reference missing table {aid}")
            table_col = pa.nulls(0, _v0_column_to_arrow(node))
        # wire: 0 = NotTombstone, nonzero = Tombstone (Factset/Data.hs:
        # 210-225); enum tag (fromTombstone): Tombstone->0 none, else 1 some
        value_children = [pa.array((a_tombs == 0).astype(np.int64), pa.int64())]
        value_names = ["tag"]
        cn, _ = _variant(node, "value")
        if cn != "unit":
            value_children.append(table_col)
            value_names.append("v_some")
        value_struct = pa.StructArray.from_arrays(value_children, names=value_names)
        values_off = np.concatenate(([0], np.cumsum(g_sizes))).astype(np.int64)
        values_list = pa.LargeListArray.from_arrays(
            pa.array(values_off, pa.int64()), value_struct
        ).cast(pa.list_(value_struct.type))
        entry_struct = pa.StructArray.from_arrays(
            [
                pa.array(a_times[g_start], pa.int64()),
                pa.array(a_fids[g_start], pa.int64()),
                values_list,
            ],
            names=["time", "factset_id", "values"],
        )
        outer_off = np.concatenate(([0], np.cumsum(per_entity))).astype(np.int64)
        outer = pa.LargeListArray.from_arrays(
            pa.array(outer_off, pa.int64()), entry_struct
        ).cast(pa.list_(entry_struct.type))
        cols.append(outer)
        colnames.append(aname)
    return pa.RecordBatch.from_arrays(cols, names=colnames), pos


def _binary_from(concat: bytes, lengths: np.ndarray) -> pa.Array:
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int64)
    arr = pa.Array.from_buffers(
        pa.large_binary(), len(lengths),
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(concat)],
    )
    return arr.cast(pa.binary())


# ---------------------------------------------------------------------------
# public API


def _arrow_schema(names: list, nodes: list) -> pa.Schema:
    fields = [
        pa.field("entity_hash", pa.int64(), nullable=False),
        pa.field("entity_id", pa.string(), nullable=False),
    ]
    for aname, node in zip(names, nodes):
        value_fields = [pa.field("tag", pa.int64(), nullable=False)]
        cn, _ = _variant(node, "value")
        if cn != "unit":
            value_fields.append(
                pa.field("v_some", _v0_column_to_arrow(node), nullable=False)
            )
        entry = pa.struct(
            [
                pa.field("time", pa.int64(), nullable=False),
                pa.field("factset_id", pa.int64(), nullable=False),
                pa.field("values", pa.list_(pa.struct(value_fields)), nullable=False),
            ]
        )
        fields.append(pa.field(aname, pa.list_(entry), nullable=False))
    return pa.schema(fields)


# initial driver-side header read; doubles until the parse succeeds
_HEADER_READ0 = 1 << 22


def read_v2_header(path: str):
    """(attribute names, SchemaV0 element nodes) from a V2 file header.

    The header (attribute names + SchemaV0 JSON) has no size bound, so the
    read doubles from 4 MiB until the parse stops signalling truncation —
    a header larger than one read must not fail with a misleading
    truncation error when the streaming path would parse it fine."""
    with open(path, "rb") as f:
        size = _HEADER_READ0
        while True:
            f.seek(0)
            buf = f.read(size)
            try:
                names, nodes, _ = _parse_v2_header(memoryview(buf))
                return names, nodes
            except (ValueError, IndexError, OSError):
                # OSError = snappy's corrupt-data signal on a cut-short
                # byte_array (same retry set as _StreamReader.parse)
                if len(buf) < size:  # hit EOF: truly truncated/corrupt
                    raise
                size *= 2


def open_zebra_v2_stream(f, chunk_bytes: int = 1 << 20):
    """-> (arrow schema, iterator of per-block RecordBatch, reader) over an
    open V2 file, bounded memory (one block + chunk)."""
    from .zfile import _StreamReader

    rd = _StreamReader(f, chunk_bytes)

    def hdr(mv):
        names, nodes, pos = _parse_v2_header(mv)
        return (names, nodes), pos

    names, nodes = rd.parse(hdr)
    schema = _arrow_schema(names, nodes)

    def blocks():
        while not rd.at_eof():
            yield rd.parse(lambda mv: _parse_v2_block(mv, names, nodes))

    return schema, blocks(), rd


def _v0_column_to_spark(node: dict) -> tuple:
    """(Spark type, field metadata) for a SchemaV0 column node.  Enum
    layouts with unit variants ride the TAG field metadata (the repo's
    collection-element convention) so downstream encodes stay faithful."""
    import json

    name, val = _variant(node, "column")
    if name == "int":
        return T.LongType(), None
    if name == "double":
        return T.DoubleType(), None
    if name == "enum":
        layout = []
        fields = []
        for v in val["variants"]:
            vn, vcol = v["name"], v["column"]
            cn, _ = _variant(vcol, f"variant {vn}")
            layout.append([vn, cn == "unit"])
            if cn != "unit":
                vt, vmd = _v0_column_to_spark(vcol)
                fields.append(T.StructField(f"v_{vn}", vt, False, vmd or None))
        tag_md = {"zebra.enum": json.dumps(layout)}
        return (
            T.StructType(
                [T.StructField("tag", T.LongType(), False, tag_md)] + fields
            ),
            {"zebra.enum": json.dumps(layout)},
        )
    if name == "struct":
        fs = []
        for f in val["fields"]:
            ft, fmd = _v0_column_to_spark(f["column"])
            fs.append(T.StructField(f["name"], ft, False, fmd or None))
        return T.StructType(fs), None
    if name == "nested":
        tname, tval = _variant(val["table"], "nested table")
        if tname == "binary":
            return T.BinaryType(), None
        if tname == "array":
            et, _ = _v0_column_to_spark(tval["element"])
            return T.ArrayType(et, False), None
        if tname == "map":
            kt, _ = _v0_column_to_spark(tval["key"])
            vt, _ = _v0_column_to_spark(tval["value"])
            return T.MapType(kt, vt, False), None
        raise ValueError(f"SchemaV0: unknown table kind {tname}")
    if name == "reversed":
        it, imd = _v0_column_to_spark(val["column"])
        md = dict(imd or {})
        md["zebra.reversed"] = True
        return it, md
    raise NotImplementedError(f"SchemaV0: unsupported column kind {name}")


def spark_schema_v2(names: list, nodes: list) -> T.StructType:
    """Spark schema of the generic map form, metadata-faithful: the values
    enum carries its none|some layout on the tag field, factset_id is
    marked zebra.reversed (Factset/Table.hs:160-165)."""
    import json

    opt_layout = json.dumps([["none", True], ["some", False]])
    fields = [
        T.StructField("entity_hash", T.LongType(), False),
        T.StructField("entity_id", T.StringType(), False),
    ]
    for aname, node in zip(names, nodes):
        vfields = [
            T.StructField("tag", T.LongType(), False, {"zebra.enum": opt_layout})
        ]
        cn, _ = _variant(node, "value")
        if cn != "unit":
            vt, vmd = _v0_column_to_spark(node)
            vfields.append(T.StructField("v_some", vt, False, vmd or None))
        entry = T.StructType(
            [
                T.StructField("time", T.LongType(), False),
                T.StructField(
                    "factset_id", T.LongType(), False, {"zebra.reversed": True}
                ),
                T.StructField("values", T.ArrayType(T.StructType(vfields), False), False),
            ]
        )
        fields.append(T.StructField(aname, T.ArrayType(entry, False), False))
    return T.StructType(fields)


def read_zebra_v2_files(
    spark, paths: list[str], chunk_bytes: int = 1 << 20, with_ordinal: bool = False
):
    """Parallel read of legacy V2 factset files into the generic map-form
    DataFrame (one row per entity per block), streaming each file with
    bounded memory.  Completes the §2.2 file-format matrix read-only; the
    schema is metadata-faithful (enum layouts on tag fields, reversed
    factset_id) so `zs upgrade` can re-encode to V3 losslessly.

    ``with_ordinal=True`` appends a ``__file`` column carrying each row's
    path index (position in ``paths``): partition ids are a scheduling
    detail, not a contract, so consumers that need stable first-seen tie
    order across files (merge_map_form) sort on this explicit ordinal
    instead of trusting partition ids."""
    names, nodes = read_v2_header(paths[0])
    spark_schema = spark_schema_v2(names, nodes)
    if with_ordinal:
        spark_schema = T.StructType(
            spark_schema.fields + [T.StructField("__file", T.LongType(), False)]
        )
    expected = _arrow_schema(names, nodes)

    def run(task_paths):
        for i, p in task_paths:
            with open(p, "rb") as f:
                got, blocks, _ = open_zebra_v2_stream(f, chunk_bytes)
                # batches bind to the declared schema POSITIONALLY, so a
                # file with reordered/different attributes must fail
                # loudly, not land values in the wrong columns
                if not got.equals(expected):
                    raise ValueError(
                        f"V2 header mismatch in {p}: attributes "
                        f"{got.names} vs expected {expected.names} "
                        "(all files of one read must share the header)"
                    )
                for b in blocks:
                    if with_ordinal:
                        b = b.append_column(
                            "__file", pa.array([i] * b.num_rows, pa.int64())
                        )
                    yield b

    sizes = [os.path.getsize(p) for p in paths]
    return map_items(spark, list(enumerate(paths)), run, spark_schema, sizes)


def v2_facts(df):
    """Flatten the generic map form to one row per FACT — the `zebra facts`
    view: (entity_hash, entity_id, attribute, time, factset_id, tombstone,
    value rendered per attribute column).

    Single pass: every attribute column is normalized to a common entry
    shape (value stringified — atomics cast, composites to_json) INSIDE one
    select, stacked into an array, then exploded twice.  A per-attribute
    union would re-run the whole V2 file parse once per attribute — at
    many attributes that is quadratic input IO."""
    from pyspark.sql import functions as F

    attr_cols = [c for c in df.columns if c not in ("entity_hash", "entity_id")]

    def norm_entries(a: str):
        vstruct = df.schema[a].dataType.elementType["values"].dataType.elementType
        vs = next((f for f in vstruct.fields if f.name == "v_some"), None)

        def value_of(v):
            if vs is None:
                return F.lit(None).cast("string")
            if isinstance(vs.dataType, (T.StructType, T.ArrayType, T.MapType)):
                return F.to_json(v["v_some"])
            return v["v_some"].cast("string")

        entries = F.transform(
            F.col(a),
            lambda e: F.struct(
                e["time"].alias("time"),
                e["factset_id"].alias("factset_id"),
                F.transform(
                    e["values"],
                    lambda v: F.struct(
                        v["tag"].alias("tag"), value_of(v).alias("value")
                    ),
                ).alias("values"),
            ),
        )
        return F.struct(F.lit(a).alias("attribute"), entries.alias("entries"))

    return (
        df.select(
            "entity_hash",
            "entity_id",
            F.explode(F.array(*[norm_entries(a) for a in attr_cols])).alias("attr"),
        )
        .select(
            "entity_hash",
            "entity_id",
            F.col("attr.attribute").alias("attribute"),
            F.explode("attr.entries").alias("entry"),
        )
        .select(
            "entity_hash",
            "entity_id",
            "attribute",
            F.col("entry.time").alias("time"),
            F.col("entry.factset_id").alias("factset_id"),
            F.explode("entry.values").alias("v"),
        )
        .select(
            "entity_hash",
            "entity_id",
            "attribute",
            "time",
            "factset_id",
            (F.col("v.tag") == 0).alias("tombstone"),
            F.col("v.value").alias("value"),
        )
    )


def fast_merge_v2(spark, input_sets: list, chunk_bytes: int = 1 << 20):
    """`zebra fast-merge` semantics over legacy V2 factset file sets: the
    k-way per-(entity, attribute) fact merge ordered by time ASCENDING
    then factset_id DESCENDING (the Reversed ordering zebra_merge.c:41-46
    implements: ``in_time < min_time || (in_time == min_time && in_fsid >
    min_fsid)``), with INPUT ORDER breaking exact (time, factset) ties
    (strict comparison keeps the first-seen input) and entities unioned by
    key.  Returns the merged generic map-form DataFrame (same schema as
    :func:`read_zebra_v2_files`) — write it forward with `zs upgrade`'s V3
    shape rather than back to the legacy container.

    Distributed shape: one union scan (cached), per attribute two
    aggregations keyed by entity — no driver-side data.  factset_id is
    assumed non-negative (zebra allocates them from 0) so ``-factset_id``
    is a safe descending sort key.
    """
    from pyspark.sql import functions as F

    input_sets = [ps if isinstance(ps, list) else [ps] for ps in input_sets]
    dfs = [
        read_zebra_v2_files(spark, ps, chunk_bytes, with_ordinal=True)
        for ps in input_sets
    ]
    names, nodes = read_v2_header(input_sets[0][0])
    schema = spark_schema_v2(names, nodes)
    want = [f.name for f in schema.fields] + ["__file"]
    for d in dfs[1:]:
        if [f.name for f in d.schema.fields] != want:
            raise ValueError("fast-merge: inputs disagree on attribute names")
    return merge_map_form(dfs, schema)


def merge_map_form(dfs: list, schema: T.StructType):
    """Merge generic map-form DataFrames per the fast-merge ordering.  Also
    collapses DUPLICATE entity rows within one input (an entity spanning
    two V2 blocks reads as two rows; its facts are sorted by (time,
    factset) across blocks, so the same sort reassembles them)."""
    from pyspark.sql import functions as F

    attrs = [f.name for f in schema.fields if f.name not in ("entity_hash", "entity_id")]
    # Tie order within one input = (__file, __seq): __file is the explicit
    # path ordinal from read_zebra_v2_files(with_ordinal=True) — partition
    # ids are not a contract of the reader, so monotonically_increasing_id
    # alone (partition-id high bits) must not decide the FILE order of
    # identical-key facts.  __seq then breaks ties within a file (each file
    # streams serially inside one partition, so per-file row order is
    # block order), matching the C kernel's stable first-seen merge.
    # Inputs without the ordinal (single-file or pre-r5 callers) fall back
    # to __seq alone.
    u = dfs[0].withColumn("__rank", F.lit(0))
    for i, d in enumerate(dfs[1:], start=1):
        u = u.unionByName(d.withColumn("__rank", F.lit(i)))
    if "__file" not in u.columns:
        u = u.withColumn("__file", F.lit(0))
    u = u.withColumn("__seq", F.monotonically_increasing_id()).cache()

    def by_fields(*names):
        # comparator over scalar key fields ONLY — the structs carry the
        # values payload, which may contain maps (unorderable in Spark)
        def cmp(x, y):
            expr = F.lit(0)
            for nm in reversed(names):
                expr = F.when(x[nm] < y[nm], F.lit(-1)).when(
                    x[nm] > y[nm], F.lit(1)
                ).otherwise(expr)
            return expr

        return cmp

    out = u.select("entity_hash", "entity_id").distinct()
    for a in attrs:
        ex = u.select(
            "entity_hash",
            "entity_id",
            "__rank",
            "__file",
            "__seq",
            F.explode(a).alias("e"),
        ).select(
            "entity_hash",
            "entity_id",
            "__rank",
            "__file",
            "__seq",
            F.col("e.time").alias("t"),
            F.col("e.factset_id").alias("f"),
            F.col("e.values").alias("vs"),
        )
        # facts at the SAME (time, factset) from different inputs append in
        # input order (the C loop's strict > keeps the earlier input first)
        same_key = ex.groupBy("entity_hash", "entity_id", "t", "f").agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("__rank"), F.col("__file"), F.col("__seq"),
                                F.col("vs"),
                            )
                        ),
                        by_fields("__rank", "__file", "__seq"),
                    ),
                    lambda x: x["vs"],
                )
            ).alias("merged")
        )
        per_entity = same_key.groupBy("entity_hash", "entity_id").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("t"),
                            (-F.col("f")).alias("nf"),  # descending factset
                            F.col("f"),
                            F.col("merged"),
                        )
                    ),
                    by_fields("t", "nf"),
                ),
                lambda x: F.struct(
                    x["t"].alias("time"),
                    x["f"].alias("factset_id"),
                    x["merged"].alias("values"),
                ),
            ).alias(a)
        )
        out = out.join(per_entity, ["entity_hash", "entity_id"], "left")
    for a in attrs:
        elem = schema[a].dataType.elementType
        out = out.withColumn(
            a, F.coalesce(F.col(a), F.array().cast(T.ArrayType(elem, False)))
        )
    # restore the metadata-faithful schema (enum layout on tag fields,
    # reversed factset_id) so a V3 write gets a true enum header
    return out.to(schema)
