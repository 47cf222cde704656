"""Distributed decode: blocks DataFrame -> original DataFrame.

Spark analogue of `zebra export` (zebra-cli/src/Zebra/Command/Export.hs:
114-143): each task decodes its block rows back to Arrow batches.  Fully
parallel — a block is self-describing (schema + payload + crc32).

This module is also the one blocks-table reader, as zebra's streaming
reader (zebra-core/src/Zebra/Serial/Binary/File.hs) is for its export,
summary and merge: ``decode_df``, ``rechunk_blocks``, ``verify_blocks``
and ``binary_block_byte_counts`` all run a task body on ``_map_blocks``,
which reads a bare stored table in Python tasks straight from its
parquet row groups (no JVM scan, no Arrow hop of the payloads) and any
other blocks DataFrame in a ``mapInArrow``, and walk block rows with
``_block_rows``.
"""

from __future__ import annotations

import json
import zlib
from functools import partial
from itertools import groupby
from typing import Callable, Iterator
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema


def spark_schema_with_meta(arrow_schema: pa.Schema) -> T.StructType:
    """Arrow schema -> Spark StructType, restoring the full Spark schema
    (with zebra.* field metadata, nested included) the encoder stored under
    ``zebra.spark_schema`` (mapInArrow strips StructField metadata, so the
    schema JSON rides schema-level in the arrow bytes)."""
    raw = (arrow_schema.metadata or {}).get(b"zebra.spark_schema")
    if raw:
        return T.StructType.fromJson(json.loads(raw.decode()))
    return from_arrow_schema(arrow_schema)

from ..codec.arrowbuf import column, slots, validity, values as np_values
from ..codec.blocks import decode_batch
from ..codec.bloom import bloom_contains
from ..session import map_items
from ..sources.parquet_direct import row_groups

class SchemaBytesMissing(ValueError):
    """A block row has NULL schema bytes and its task has not parsed that
    ``schema_id`` yet: a blocks table written before every row carried
    its schema, then filtered, shuffled or split."""


def _block_rows(
    batches: Iterator[pa.RecordBatch], seed: tuple[str, pa.Schema] | None = None
) -> Iterator[tuple]:
    """The walk over one task's block rows: ``(block_id, n_rows, payload,
    crc32, schema_of)`` per block, ``n_rows`` None without that column
    and ``payload`` a zero-copy ``pa.Buffer`` over the batch's data.
    ``schema_of()`` returns the block's arrow schema, each ``schema_id``
    parsed once per walk, so an audit can record a block whose schema
    bytes are missing or unreadable and go on.  ``seed``, a
    ``(schema_id, schema)`` pair, is known before the first row, so rows
    of older tables that carry only the id still resolve."""
    parsed = dict([seed]) if seed is not None else {}

    def block_schema(rb: pa.RecordBatch, i: int) -> pa.Schema:
        sid = rb.column("schema_id")[i].as_py()
        if sid not in parsed:
            raw = rb.column("schema")[i].as_py()
            if raw is None:
                raise SchemaBytesMissing(
                    f"block {rb.column('block_id')[i].as_py()} has no schema "
                    f"bytes for schema {sid} (a blocks table written before "
                    "every row carried its schema); decode with schema=None, "
                    "or rewrite it with rechunk_blocks"
                )
            parsed[sid] = pa.ipc.read_schema(pa.py_buffer(raw))
        return parsed[sid]

    for rb in batches:
        ids = rb.column("block_id").to_pylist()
        counts = (
            rb.column("n_rows").to_pylist()
            if "n_rows" in rb.schema.names
            else [None] * rb.num_rows
        )
        payloads = slots(rb.column("payload"))
        crcs = rb.column("crc32").to_pylist()
        for i in range(rb.num_rows):
            yield (
                ids[i],
                counts[i],
                payloads[i],
                crcs[i],
                partial(block_schema, rb, i),
            )


def _block_decoder(
    blocks: DataFrame,
    stored: list | None,
    schema=None,
    verify_crc: bool = True,
    columns=None,
    validate_maps: bool = False,
) -> tuple[T.StructType, Callable]:
    """The declared Spark schema of ``blocks``' rows and a per-task
    function that decodes block rows to Arrow batches.

    ``schema`` is taken as given, or else from the first schema-bearing
    block row (``arrow_schema_of``), which then also seeds every task.
    A task yields every batch in one arrow schema, as its Arrow stream
    requires: the seed's, projected to ``columns``, or without a seed
    the task's first batch's, with each top-level field nullable as the
    declared schema says.  A block whose stored schema differs (e.g.
    only in nullability) is cast to it, so a NULL in a field declared
    non-nullable raises; a block in that schema is yielded as decoded.
    A crc32 mismatch (with ``verify_crc``) and a block whose ``n_rows``
    disagrees with the rows it decodes to raise ``ValueError``."""
    seed = None
    if schema is None:
        seed = arrow_schema_of(blocks, stored)
        schema = seed[1]
    if isinstance(schema, pa.Schema):
        schema = spark_schema_with_meta(schema)
    nullable = {f.name: f.nullable for f in schema.fields}

    def task_schema_of(schema: pa.Schema) -> pa.Schema:
        fields = [
            f.with_nullable(nullable.get(f.name, f.nullable))
            for f in schema
            if columns is None or f.name in columns
        ]
        return pa.schema(fields, metadata=schema.metadata)

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        task_schema = None if seed is None else task_schema_of(seed[1])
        for block_id, n, payload, crc, schema_of in _block_rows(batches, seed):
            if verify_crc and crc is not None and zlib.crc32(payload) != crc:
                raise ValueError(f"crc mismatch in block {block_id}")
            out = decode_batch(
                payload,
                schema_of(),
                columns=columns,
                validate_maps=validate_maps,
            )
            if n is not None and out.num_rows != n:
                raise ValueError(
                    f"block {block_id} decodes to {out.num_rows} "
                    f"rows but its n_rows is {n}"
                )
            if task_schema is None:
                task_schema = task_schema_of(out.schema)
            if not out.schema.equals(task_schema):
                out = out.cast(task_schema)
            yield out

    return schema, decode


def arrow_schema_of(blocks: DataFrame, stored) -> tuple[str, pa.Schema]:
    """``(schema_id, arrow schema)`` of the first schema-bearing block
    row: read with pyarrow from the ``stored`` files of a bare stored
    table, else by one ``head()`` job."""
    if stored is None:
        row = (
            blocks.filter(F.col("schema").isNotNull())
            .select("schema_id", "schema")
            .head()
        )
        seed = None if row is None else (row[0], bytes(row[1]))
    else:
        seed = _stored_seed(stored)
    if seed is None:
        raise ValueError("blocks DataFrame is empty; pass an explicit schema")
    return seed[0], pa.ipc.read_schema(pa.py_buffer(seed[1]))


def _stored_source(
    blocks: DataFrame, key_range=None
) -> list[tuple[str, pq.FileMetaData]] | None:
    """``(file, footer)`` of each sorted local file of ``blocks`` when it
    is a bare stored parquet table holding the block columns (and, with
    ``key_range``, the zone maps): its optimized plan is a parquet
    relation without partition columns, at most under a Project of plain
    columns.  None for any other DataFrame (filtered, repartitioned,
    unioned, cached, computed, directory-partitioned, or stored off the
    local file system).  An operator finds it once, for both the schema
    seed and ``_map_blocks``."""
    needed = {"block_id", "payload", "crc32", "schema_id", "schema"}
    if key_range is not None:
        needed |= {"key_min", "key_max"}
    if not needed <= set(blocks.columns):
        return None
    plan = blocks._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "Project":
        exprs = plan.projectList()
        if any(
            exprs.apply(i).getClass().getSimpleName() != "AttributeReference"
            for i in range(exprs.size())
        ):
            return None
        plan = plan.child()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        or rel.partitionSchema().length() != 0
    ):
        return None
    files = []
    for uri in blocks.inputFiles():
        url = urlparse(uri)
        if url.scheme not in ("", "file"):
            return None
        files.append(unquote(url.path))
    return [(f, pq.read_metadata(f)) for f in sorted(files)]


def _stored_seed(stored: list) -> tuple[str, bytes] | None:
    """``(schema_id, schema bytes)`` of the first schema-bearing row of the
    ``stored`` files, or None when no row carries schema bytes."""
    for f, md in stored:
        with pq.ParquetFile(f, metadata=md, buffer_size=_READ_BUFFER) as pf:
            for rb in pf.iter_batches(batch_size=64, columns=["schema_id", "schema"]):
                raws = rb.column("schema")
                if raws.null_count < rb.num_rows:
                    i = validity(raws).argmax()
                    return rb.column("schema_id")[i].as_py(), raws[i].as_py()
    return None


def _zone_bounds(key_range) -> tuple[str | None, str | None]:
    """``key_range = (lo, hi)`` in the order-preserving string form
    ``encode._key_str`` writes to key_min/key_max."""
    from .encode import _key_str

    lo, hi = key_range
    for b in (lo, hi):
        # r7 (ADVICE): float bounds stringify to a non-lexicographically-
        # ordered form ('10.0' < '2.0'), so blocks holding in-range rows
        # would be SILENTLY skipped — reject instead of losing rows.  The
        # zfile range reader has the same int/string discipline
        # (_validate_key_range); date/datetime stringify ordered.
        if isinstance(b, float):
            raise TypeError(
                "key_range bounds must be int/string/date/timestamp — "
                f"float bound {b!r} has no order-preserving string form"
            )
    return (
        None if lo is None else _key_str(lo),
        None if hi is None else _key_str(hi),
    )


def _lookup_values(key_equals) -> list:
    values = key_equals if isinstance(key_equals, (list, tuple)) else [key_equals]
    if not values:
        raise ValueError("key_equals: need at least one lookup value")
    return list(values)


def zone_map_filter(blocks: DataFrame, key_range) -> DataFrame:
    """Block-skipping predicate over the per-block zone maps.

    Keeps exactly the blocks whose [key_min, key_max] interval intersects
    ``key_range = (lo, hi)`` (either bound may be None = unbounded), plus
    blocks encoded WITHOUT a key_col (NULL zone maps — nothing is known
    about them, so they cannot be skipped).  Bounds are compared in the
    order-preserving string form encode._key_str writes, so the same call
    works for int and string keys.

    This is the natural extension of the reference's min/max key
    discipline (zebra tracks exactly these bounds for Summary.hs:64-100 /
    Consistency.hs:77-125); at 100 TB a keyed point/range read must skip
    block payloads BEFORE the decode UDF ever sees them — the filter runs
    JVM-side on two slim string columns.  A bare stored table is not
    filtered here: ``_map_blocks`` applies the same predicate in its
    Python tasks, after dropping row groups by their statistics.
    """
    lo, hi = _zone_bounds(key_range)
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col("key_max") >= F.lit(lo))
    if hi is not None:
        cond = cond & (F.col("key_min") <= F.lit(hi))
    return blocks.filter(F.col("key_min").isNull() | cond)


def bloom_filter_blocks(blocks: DataFrame, key_equals) -> DataFrame:
    """Point-lookup block skipping on the per-block key Bloom filters
    (codec/bloom.py; written by ``encode_df(key_bloom=True)``).

    ``key_equals``: one lookup value or a list — a block survives when ANY
    value might be present.  Blocks without a filter (NULL key_bloom —
    encoded before the opt-in, or without it) always survive: nothing is
    known about them.  Pure Catalyst: k constant-hash probes per value,
    `element_at` + bit masks inside whole-stage codegen — complements zone
    maps, which only skip when the layout clusters the key."""
    from ..codec.bloom import bloom_might_contain_expr

    if "key_bloom" not in blocks.columns:
        # blocks stored before the bloom column existed: nothing is known,
        # nothing can be skipped
        return blocks
    values = _lookup_values(key_equals)
    cond = bloom_might_contain_expr(F.col("key_bloom"), values[0])
    for v in values[1:]:
        cond = cond | bloom_might_contain_expr(F.col("key_bloom"), v)
    return blocks.filter(cond)


def _row_group_may_meet(md: pq.RowGroupMetaData, lo, hi) -> bool:
    """False only when the row group's key_min/key_max statistics prove
    that none of its block rows meets ``[lo, hi]``; a row group holding
    NULL zone maps is never skipped."""
    stats = {
        md.column(i).path_in_schema: md.column(i).statistics
        for i in range(md.num_columns)
    }
    kmin, kmax = stats.get("key_min"), stats.get("key_max")
    if (
        kmin is None
        or kmax is None
        or not (kmin.has_min_max and kmax.has_min_max)
        or not kmin.has_null_count
        or kmin.null_count
    ):
        return True
    return (lo is None or kmax.max >= lo) and (hi is None or kmin.min <= hi)


def _zone_mask(rb: pa.RecordBatch, lo, hi) -> pa.Array:
    """``zone_map_filter``'s predicate on a batch of block rows: NULL
    key_min rows survive, and a NULL comparison drops the row as Spark's
    filter does."""
    # bounds as Scalars of an array: a Python str would make pyarrow
    # import pandas
    lo_s, hi_s = column([lo, hi], pa.string())
    cond = pc.is_valid(rb.column("key_min"))
    if lo is not None:
        cond = pc.and_kleene(cond, pc.greater_equal(rb.column("key_max"), lo_s))
    if hi is not None:
        cond = pc.and_kleene(cond, pc.less_equal(rb.column("key_min"), hi_s))
    return pc.or_kleene(pc.is_null(rb.column("key_min")), cond)


def _bloom_mask(rb: pa.RecordBatch, values: list) -> pa.Array:
    """``bloom_filter_blocks``' predicate on a batch of block rows, with
    the numpy probe: a NULL filter keeps its block."""
    blooms = rb.column("key_bloom")
    return column(
        [
            not blooms[i].is_valid
            or any(bloom_contains(np_values(blooms[i].values), v) for v in values)
            for i in range(rb.num_rows)
        ],
        pa.bool_(),
    )


# payload bytes a stored-table batch holds, about: a row group of large
# blocks is read one block row a batch, one of small blocks many rows a
# batch (pyarrow's reader costs ~0.2 ms a batch)
_BATCH_BYTES = 1 << 20
_READ_BUFFER = 1 << 20  # bytes a stored file is read through at a time


def _rows_per_batch(meta: pq.RowGroupMetaData) -> int:
    """Block rows a batch of this row group holds: ``_BATCH_BYTES`` of
    payload at the row group's mean payload size, and at least one."""
    payload = next(
        meta.column(j)
        for j in range(meta.num_columns)
        if meta.column(j).path_in_schema == "payload"
    )
    return max(1, _BATCH_BYTES * meta.num_rows // max(1, payload.total_uncompressed_size))


def _stored_batches(
    items: Iterator[tuple[str, int]], cols: list[str], bounds, values
) -> Iterator[pa.RecordBatch]:
    """The block rows of the given ``(file, row group)`` items that
    survive the zone maps and the Bloom filters, read with only the
    ``cols`` a task needs, about ``_BATCH_BYTES`` of payload a batch: a
    task never holds a row group's payload column."""
    for f, group in groupby(items, key=lambda item: item[0]):
        # a buffered stream, not a memory map: a mapped file's touched
        # pages stay resident in the task until the file is closed
        with pq.ParquetFile(f, buffer_size=_READ_BUFFER) as pf:
            present = set(pf.schema_arrow.names)
            for _, rg in group:
                for rb in pf.iter_batches(
                    batch_size=_rows_per_batch(pf.metadata.row_group(rg)),
                    row_groups=[rg],
                    columns=[c for c in cols if c in present],
                ):
                    names = rb.schema.names
                    if bounds is not None and "key_min" in names:
                        rb = rb.filter(_zone_mask(rb, *bounds))
                    if values is not None and "key_bloom" in names:
                        rb = rb.filter(_bloom_mask(rb, values))
                    yield rb


def _map_blocks(
    blocks: DataFrame,
    stored: list | None,
    task: Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]],
    schema,
    key_range=None,
    key_equals=None,
) -> DataFrame:
    """Run ``task`` over batches of ``blocks``' block rows, once per
    Spark task, with only the block columns it needs; ``schema`` is the
    output's.  A bare stored table (``stored``, its ``_stored_source``)
    is read in Python tasks from its row groups, which ``map_items``
    plans by their bytes; ``key_range`` drops row groups by their
    statistics, then block rows by zone map and Bloom filter.  Any other
    DataFrame (filtered, repartitioned, unioned, lazily encoded, cached,
    or with partition columns) is skipped by
    ``zone_map_filter``/``bloom_filter_blocks`` and runs ``task`` in a
    ``mapInArrow``.  Both give ``task`` the same block rows."""
    cols = ["block_id", "n_rows", "payload", "crc32", "schema_id", "schema"]
    if key_range is not None:
        cols += ["key_min", "key_max"]
    if key_equals is not None:
        cols.append("key_bloom")
    # n_rows and key_bloom are optional: without them nothing is checked
    # or skipped, on either path
    cols = [c for c in cols if c in blocks.columns]
    if stored is None:
        if key_range is not None:
            blocks = zone_map_filter(blocks, key_range)
        if key_equals is not None:
            blocks = bloom_filter_blocks(blocks, key_equals)
        return blocks.select(*cols).mapInArrow(task, schema=schema)
    bounds = None if key_range is None else _zone_bounds(key_range)
    values = None if key_equals is None else _lookup_values(key_equals)
    keep = None if bounds is None else lambda md: _row_group_may_meet(md, *bounds)
    items, sizes = row_groups(stored, keep)
    return map_items(
        blocks.sparkSession,
        items,
        lambda run: task(_stored_batches(run, cols, bounds, values)),
        schema,
        sizes,
    )


def decode_df(
    blocks: DataFrame,
    schema=None,
    verify_crc: bool = True,
    columns: list[str] | None = None,
    validate_maps: bool = False,
    resolve_schemas: bool = False,
    key_range=None,
    key_equals=None,
) -> DataFrame:
    """Decode a blocks DataFrame back to the original rows.

    A bare stored table is read in Python tasks straight from its parquet
    row groups; every other DataFrame is decoded by a ``mapInArrow`` over
    its rows (``_map_blocks``).  Both give the same rows.

    ``schema``: pyspark StructType or pyarrow Schema.  When omitted it is
    taken from the first schema-bearing block row: read with pyarrow on a
    stored table (no job), one ``head()`` job otherwise.  Every block row
    carries its schema bytes, so stored, filtered, shuffled and lazily
    encoded blocks all decode the same way.  A block whose ``n_rows``
    disagrees with the rows it decodes to raises ``ValueError``, and so
    does a block holding NULLs in a column ``schema`` declares
    non-nullable (pass a nullable ``schema`` to read such a table).

    ``resolve_schemas``: ignored; accepted so older callers keep running.

    ``columns``: project to these top-level columns INSIDE the block
    decoder — unrequested sections are skipped without decompression
    (block-level column pruning; at 100 TB a 2-column read must not
    bit-unpack the token payloads).

    ``validate_maps``: enforce zebra's sorted/dup-free Map invariant on
    decode (Striped.hs:572-591); opt-in because Spark map columns carry no
    ordering invariant.

    ``key_range``: ``(lo, hi)`` zone-map block skipping (either bound may
    be None).  Blocks whose key_min/key_max interval misses the range are
    dropped before they are decoded — whole payloads skipped without
    decompression; on a stored table whole row groups are first dropped
    by their key_min/key_max statistics.  Zone maps are block-granular:
    surviving blocks may still contain out-of-range rows, so apply the
    exact row predicate after decode.

    ``key_equals``: one value or a list — point-lookup block skipping on
    the per-block key Bloom filters (``encode_df(key_bloom=True)``),
    probed in the decode task on a stored table and by a Catalyst
    predicate otherwise; NULL-filter blocks never skip, false positives
    only decode an extra block, false negatives cannot happen.  Same
    residual-predicate contract as ``key_range``; both may be combined.
    """
    stored = _stored_source(blocks, key_range)
    schema, decode = _block_decoder(
        blocks, stored, schema, verify_crc, columns, validate_maps
    )
    if columns is not None:
        known = {f.name for f in schema.fields}
        missing = set(columns) - known
        if missing:
            raise ValueError(
                f"decode_df: unknown columns {sorted(missing)}; "
                f"blocks contain {sorted(known)}"
            )
        schema = type(schema)([f for f in schema.fields if f.name in set(columns)])
    return _map_blocks(blocks, stored, decode, schema, key_range, key_equals)
