"""Distributed block verification: audit an encoded dataset in place.

The operational complement of the round-trip law: at 100 TB you cannot
diff decoded output against the source every day, but you CAN stream an
audit pass that, per block, (a) checks the stored crc32, (b) decodes the
payload, (c) re-encodes the decoded batch under the ``speed`` policy,
the cheapest menu (an encode is a function of the block values and the
policy alone), and confirms the re-encode decodes BIT-identically —
compared via IPC bytes, so NaN payload bits and signed zeros are held to
the same bit-exact standard as the round-trip tests.
Byte equality of the payloads is kept as the cheap fast path.

Scope (what the law can and cannot catch): crc_ok catches storage
corruption; decode_ok catches payloads the current decoder rejects;
reencode_ok catches ENCODE-side regressions and encode/decode
inconsistency on live data.  A decode-side regression that is
self-consistent (wrong values that re-encode back to themselves) is
invisible here by construction — that class is covered by the
source-diff round-trip tests and tools/check_correctness.py, not by an
in-place audit.  One row out per block; no shuffle.  Block rows come
from the reader ``decode_df`` uses (``decode._map_blocks``): a bare
stored table is audited in Python tasks straight from its parquet row
groups, with no JVM scan of its payloads.

Reference analogue: `zebra consistency` / the round-trip laws of
Test.Zebra.Serial.Binary run as a batch job instead of a test suite.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from ..codec.arrowbuf import batch
from ..codec.blocks import decode_batch, encode_batch
from .decode import _block_rows, _map_blocks, _stored_source


def _ipc_bytes(rb: pa.RecordBatch) -> bytes:
    """Canonical IPC serialization for bit-exact batch comparison.

    Both sides come from ``decode_batch`` (same construction path, zero
    buffer offsets), so equal IPC bytes <=> bit-identical content —
    unlike ``RecordBatch.equals``, which treats NaN != NaN and would
    false-alarm on any NaN-bearing float block whose re-encode differs
    bytewise from the stored payload."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, rb.schema) as writer:
        writer.write_batch(rb)
    return sink.getvalue().to_pybytes()

_VERIFY_SCHEMA = pa.schema(
    [
        ("block_id", pa.string()),
        ("n_rows", pa.int64()),
        ("crc_ok", pa.bool_()),
        ("decode_ok", pa.bool_()),
        ("reencode_ok", pa.bool_()),
        ("error", pa.string()),
    ]
)


def verify_blocks(blocks: DataFrame, check_reencode: bool = True) -> DataFrame:
    """Audit every block; returns one status row per block.

    A fully healthy dataset returns all-true flags and null errors;
    ``filter(~crc_ok | ~decode_ok)`` is the operational alarm query.
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        report = []
        for block_id, n_rows, payload, crc, schema_of in _block_rows(batches):
            crc_ok = crc is None or zlib.crc32(payload) == crc
            decode_ok = False
            reenc = None
            err = None
            if crc_ok:
                try:
                    schema = schema_of()
                    decoded = decode_batch(payload, schema)
                    decode_ok = n_rows is None or decoded.num_rows == n_rows
                    if check_reencode:
                        re_payload, _ = encode_batch(decoded, "speed")
                        # byte equality = fast path; otherwise the
                        # re-encode must decode bit-identically
                        reenc = re_payload == payload or _ipc_bytes(
                            decode_batch(re_payload, schema)
                        ) == _ipc_bytes(decoded)
                except Exception as e:  # audit job must not die per block
                    err = f"{type(e).__name__}: {e}"[:300]
            report.append(
                {
                    "block_id": block_id,
                    "n_rows": n_rows,
                    "crc_ok": crc_ok,
                    "decode_ok": decode_ok,
                    "reencode_ok": reenc,
                    "error": err,
                }
            )
        yield batch(
            _VERIFY_SCHEMA, {n: [r[n] for r in report] for n in _VERIFY_SCHEMA.names}
        )

    return _map_blocks(
        blocks, _stored_source(blocks), run, from_arrow_schema(_VERIFY_SCHEMA)
    )
