"""The benchmark's workloads.

Each workload owns a seeded input, materialized without Spark when the
workload is built, and two steps:

* ``run_pass`` — one closed-loop pass into the noop sink, timed by a
  :class:`Lap` per operation;
* ``check`` — correctness checks after the timed passes, feeding the
  tally, plus the stored-bytes figures and the block ``meta`` census.
"""

from __future__ import annotations

import json
import time

import numpy as np
import pyarrow.parquet as pq

from . import inputs
from .checks import bound_violations, digest_matches, frames_match, spark_digest
from .proctree import cpu_by_kind, cpu_delta

QUERY_NAMES = (
    "roundtrip_lineitem", "roundtrip_documents", "roundtrip_embeddings",
    "rechunk_blocks", "minhash_lsh_md5", "lsh_ann_exhaustive", "v2_upgrade_roundtrip",
)
PROJECTED = ["doc_id", "n_tok", "source"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Lap:
    """Times the operations of one pass: wall seconds and process-tree CPU
    by kind per operation, each inside a span of the tracer."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.wall: dict[str, float] = {}
        self.cpu: dict[str, dict[str, float]] = {}

    def time(self, name: str, fn) -> None:
        with self.tracer.span(name) as rec:
            c0, t0 = cpu_by_kind(), time.perf_counter()
            fn()
            self.wall[name] = time.perf_counter() - t0
            self.cpu[name] = cpu_delta(c0, cpu_by_kind())
            rec["cpu"] = self.cpu[name]


def _stored_bytes(rows) -> dict:
    metas = [r["meta"] for r in rows]
    return {
        "blocks": len(rows),
        "rows": sum(r["n_rows"] for r in rows),
        "enc": sum(r["enc_bytes"] for r in rows),
        "zebra": sum(r["zebra_bytes"] for r in rows),
        "raw": sum(r["raw_bytes"] for r in rows),
        "metas": metas,
    }


def _check_bounds(stored: dict, tally, what: str) -> None:
    bad = bound_violations(stored["metas"])
    bad_blocks = {b.split(":", 1)[0] for b in bad}
    for i in range(stored["blocks"]):
        tally.record(str(i) not in bad_blocks, f"{what} block {i} payload <= zebra per column")


_META_COLS = ("n_rows", "raw_bytes", "enc_bytes", "zebra_bytes", "meta")


def pick_key_range(f1_dir, seed: int) -> tuple[str, str]:
    """A seeded ~1% doc_id interval of the input, as (lo, hi) inclusive."""
    ids = np.sort(np.concatenate([
        pq.read_table(f, columns=["doc_id"]).column(0).to_numpy(zero_copy_only=False)
        for f in inputs.f1_split_files(f1_dir)
    ]))
    width = max(1, len(ids) // 100)
    start = int(np.random.default_rng([seed, 1]).integers(0, len(ids) - width + 1))
    return str(ids[start]), str(ids[start + width - 1])


def in_range(key_range):
    from pyspark.sql import functions as F

    return F.col("doc_id").between(*key_range)


def input_digests(spark, f1_dir, key_range) -> dict:
    """Digests of the F1 input as the three reads see it: all columns, the
    projection, and the rows of the key range.  Cached beside the input."""
    path = f1_dir / "_digests.json"  # "_" keeps Spark from reading it as data
    if path.exists():
        cached = json.loads(path.read_text())
        if cached["key_range"] == list(key_range):
            return cached
    from pyspark.sql import functions as F

    src = spark.read.parquet(str(f1_dir))
    full = F.xxhash64(*src.columns).cast("decimal(38,0)")
    hit = in_range(key_range)
    row = src.agg(  # one scan for the three digests, as spark_digest computes each
        F.count(F.lit(1)), F.sum(full),
        F.sum(F.xxhash64(*PROJECTED).cast("decimal(38,0)")),
        F.count(F.when(hit, 1)), F.sum(F.when(hit, full)),
    ).collect()[0]
    n, h_full, h_proj, n_range, h_range = (int(v or 0) for v in row)
    out = {"key_range": list(key_range), "full": [n, h_full], "projected": [n, h_proj],
           "range": [n_range, h_range]}
    path.write_text(json.dumps(out))
    return out


class TokensWrite:
    """F1 natural order, encoded with ``encode_parquet_direct``."""

    name = "tokens_write"

    def __init__(self, seed: int, size: str):
        self.f1_dir, self.input = inputs.ensure_f1(seed, size)
        self.tokens = self.input["tokens"]

    def run_pass(self, spark, lap: Lap) -> None:
        from zebra_spark.sources.parquet_direct import encode_parquet_direct

        lap.time("encode", lambda: noop(encode_parquet_direct(spark, str(self.f1_dir))))

    def check(self, spark, tally) -> dict:
        """Encode once more, collect every block, and decode each split's
        blocks with the blocks layer: the rows must equal that input split
        exactly (stronger than an order-independent digest)."""
        import pyarrow as pa
        from zebra_spark.codec.blocks import decode_batch
        from zebra_spark.sources.parquet_direct import encode_parquet_direct

        rows = encode_parquet_direct(spark, str(self.f1_dir)).select(
            "block_id", "schema_id", "schema", "payload", *_META_COLS).toArrow().to_pylist()
        stored = _stored_bytes(rows)
        tally.record(stored["rows"] == self.input["rows"], "encoded row count")
        _check_bounds(stored, tally, "encoded")
        schemas = {r["schema_id"]: pa.ipc.read_schema(pa.py_buffer(r["schema"]))
                   for r in rows if r["schema"] is not None}
        by_split: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: r["block_id"]):  # block_id = "<file>:<rg>-<seq>"
            by_split.setdefault(r["block_id"].rsplit(":", 1)[0], []).append(r)
        for f in inputs.f1_split_files(self.f1_dir):
            def same():
                blocks = by_split.get(f.name, [])
                got = pa.Table.from_batches(
                    [decode_batch(r["payload"], schemas[r["schema_id"]]) for r in blocks])
                return got.equals(pq.read_table(f))
            tally.check(f"{f.name} decodes to its input", same)
        return stored

    def blocks_read(self, spark, stored) -> tuple[int, int]:
        """Blocks a pass reads and skips (an encode reads none)."""
        return 0, 0


class TokensRead:
    """F1 sorted by doc_id, stored as a blocks table; three reads a pass."""

    name = "tokens_read"

    def __init__(self, seed: int, size: str):
        self.f1_dir, self.input = inputs.ensure_f1(seed, size)
        self.tokens = self.input["tokens"]
        self.key_range = pick_key_range(self.f1_dir, seed)
        self.blocks_dir = str(inputs.ensure_blocks(seed, size))

    def reads(self, spark) -> dict:
        from zebra_spark.operators.decode import decode_df

        blocks = spark.read.parquet(self.blocks_dir)
        return {
            "full": lambda: decode_df(blocks, resolve_schemas=True),
            "projected": lambda: decode_df(blocks, columns=PROJECTED, resolve_schemas=True),
            "range": lambda: decode_df(blocks, key_range=self.key_range, resolve_schemas=True)
            .filter(in_range(self.key_range)),
        }

    def run_pass(self, spark, lap: Lap) -> None:
        for name, read in self.reads(spark).items():
            lap.time(name, lambda: noop(read()))

    def check(self, spark, tally) -> dict:
        expected = input_digests(spark, self.f1_dir, self.key_range)
        for name, read in self.reads(spark).items():
            tally.check(f"{name} read digest == input digest",
                        lambda: digest_matches(expected[name], spark_digest(read())))
        blocks = spark.read.parquet(self.blocks_dir)
        stored = _stored_bytes(blocks.select(*_META_COLS).collect())
        tally.record(stored["rows"] == self.input["rows"], "stored row count")
        _check_bounds(stored, tally, "stored")
        return stored

    def blocks_read(self, spark, stored) -> tuple[int, int]:
        """Blocks a pass decodes (full + projected + range) and the blocks
        the range read skips by zone map."""
        from zebra_spark.operators.decode import zone_map_filter

        kept = zone_map_filter(spark.read.parquet(self.blocks_dir), self.key_range).count()
        return 2 * stored["blocks"] + kept, stored["blocks"] - kept


class DriverQueries:
    """A fixed set of ``__spark_entry__.queries()`` on the fixed sf test
    tables, each checked against its ``oracle_sql()`` on DuckDB.  The seed
    is recorded but does not change the tables."""

    name = "driver_queries"
    ENCODED_TABLES = ("lineitem", "documents", "embeddings")

    def __init__(self, seed: int, size: str):
        import __spark_entry__

        self.dir, self.input = inputs.sf_tables(size)
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def oracle_frames(self) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{inputs.WORK / 'tmp'}'")
            for t in inputs.SF_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir / t}.parquet')")
            return {n: con.execute(self.oracles[n]).fetchdf() for n in QUERY_NAMES}
        finally:
            con.close()

    def run_pass(self, spark, lap: Lap) -> None:
        for n in QUERY_NAMES:
            lap.time(f"queries.{n}", lambda: noop(self.queries[n](spark, str(self.dir))))

    def check_results(self, spark, tally) -> None:
        expected = self.oracle_frames()
        for n in QUERY_NAMES:
            tally.check(f"query {n} == oracle",
                        lambda: frames_match(self.queries[n](spark, str(self.dir)).toPandas(), expected[n]))

    def check(self, spark, tally) -> dict:
        from zebra_spark.operators.encode import encode_df

        self.check_results(spark, tally)
        rows = []
        for t in self.ENCODED_TABLES:
            df = spark.read.parquet(f"{self.dir / t}.parquet")
            rows += encode_df(df).select(*_META_COLS).collect()
        stored = _stored_bytes(rows)
        _check_bounds(stored, tally, "encoded")
        return stored

    def blocks_read(self, spark, stored) -> tuple[int, int]:
        """Blocks the round-trip queries decode: those the check encoded."""
        return stored["blocks"], 0


WORKLOADS = {w.name: w for w in (TokensWrite, TokensRead, DriverQueries)}

