"""Correctness checks behind ``failed``/``attempted`` and the byte metrics.

Every timed pass and every check below is one attempted operation; a pass
that raises, or a check whose output is wrong, is one failed operation.
"""

from __future__ import annotations

import hashlib
import json
import sys
import traceback
from collections import Counter

# codecs the encoder can emit (delta-v0 is decode-only) — the census keys
INT_CODECS = ("zebra", "constant", "rle", "dict", "pfor", "alp", "delta", "alp-rd", "zstd-bt")
STR_CODECS = ("zebra-snappy", "dict", "fsst", "zlib", "zstd", "fsst-zstd")
CENSUS_KEYS = tuple(f"int.{c}" for c in INT_CODECS) + tuple(f"str.{c}" for c in STR_CODECS)


class Tally:
    """Counts attempted and failed operations and keeps the failure reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    def check(self, what: str, fn, *args) -> bool:
        """One check: ``fn`` returns whether an output is right; raising
        counts as wrong (the traceback goes to stderr)."""
        try:
            ok = bool(fn(*args))
        except Exception:  # a broken output is a failed check, not a crash
            traceback.print_exc()
            ok = False
        return self.record(ok, what)

    def attempt(self, what: str, fn, *args, **kwargs):
        """Run ``fn``; an exception counts as one failed operation (the
        traceback goes to stderr) and returns None."""
        try:
            out = fn(*args, **kwargs)
        except Exception:  # a failing pass must not end the run
            traceback.print_exc()
            self.record(False, f"{what} raised")
            return None
        self.record(True, what)
        return out


def spark_digest(df) -> tuple[int, int]:
    """Order-independent digest of a DataFrame: (row count, exact sum of the
    per-row xxhash64 of every column).  Runs in the JVM, so the same function
    digests the parquet input and the decoded output."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def digest_matches(expected: tuple[int, int], got: tuple[int, int] | None) -> bool:
    return got is not None and tuple(got) == tuple(expected)


def bound_violations(metas: list[str]) -> list[str]:
    """Columns of blocks whose encoded bytes exceed zebra's bytes for the
    same column (the north-rule ``payload <= zebra`` law), as
    ``"<block index>:<column path>"``."""
    bad = []
    for i, m in enumerate(metas):
        for path, col in json.loads(m)["cols"].items():
            if col["bytes"] > col["zebra_bytes"]:
                bad.append(f"{i}:{path}")
    return bad


def codec_census(metas: list[str]) -> dict[str, int]:
    """How many (block, column) sections selected each codec, from block
    ``meta``.  Int sections carry ``n_runs``; string sections do not."""
    seen = Counter()
    for m in metas:
        for col in json.loads(m)["cols"].values():
            kind = "int" if "n_runs" in col else "str"
            seen[f"{kind}.{col['codec']}"] += 1
    out = {k: seen.pop(k, 0) for k in CENSUS_KEYS}
    out["other"] = sum(seen.values())
    return out


def _norm(v) -> str:
    import numpy as np

    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def frame_hash(pdf) -> str:
    """Order-insensitive hash of a pandas frame's values (columns by name)."""
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted("|".join(_norm(v) for v in row) for row in pdf.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def frames_match(got, want) -> bool:
    """Spark result vs oracle result: row count, column names and values."""
    return (
        len(got) == len(want)
        and sorted(got.columns) == sorted(want.columns)
        and frame_hash(got) == frame_hash(want)
    )

