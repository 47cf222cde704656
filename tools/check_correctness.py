"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, when an ``oracle_sql()`` entry
exists, the oracle on DuckDB over the same parquet; compares row count,
column names, and an order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
(sf_dir defaults to $SPARK_GRAFT_SF_DIR, else the sf0.01 test tables).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = [
        "|".join(_norm(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    ]
    rows.sort()
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _norm(v) -> str:
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    try:
        import numpy as np

        if isinstance(v, np.ndarray):
            return "[" + ",".join(_norm(x) for x in v.tolist()) + "]"
        if isinstance(v, np.floating):
            return repr(float(v))
        if isinstance(v, np.integer):
            return str(int(v))
    except ImportError:
        pass
    return str(v)


def main():
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from zebra_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows={len(sdf)} (rows-only, {dt:.1f}s)")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append(f"hash {hs} vs {ho}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} ({dt:.1f}s)")
            failures.append(name)
            # show a tiny diff sample
            try:
                a = sdf[sorted(sdf.columns)].astype(str).apply("|".join, axis=1)
                b = odf[sorted(odf.columns)].astype(str).apply("|".join, axis=1)
                only_a = sorted(set(a) - set(b))[:3]
                only_b = sorted(set(b) - set(a))[:3]
                for r in only_a:
                    print(f"   spark-only: {r[:160]}")
                for r in only_b:
                    print(f"   oracle-only: {r[:160]}")
            except Exception:
                pass
        else:
            print(f"PASS {name}: rows={len(sdf)} hash match ({dt:.1f}s)")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
