"""One-time per-process codec warmup (numpy SIMD loops only).

Some JIT/binary-translation environments compile each numpy SIMD inner
loop on its first *large-array* execution — a one-off multi-second cost
per process that would otherwise land inside the first encoded block of
every Spark python worker.  Warming explicitly makes the cost
deterministic and keeps steady-state throughput measurements clean
(BASELINE.md protocol excludes one warm-up run).

Tiny arrays do NOT warm the SIMD paths (numpy falls back to scalar loops
below a size threshold), so the warmup uses ~200k-element arrays.

No engine task body calls it: measured at 0.05 CPU-s a process, with
no effect on the first ``encode_batch``; the benchmark tools still do.
The fixed per-task cost of a Python worker is a separate matter, handled
once per worker process when the package is imported
(``zebra_spark/worker_boot.py``).
"""

from __future__ import annotations

import numpy as np

_done = False


def warm_codec() -> None:
    global _done
    if _done:
        return
    _done = True
    from .codecs import (
        decode_ints,
        decode_strings,
        encode_ints,
        encode_strings,
    )

    n = 200_000
    rng = np.random.default_rng(0)
    for vals in (
        rng.integers(0, 50257, size=n).astype(np.int64),  # zebra path
        np.repeat(rng.integers(0, 8, size=n // 100), 100)[:n],  # rle/dict
        np.cumsum(rng.integers(0, 3, size=n)).astype(np.int64),  # delta
        rng.normal(size=n).view(np.int64),  # wide values
    ):
        c, p, _ = encode_ints(vals)
        decode_ints(c, p, len(vals))
    strings = [b"warm-%d" % (i % 1000) for i in range(20_000)]
    lengths = np.array([len(s) for s in strings], dtype=np.int64)
    c, p, _ = encode_strings(lengths, b"".join(strings))
    decode_strings(c, p, len(strings))
