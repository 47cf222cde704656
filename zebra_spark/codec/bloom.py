"""Per-block key Bloom filters: point-lookup block skipping.

Zone maps (key_min/key_max) skip blocks for RANGE predicates on sorted or
clustered layouts; on an unsorted layout every block's range covers the
whole key domain and nothing skips.  A small per-block Bloom filter over
the key column serves the complementary access path — "find the rows for
THIS key" — with no layout assumption: at 100 TB a point lookup touches
only the blocks whose filter might contain the key, independent of row
order.

Design constraints drive the encoding:

* the filter rides the blocks table as ``array<bigint>`` words (not
  binary) so the MEMBERSHIP TEST is a pure Catalyst expression — the k
  probe hashes are driver-side constants of the lookup value, and the
  per-block bit tests compile to ``element_at`` + bit masks inside
  whole-stage codegen.  No UDF runs; skipped blocks never reach python.
* hashes are a splitmix64-style double hash (public-domain mixing
  constants, Steele et al. "Fast Splittable Pseudorandom Number
  Generators", OOPSLA'14): h_i = h1 + i*h2 mod m.  Both sides — the
  vectorized numpy builder here and the Spark SQL probe — use the SAME
  arithmetic, kept below 2^61 so ANSI-mode BIGINT addition cannot
  overflow.
* m scales with the block's key count (BITS_PER_KEY), so the false-skip
  rate is flat across block sizes; K=4 probes at 8 bits/key give ~2.4%
  false positives — a false positive only costs decoding one extra block.

Builder input is int64 keys; string keys hash to int64 via the first 8
bytes of md5 (matching ``string_key_to_int64`` on the probe side).
"""

from __future__ import annotations

import hashlib

import numpy as np

BITS_PER_KEY = 8
K_HASHES = 4
# splitmix64 mixing constants (public domain)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
# keep probe hashes < 2^60 so h1 + 3*h2 stays far below the int64 ANSI
# overflow line in the SQL probe
_HASH_MASK = np.uint64((1 << 60) - 1)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + _GOLDEN).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= _MIX1
    x ^= x >> np.uint64(27)
    x *= _MIX2
    x ^= x >> np.uint64(31)
    return x


def _h1_h2(keys_u64: np.ndarray):
    h1 = _splitmix64(keys_u64) & _HASH_MASK
    h2 = (_splitmix64(keys_u64 ^ _GOLDEN) & _HASH_MASK) | np.uint64(1)
    return h1, h2


def string_key_to_int64(s: str | bytes) -> int:
    """Stable string->int64 key hash (md5 head), signed-int64 range."""
    b = s.encode() if isinstance(s, str) else bytes(s)
    return int.from_bytes(hashlib.md5(b).digest()[:8], "little", signed=True)


def bloom_words(n_keys: int) -> int:
    """Filter size in 64-bit words for ``n_keys`` (>= 1 word)."""
    return max(1, (n_keys * BITS_PER_KEY + 63) // 64)


def bloom_build(keys: np.ndarray) -> np.ndarray:
    """Bloom filter words (uint64[bloom_words(n)]) over int64 keys."""
    keys = np.asarray(keys, dtype=np.int64)
    words = bloom_words(len(keys))
    m = np.uint64(words * 64)
    bits = np.zeros(words * 64, dtype=bool)
    h1, h2 = _h1_h2(keys.view(np.uint64))
    for i in range(K_HASHES):
        bits[((h1 + np.uint64(i) * h2) % m).astype(np.int64)] = True
    return np.packbits(bits.reshape(words, 64), axis=1, bitorder="little").view(
        "<u8"
    ).reshape(words)


def probe_hashes(value) -> tuple[int, int]:
    """(h1, h2) for one lookup value — the driver-side constants the SQL
    membership test embeds.  ``value``: int, or str/bytes (hashed via
    string_key_to_int64 first, matching the builder)."""
    if isinstance(value, (str, bytes)):
        value = string_key_to_int64(value)
    arr = np.array([value], dtype=np.int64).view(np.uint64)
    h1, h2 = _h1_h2(arr)
    return int(h1[0]), int(h2[0])


def bloom_might_contain_expr(bloom_col, value):
    """Catalyst predicate: does ``bloom_col`` (array<bigint> words, or
    NULL = no filter) possibly contain ``value``?  NULL filters return
    True (nothing is known, cannot skip).  Pure codegen: k constant-hash
    probes, per-row modulo by the block's own filter size."""
    from pyspark.sql import functions as F

    h1, h2 = probe_hashes(value)
    m = F.size(bloom_col) * F.lit(64)
    cond = F.lit(True)
    for i in range(K_HASHES):
        pos = F.pmod(F.lit(h1 + i * h2), m.cast("long"))
        word = F.get(bloom_col, (pos / 64).cast("int"))  # 0-based index
        # shiftleft via call_function: the F.shiftleft wrapper only takes
        # a literal python int for numBits
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
        )
        cond = cond & (word.bitwiseAND(bit) != 0)
    return bloom_col.isNull() | cond


def bloom_contains(words: np.ndarray, value) -> bool:
    """Python-side membership check, the numpy twin of
    ``bloom_might_contain_expr``: stored-table point lookups probe each
    block's filter with it.  ``words``: uint64 words, or the int64 words
    the blocks table stores as ``array<bigint>``."""
    if isinstance(value, (str, bytes)):
        value = string_key_to_int64(value)
    words = np.asarray(words)
    if words.dtype == np.int64:
        words = words.view(np.uint64)
    words = words.astype(np.uint64, copy=False)
    m = np.uint64(len(words) * 64)
    arr = np.array([value], dtype=np.int64).view(np.uint64)
    h1, h2 = _h1_h2(arr)
    for i in range(K_HASHES):
        pos = int((h1[0] + np.uint64(i) * h2[0]) % m)
        if not (int(words[pos // 64]) >> (pos % 64)) & 1:
            return False
    return True
