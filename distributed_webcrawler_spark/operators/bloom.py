"""Distributed Bloom filter for the URL-seen set.

The reference *declares* a 10^7-insertion / fpp-0.01 bloom filter
(application.properties:33-34, architecture.md §URL registry) but ships an
exact Redis SET (URLFrontier.java:74) — SURVEY.md §1.1. This module
implements the declared design the Spark way:

- a numpy bitarray build over the url_hash column (``add_many``),
- double hashing h_i = h1 + i*h2 (Kirsch-Mitzenmacher) with h1, h2 taken
  from Spark's own xxhash64 of the already computed url_hash (and of that
  hash again), so membership tests are pure int math that a native Column
  expression (``contains``) and the numpy kernels compute identically.

Blobs start with a format tag. An untagged blob was written with the
former splitmix positions; ``from_bytes`` refuses it, because probing it
with the current positions would answer "absent" for keys it holds.

CORRECTNESS CONTRACT (SURVEY.md §7b): the bloom is ONLY a prefilter. A
candidate that misses the bloom is *definitely new* and skips the exact
anti-join; a candidate that hits may be a false positive and MUST go
through the authoritative full-string anti-join. No URL can be dropped by
a bloom false positive, and bloom false negatives are impossible.

Scale: at 10^10 URLs / fpp 0.01 the bits are ~12 GB — too big for one
filter; operators/seen.py shards it by host_bucket (one filter per shard,
built and updated executor-side). The API takes n/fpp so tests exercise
the same code at small n.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.hashes import xxhash64_long, xxhash64_long_inplace


_CHUNK = 1 << 18  # insert-kernel chunk: position buffer = 256k x k x 8B (~14MB at k=7)


class BloomFilter:
    kind = "bloom"
    deletable = False  # a bit may be shared by several keys
    MAGIC = b"DWSBLM02"  # blob format tag: xxhash64-derived positions

    # class-level scratch, keyed by (n_bits, n_hashes): the insert kernel's
    # working buffers are faulted ONCE per process and reused across calls,
    # instances, and (in reused Python UDF workers) across tasks. Fresh
    # multi-hundred-MB numpy temporaries per call would re-pay soft page
    # faults every round — ~400us/page on virtualized hosts (measured 23s
    # vs 0.1s for one 224MB temporary on this sandbox).
    _scratch: dict = {}

    def __init__(self, n_bits: int, n_hashes: int, bits: np.ndarray | None = None):
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        # whole 64-bit words, so the native probe can read the bits as bigints
        self.bits = bits if bits is not None else np.zeros(8 * ((n_bits + 63) // 64),
                                                           dtype=np.uint8)

    @classmethod
    def for_capacity(cls, expected_insertions: int, fpp: float) -> "BloomFilter":
        n = max(expected_insertions, 1)
        m = max(8, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2)))
        return cls(m, k)

    # -- positions ------------------------------------------------------
    # g1 = xxhash64(h), g2 = xxhash64(g1) (Spark's, seed 42);
    # h1 = (g1 >>> 1) mod m, h2 = 1 + (g2 >>> 1) mod (m - 1);
    # position i = (h1 + i*h2) mod m. Every intermediate is below k*m, so
    # the native form never overflows ANSI bigint arithmetic.
    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        """(n,) int64 -> (n, k) bit positions (numpy twin of ``contains``)."""
        m = np.uint64(self.n_bits)
        g1 = xxhash64_long(hashes)
        h1 = (g1 >> np.uint64(1)) % m
        h2 = (xxhash64_long(g1.view(np.int64)) >> np.uint64(1)) % (m - np.uint64(1)) + np.uint64(1)
        i = np.arange(self.n_hashes, dtype=np.uint64)
        return ((h1[:, None] + i[None, :] * h2[:, None]) % m).astype(np.int64)

    def contains(self, h: Column, words: Column) -> Column:
        """Native might-contain of the bigint column ``h`` against
        ``words`` (this filter's ``words()`` as an array<bigint>)."""
        m = self.n_bits
        g1 = F.xxhash64(h)
        h1 = F.pmod(F.shiftrightunsigned(g1, 1), F.lit(m))
        h2 = F.pmod(F.shiftrightunsigned(F.xxhash64(g1), 1), F.lit(m - 1)) + 1
        hit = None
        for i in range(self.n_hashes):
            p = (h1 + h2 * i) % m
            word = F.element_at(words, F.shiftright(p, 6).cast("int") + 1)
            bit = F.call_function("shiftright", word, p.bitwiseAND(63).cast("int")).bitwiseAND(1) == 1
            hit = bit if hit is None else hit & bit
        return hit

    def words(self) -> np.ndarray:
        """The bits as little-endian int64 words: bit p is bit p % 64 of word p // 64."""
        return self.bits.view("<i8")

    def _bufs(self) -> dict:
        key = (self.n_bits, self.n_hashes)
        b = BloomFilter._scratch.get(key)
        if b is None:
            # single-slot cache: the dense bool array is n_bits BYTES (~96MB
            # at the 1e7/0.01 default) and reused Python UDF workers live for
            # the whole app — keeping one entry per (n_bits, n_hashes) would
            # pin gigabytes of RSS across tens of workers
            BloomFilter._scratch.clear()
            b = {
                "h": np.empty(_CHUNK, dtype=np.uint64),
                "t": np.empty(_CHUNK, dtype=np.uint64),
                "h1": np.empty(_CHUNK, dtype=np.uint64),
                "pos": np.empty((_CHUNK, self.n_hashes), dtype=np.uint64),
                "i": np.arange(self.n_hashes, dtype=np.uint64),
                "dense": (np.zeros(self.n_bits, dtype=bool)
                          if self.n_bits <= (1 << 31) else None),
            }
            BloomFilter._scratch[key] = b
        return b

    def add_many(self, hashes: np.ndarray) -> int:
        """Chunked, buffer-reusing insert. Positions are computed in-place
        into class-level scratch (see _scratch note) and scattered into a
        reusable dense boolean array, then packbits-OR'd into the bits —
        boolean scatter-assign tolerates duplicates, so there is no
        read-modify-write hazard, and it is ~90x faster than
        np.bitwise_or.at (an unbuffered ufunc, ~0.3M positions/s). Filters
        >256MB of bits (none at our shard sizes — the 10^10 tier shards by
        host_bucket) fall back to the ufunc per chunk. Returns the number
        of keys placed — always all of them, unlike a full cuckoo."""
        n = len(hashes)
        if n == 0:
            return 0
        b = self._bufs()
        dense = b["dense"]
        nb = np.uint64(self.n_bits)
        src = hashes.view(np.uint64) if hashes.dtype == np.int64 else hashes.astype(np.uint64)
        if dense is not None:
            dense[:] = False
        for s in range(0, n, _CHUNK):
            e = min(s + _CHUNK, n)
            m = e - s
            h, t, h1 = b["h"][:m], b["t"][:m], b["h1"][:m]
            pos = b["pos"][:m]
            h[:] = src[s:e]
            xxhash64_long_inplace(h, t)      # h = g1
            np.right_shift(h, np.uint64(1), out=h1)
            np.mod(h1, nb, out=h1)           # h1
            xxhash64_long_inplace(h, t)      # h = g2
            h >>= np.uint64(1)
            np.mod(h, nb - np.uint64(1), out=h)
            h += np.uint64(1)                # h = h2
            np.multiply(h[:, None], b["i"][None, :], out=pos)
            pos += h1[:, None]
            np.mod(pos, nb, out=pos)
            flat = pos.reshape(-1)
            if dense is not None:
                dense[flat] = True
            else:
                np.bitwise_or.at(self.bits, (flat >> np.uint64(3)).astype(np.int64),
                                 (np.uint64(1) << (flat & np.uint64(7))).astype(np.uint8))
        if dense is not None:
            packed = np.packbits(dense, bitorder="little")
            np.bitwise_or(self.bits[: packed.size], packed, out=self.bits[: packed.size])
        return n

    def might_contain_many(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(hashes)
        present = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return present.all(axis=1)

    # -- (de)serialization for checkpoint manifests ---------------------
    def header(self) -> bytes:
        """Format tag and shape: a blob's first bytes."""
        return self.MAGIC + self.n_bits.to_bytes(8, "little") + self.n_hashes.to_bytes(4, "little")

    def to_bytes(self) -> bytes:
        return self.header() + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        if not data.startswith(cls.MAGIC):
            raise ValueError("bloom blob has no format tag (older positions)")
        data = data[len(cls.MAGIC):]
        n_bits = int.from_bytes(data[:8], "little")
        n_hashes = int.from_bytes(data[8:12], "little")
        return cls(n_bits, n_hashes, np.frombuffer(data[12:], dtype=np.uint8).copy())

