"""Cuckoo filter — the second URL-seen structure the north rule names
("bloom/cuckoo"). Complements the Bloom filter (operators/bloom.py):

- supports DELETION (a bloom cannot): lets a long-running frontier expire
  per-session seen entries when a session is dropped, without rebuilding,
- better space at low fpp and bounded 2-bucket lookups.

Same correctness contract as the bloom (SURVEY.md §7b): a PREFILTER only.
`might_contain` has no false negatives for inserted-and-not-deleted keys;
positives route through the exact anti-join. Deletion of a never-inserted
key is forbidden (standard cuckoo-filter caveat) — the engine only deletes
keys it previously inserted (session teardown).

Implementation: partial-key cuckoo filter (Fan et al., CoNEXT'14 — public
algorithm): buckets of 4 x 16-bit fingerprints, alternate bucket =
bucket XOR hash(fingerprint), bounded eviction kicks. Vectorized numpy
lookups for batch membership; insertion is per-key. The driver-held and
sharded deployments live in operators/seen.py.

Key derivation uses Spark's xxhash64 (numpy twin in functions/hashes.py):
g = xxhash64(h); fingerprint = low 16 bits of g (0 -> 1); bucket 1 =
(g >>> 16) mod n_buckets; bucket 2 = bucket 1 XOR xxhash64(fingerprint as
bigint), mod n_buckets. A bucket's four fingerprints are one little-endian
64-bit word, so ``contains`` probes natively. Blobs carry a format tag,
as the bloom's do.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.hashes import xxhash64_long

_EMPTY = 0  # fingerprints are forced nonzero
_KICKS = 500


class CuckooFilter:
    kind = "cuckoo"
    deletable = True
    MAGIC = b"DWSCKO02"  # blob format tag: xxhash64-derived fingerprints/buckets

    def __init__(self, n_buckets: int, bucket_size: int = 4,
                 table: np.ndarray | None = None):
        # power-of-two bucket count so XOR-partial-key stays in range
        self.n_buckets = 1 << int(n_buckets - 1).bit_length()
        self.bucket_size = bucket_size
        self.table = table if table is not None else np.zeros(
            (self.n_buckets, bucket_size), dtype=np.uint16)

    @classmethod
    def for_capacity(cls, expected_insertions: int, load: float = 0.84) -> "CuckooFilter":
        need = max(int(expected_insertions / load / 4) + 1, 2)
        return cls(need)

    # -- key -> (fingerprint, bucket1) ----------------------------------
    def _fp_and_index(self, hashes: np.ndarray):
        g = xxhash64_long(hashes)
        fp = (g & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == _EMPTY, np.uint16(1), fp)
        i1 = ((g >> np.uint64(16)) % np.uint64(self.n_buckets)).astype(np.int64)
        return fp, i1

    def _alt_index(self, i: np.ndarray | int, fp: np.ndarray | int):
        return (np.asarray(i, dtype=np.uint64)
                ^ xxhash64_long(np.asarray(fp, dtype=np.int64))) % np.uint64(self.n_buckets)

    def contains(self, h: Column, words: Column) -> Column:
        """Native might-contain of the bigint column ``h`` against
        ``words`` (this filter's ``words()`` as an array<bigint>)."""
        assert self.bucket_size == 4, "one 64-bit word per bucket"
        mask = self.n_buckets - 1  # power of two: mod == AND
        g = F.xxhash64(h)
        low = g.bitwiseAND(0xFFFF)
        fp = F.when(low == _EMPTY, F.lit(1).cast("bigint")).otherwise(low)
        i1 = F.shiftrightunsigned(g, 16).bitwiseAND(mask)
        i2 = i1.bitwiseXOR(F.xxhash64(fp)).bitwiseAND(mask)
        hit = None
        for i in (i1, i2):
            word = F.element_at(words, i.cast("int") + 1)
            for j in range(4):
                lane = F.shiftrightunsigned(word, 16 * j).bitwiseAND(0xFFFF) == fp
                hit = lane if hit is None else hit | lane
        return hit

    def words(self) -> np.ndarray:
        """One little-endian int64 word per bucket; slot j is bits 16j..16j+15."""
        return np.ascontiguousarray(self.table, dtype="<u2").view("<i8").reshape(-1)

    # -- mutation ------------------------------------------------------
    def add_many(self, hashes: np.ndarray) -> int:
        """Bulk insert: fingerprints and bucket indexes are computed
        VECTORIZED up front (a numpy call per key would dominate at
        frontier batch sizes); only the placement —
        inherently sequential, since each insert changes occupancy —
        walks a python loop over plain ints."""
        hv = np.asarray(hashes, dtype=np.int64)
        if len(hv) == 0:
            return 0
        fps, i1s = self._fp_and_index(hv)
        i2s = self._alt_index(i1s, fps).astype(np.int64)
        table, bsize = self.table, self.bucket_size
        ok = 0
        for fp, i1, i2 in zip(fps.tolist(), i1s.tolist(), i2s.tolist()):
            placed = False
            for i in (i1, i2):
                row = table[i]
                for j in range(bsize):
                    if row[j] == _EMPTY:
                        row[j] = fp
                        placed = True
                        ok += 1
                        break
                if placed:
                    break
            if not placed:
                # rare path: fall back to the kicking insert
                ok += bool(self._insert_with_kicks(fp, i1, i2))
        return ok

    def _insert_with_kicks(self, fp: int, i1: int, i2: int) -> bool:
        rng = np.random.default_rng(fp)
        i = i1 if rng.integers(2) else i2
        for _ in range(_KICKS):
            j = int(rng.integers(self.bucket_size))
            fp, self.table[i, j] = int(self.table[i, j]), fp
            i = int(self._alt_index(i, fp))
            slot = np.argwhere(self.table[i] == _EMPTY)
            if len(slot):
                self.table[i, slot[0][0]] = fp
                return True
        return False  # table too full — caller should resize

    def delete_many(self, hashes: np.ndarray) -> int:
        """Bulk delete — THE operation the bloom cannot do, and the reason
        the engine's recrawl eviction (CrawlEngine.evict_for_recrawl)
        requires seen_filter="cuckoo": over an infinite crawl with TTL
        recrawl the LIVE seen set is bounded, so a cuckoo sized for live
        keys runs forever, while a bloom only accumulates dead fingerprints
        until its fpp collapses the prefilter. Only delete keys previously
        inserted (standard cuckoo caveat); returns #found-and-removed."""
        hv = np.asarray(hashes, dtype=np.int64)
        return sum(self.delete(int(h)) for h in hv)

    @property
    def occupancy(self) -> int:
        """Number of stored fingerprints (monitoring / tests)."""
        return int((self.table != _EMPTY).sum())

    def delete(self, h: int) -> bool:
        fp, i1 = self._fp_and_index(np.array([h], dtype=np.int64))
        fp, i1 = int(fp[0]), int(i1[0])
        for i in (i1, int(self._alt_index(i1, fp))):
            slot = np.argwhere(self.table[i] == fp)
            if len(slot):
                self.table[i, slot[0][0]] = _EMPTY
                return True
        return False

    # -- vectorized membership -------------------------------------------
    def might_contain_many(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1 = self._fp_and_index(np.asarray(hashes, dtype=np.int64))
        i2 = self._alt_index(i1, fp).astype(np.int64)
        in1 = (self.table[i1] == fp[:, None]).any(axis=1)
        in2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return in1 | in2

    # -- serde -------------------------------------------------------------
    def to_bytes(self) -> bytes:
        head = (self.MAGIC + self.n_buckets.to_bytes(8, "little")
                + self.bucket_size.to_bytes(4, "little"))
        return head + self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CuckooFilter":
        if not data.startswith(cls.MAGIC):
            raise ValueError("cuckoo blob has no format tag (older positions)")
        data = data[len(cls.MAGIC):]
        n_buckets = int.from_bytes(data[:8], "little")
        bucket_size = int.from_bytes(data[8:12], "little")
        table = np.frombuffer(data[12:], dtype=np.uint16).reshape(n_buckets, bucket_size).copy()
        return cls(n_buckets, bucket_size, table)
